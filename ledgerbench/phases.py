"""Extractor phase times, taken from outside the extractor.

``extract_html`` runs decode → ``flatten`` → ``classify_blocks`` →
``blocks_to_items`` → ``fix_header_levels`` → ``convert_kv_items`` →
``fix_section_table_order`` → ``fix_adjacent_tables`` → ``assemble``, and
``extract_payload`` adds ``detect_lang`` (rows without a language hint)
and the PDF path.  This module calls the same public functions in the
same order, times each, and checks that the sequence rebuilds the text
and spans ``extract_payload`` produced for every sampled page, so the
phase times describe the real path.
"""

from __future__ import annotations

import time

from document_extractor_spark.extractor import html_extract as hx
from document_extractor_spark.extractor.core import extract_payload
from document_extractor_spark.extractor.langid import detect_lang
from document_extractor_spark.extractor.pdf_extract import extract_pdf, is_pdf

PHASES = ("flatten", "classify", "items", "assemble", "langid", "pdf")
_SKIPPED_ERRORS = ("EmptyPayload", "BinaryPayload")


def _html_phases(payload: bytes, acc: dict):
    t0 = time.perf_counter()
    fl = hx.flatten(bytes(payload).decode("utf-8", errors="replace"))
    blocks = fl.blocks
    t1 = time.perf_counter()
    hx.classify_blocks(blocks)
    t2 = time.perf_counter()
    items = hx.blocks_to_items(blocks, emit_chrome=False)
    hx.fix_header_levels(items)
    items = hx.convert_kv_items(items)
    items = hx.fix_section_table_order(items)
    items = hx.fix_adjacent_tables(items)
    t3 = time.perf_counter()
    text, spans = hx.assemble(items)
    t4 = time.perf_counter()
    acc["flatten"] += t1 - t0
    acc["classify"] += t2 - t1
    acc["items"] += t3 - t2
    acc["assemble"] += t4 - t3
    return text, [{"start": s, "end": e, "type": t} for s, e, t in spans]


def measure(rows: list[dict]) -> dict:
    """``rows``: dicts with ``url``, ``html`` (bytes or None) and
    ``lang`` (hint or None).  Returns per-doc milliseconds for the bare
    ``extract_payload`` and for each phase, plus ``docs`` and
    ``mismatches`` (pages whose phase sequence did not rebuild the
    extractor's text and spans)."""
    t0 = time.perf_counter()
    recs = [extract_payload(r["html"], url=r["url"], lang_hint=r["lang"])
            for r in rows]
    bare = time.perf_counter() - t0
    acc = dict.fromkeys(PHASES, 0.0)
    mismatches = 0
    for row, rec in zip(rows, recs):
        payload = row["html"]
        if rec["parse_error"] in _SKIPPED_ERRORS:
            continue
        if is_pdf(payload):
            t = time.perf_counter()
            pr = extract_pdf(payload)
            acc["pdf"] += time.perf_counter() - t
            text = pr.text if pr.error is None else ""
            ok = (pr.error == rec["parse_error"]) and text == rec["extracted_text"]
        else:
            text, spans = _html_phases(payload, acc)
            ok = (text == rec["extracted_text"] and spans == rec["spans"]
                  and rec["parse_error"] is None)
        if row["lang"] is None and rec["parse_error"] is None:
            t = time.perf_counter()
            lang = detect_lang(text)
            acc["langid"] += time.perf_counter() - t
            ok = ok and lang == rec["lang"]
        mismatches += not ok
    n = max(len(rows), 1)
    out = {"ms_per_doc": 1000.0 * bare / n, "docs": len(rows),
           "mismatches": mismatches}
    for k, v in acc.items():
        out[f"{k}_ms_per_doc"] = 1000.0 * v / n
    return out
