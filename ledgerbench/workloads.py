"""The workloads: inputs made from the seed, reference answers built
before any timing, the timed job, and the checks on every output.

Each workload exposes ``prepare()`` (untimed), ``job(i, tracer)`` (one
closed-loop request; returns the number of docs it carried to a
committed result) and ``check(i)`` (→ attempted, failed).  ``job(0)`` is
the set-up job; ``layer_metrics()`` turns a traced run into the
per-layer ledger.  README.md explains why each workload is shaped as it
is.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import re
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import phases
from ledger import merge
from document_extractor_spark.sources.generator import (
    build_pdf,
    corpus_rows,
    fixture_rows,
)

MIB = float(1 << 20)
SLOTS = 2

PAGE_SCHEMA = pa.schema([
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
_OUT_COLS = ["url", "extracted_text", "spans", "lang", "parse_error",
             "n_blocks", "n_bytes_in", "n_bytes_out"]
_GOLDEN_KEYS = ("extracted_text", "spans", "lang", "parse_error")
_EPOCH = dt.datetime(2026, 3, 1)


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def crawl(n: int, seed: int, n_days: int = 1) -> list[dict]:
    """Generator pages over ``n_days`` warc days; half the rows lose their
    language hint so that ``detect_lang`` runs on them."""
    rnd = random.Random(seed ^ 0x5EED)
    rows = list(corpus_rows(n, seed=seed, n_days=n_days))
    for r in rows:
        if rnd.random() < 0.5:
            r["lang"] = None
    return rows


def hostile_rows(seed: int, copies: int = 2) -> list[dict]:
    """Empty, NULL, binary, truncated-PDF, unclosed-markup and
    fake-tags-in-script payloads."""
    rnd = random.Random(seed ^ 0xBAD)
    rows = []
    for c in range(copies):
        words = " ".join(rnd.choice(("alpha", "beta", "gamma", "delta"))
                         for _ in range(60))
        pdf = build_pdf([[(72, 720, 12, [f"Truncated report {c} {words}"])]],
                        compress=True)
        payloads = {
            "empty": b"",
            "null": None,
            "binary": bytes(rnd.randrange(256) for _ in range(4096)),
            "truncated_pdf": pdf[: len(pdf) // 2],
            "unclosed": ("<html><body>" + f"<div><p>{words} " * 300)
            .encode("utf-8"),
            "script_tags": (
                "<html><body><script>document.write('<p>FAKE "
                f"{c}</p><div>')</script><main><p>{words}</p><p>{words}"
                "</p></main></body></html>").encode("utf-8"),
        }
        for kind, payload in payloads.items():
            rows.append({"url": f"https://hostile.example.net/{kind}/{c}",
                         "warc_ts": _EPOCH, "html": payload, "text": None,
                         "lang": None})
    return rows


def write_pages(root: str, partitions: dict, files_per_partition: int):
    """``partitions``: {warc_day: rows}; rows are dealt round-robin into
    ``files_per_partition`` parquet files per partition."""
    for day, rows in partitions.items():
        d = os.path.join(root, f"warc_day={day}")
        os.makedirs(d, exist_ok=True)
        for f in range(files_per_partition):
            table = pa.Table.from_pylist(rows[f::files_per_partition],
                                         schema=PAGE_SCHEMA)
            pq.write_table(table, os.path.join(d, f"part-{f:05d}.parquet"),
                           compression="zstd")


# ---------------------------------------------------------------------------
# Reference answers: the bare extractor in this process
# ---------------------------------------------------------------------------


def digest(rec: dict) -> str:
    spans = [[int(s["start"]), int(s["end"]), s["type"]]
             for s in (rec["spans"] if rec["spans"] is not None else [])]
    key = [rec["extracted_text"], spans, rec["lang"], rec["parse_error"],
           int(rec["n_blocks"]), int(rec["n_bytes_in"]),
           int(rec["n_bytes_out"])]
    return hashlib.sha1(json.dumps(key).encode("utf-8")).hexdigest()


def extract_all(rows: list[dict]) -> list[dict]:
    from document_extractor_spark.extractor.core import extract_payload

    return [extract_payload(r["html"], url=r["url"], lang_hint=r["lang"])
            for r in rows]


def load_golden(repo: str) -> dict:
    path = os.path.join(repo, "tests", "golden", "expected.json")
    with open(path, encoding="utf-8") as f:
        return {g["url"]: g for g in json.load(f)}


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------


def check_extract_output(out: str, in_path: str, ref: dict, golden: dict,
                         parts: list) -> tuple[int, int, dict]:
    """Every output row against its reference digest, fixtures against
    the frozen goldens, parse_error counts by kind, and exactly one
    manifest per partition whose fingerprint matches the input.
    Returns (attempted docs, failed docs, failed-check names)."""
    from document_extractor_spark.checkpoint import (
        input_fingerprint,
        read_manifests,
    )

    rows = pq.read_table(out, columns=_OUT_COLS).to_pylist()
    failed = set()
    seen = Counter(r["url"] for r in rows)
    failed.update(u for u, k in seen.items() if k != 1 or u not in ref)
    failed.update(u for u in ref if u not in seen)
    kinds_out = Counter()
    for r in rows:
        url = r["url"]
        kinds_out[r["parse_error"]] += 1
        if url in ref and digest(r) != ref[url][0]:
            failed.add(url)
        g = golden.get(url)
        if g is not None and any(r[k] != g[k] for k in _GOLDEN_KEYS):
            failed.add(url)
    checks = {}
    if kinds_out != Counter(e for _, e in ref.values()):
        checks["parse_error_counts"] = dict(kinds_out)
    manifests = read_manifests(out)
    by_part = Counter(m.get("partition") for m in manifests)
    stray = [n for n in os.listdir(os.path.join(out, "_manifests"))
             if not n.endswith(".json")]
    if by_part != Counter(parts) or stray:
        checks["manifest_set"] = sorted(by_part)
    for m in manifests:
        if m.get("input_fingerprint") != input_fingerprint(
                in_path, m.get("partition")):
            checks.setdefault("manifest_fingerprint", []).append(
                m.get("partition"))
    n_failed = len(failed) + (len(ref) if checks else 0)
    return len(ref), min(n_failed, len(ref)), checks


# ---------------------------------------------------------------------------
# Ledger arithmetic shared by the workloads
# ---------------------------------------------------------------------------


def spark_layers(led: dict, docs: int, calls: int, wall_s: float) -> dict:
    kdocs = docs / 1000.0
    sql = led["sql"]
    jobs = max(led.get("jobs", 0), 1)
    return {
        "spark.task_s_per_kdoc": led["task_s"] / kdocs,
        "spark.gc_s_per_kdoc": led["gc_s"] / kdocs,
        "spark.jobs": led.get("jobs", 0) / calls,
        "spark.tasks_per_job": led["tasks"] / jobs,
        "spark.slot_busy_frac": led["task_s"] / (wall_s * SLOTS),
        "spark.shuffle_write_mb": led["shuffle_write_bytes"] / MIB / calls,
        "spark.spill_mb": sql.get("spill size", 0.0) / MIB / calls,
        "sources.scan_s_per_kdoc": sql.get("scan time", 0.0) / kdocs,
        "sources.files_read": sql.get("number of files read", 0.0) / calls,
        "sources.read_mb": sql.get("size of files read", 0.0) / MIB / calls,
        "sources.files_written":
            sql.get("number of written files", 0.0) / calls,
    }


# Layers a workload does not run read 0: the workload does no work there.
_ZERO_EXTRACT = (
    "operators.extract.py_run_s_per_kdoc",
    "operators.extract.to_py_mb_per_kdoc",
    "operators.extract.from_py_mb_per_kdoc",
    "operators.extract.py_start_s_per_job",
    "operators.extract.py_init_s_per_job",
    "pipeline.driver_self_s_per_job",
    "checkpoint.plan_s",
    "checkpoint.commit_s_per_job",
    "checkpoint.partitions_skipped",
)
_ZERO_CURATE = (
    "operators.dedup.exact_s",
    "operators.textstats.gopher_s",
    "operators.linmodel.score_s",
    "operators.linmodel.features_per_doc",
)


class Workload:
    """Shared plumbing; subclasses fill in the shape."""

    name = ""
    #: untimed jobs after set-up: JIT and codegen caches are still filling
    #: after the first job
    warmup_jobs = 1
    #: the window runs until ``--seconds`` are over and this many jobs ran
    min_jobs = 3

    def __init__(self, repo: str, work: str, seed: int):
        self.repo = repo
        self.work = work
        self.seed = seed
        self.spark = None
        self.readings: list[dict] = []
        self.traced_walls: list[float] = []
        self.traced_docs = 0
        self.traced_ids: list[int] = []
        self.phase_rows: list[dict] = []

    def attach(self, spark):
        self.spark = spark

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "out", f"job{i:04d}")

    def discard(self, i: int) -> None:
        """Drop a checked output."""
        shutil.rmtree(self.outs.pop(i), ignore_errors=True)

    def extractor_layers(self) -> dict:
        m = phases.measure(self.phase_rows)
        self.phase_mismatches = m["mismatches"]
        out = {"extractor.ms_per_doc": m["ms_per_doc"]}
        for p in phases.PHASES:
            out[f"extractor.{p}_ms_per_doc"] = m[f"{p}_ms_per_doc"]
        return out


class ExtractCorpus(Workload):
    """Bulk extraction: ``run_extract_job`` into a fresh output, checked
    row by row against the single-process reference.  A few partitions,
    each over several files, so every Spark job has two tasks per slot
    and each task carries 192 docs."""

    name = "extract_corpus"
    n_partitions = 2
    files_per_partition = 4
    docs_per_file = 192

    def partitions(self) -> dict:
        """Fixture pages and hostile payloads first, then generator
        pages; rows are dealt round-robin into the partitions (and
        ``write_pages`` deals them into files), so every partition and
        file gets the same number of docs and a share of the odd ones."""
        extra = fixture_rows() + hostile_rows(self.seed)
        n = self.n_partitions * self.files_per_partition * self.docs_per_file
        rows = extra + crawl(n - len(extra), self.seed, self.n_partitions)
        return {(_EPOCH + dt.timedelta(days=p)).strftime("%Y-%m-%d"):
                rows[p::self.n_partitions] for p in range(self.n_partitions)}

    def prepare(self) -> None:
        self.in_path = os.path.join(self.work, "pages")
        parts = self.partitions()
        write_pages(self.in_path, parts, self.files_per_partition)
        self.parts = sorted(parts)
        rows = [r for day in self.parts for r in parts[day]]
        recs = extract_all(rows)
        self.ref = {r["url"]: (digest(rec), rec["parse_error"])
                    for r, rec in zip(rows, recs)}
        self.golden = load_golden(self.repo)
        self.phase_rows = rows[:: max(1, len(rows) // 160)]
        self.outs: dict[int, str] = {}
        self.summaries: dict[int, dict] = {}

    def job(self, i: int, tracer=None) -> int:
        from document_extractor_spark import pipeline

        out = self.outs[i] = self._out(i)
        if tracer is None:
            summary = pipeline.run_extract_job(self.spark, self.in_path, out)
        else:
            with tracer.patched(_pipeline_spans(pipeline)):
                with tracer.span("pipeline.run_extract_job"):
                    summary = pipeline.run_extract_job(
                        self.spark, self.in_path, out)
        self.summaries[i] = summary
        return int(summary["docs"])

    def check(self, i: int) -> tuple[int, int, dict]:
        attempted, failed, checks = check_extract_output(
            self.outs[i], self.in_path, self.ref, self.golden, self.parts)
        s = self.summaries[i]
        # a fresh output: every partition is extracted, none skipped
        if s["partitions_processed"] != len(self.parts) or \
                s["partitions_skipped"]:
            checks["summary"] = s
        return attempted, failed, checks

    def layer_metrics(self, tracer, calls: int) -> dict:
        led = merge(self.readings)
        wall = sum(self.traced_walls)
        docs = self.traced_docs
        kdocs = docs / 1000.0
        sql = led["sql"]
        tot = tracer.totals()
        commits = tot.get("checkpoint.commit_partition", (0, 0.0, 0.0))
        plan = tot.get("checkpoint.committed_partitions", (0, 0.0, 0.0))
        run = tot.get("pipeline.run_extract_job", (0, 0.0, 0.0))
        jobs = max(commits[0], 1)
        skipped = sum(self.summaries[i]["partitions_skipped"]
                      for i in self.traced_ids)
        out = spark_layers(led, docs, calls, wall)
        out.update({
            "operators.extract.py_run_s_per_kdoc":
                sql.get("time to run Python workers", 0.0) / kdocs,
            "operators.extract.to_py_mb_per_kdoc":
                sql.get("data sent to Python workers", 0.0) / MIB / kdocs,
            "operators.extract.from_py_mb_per_kdoc":
                sql.get("data returned from Python workers", 0.0) / MIB
                / kdocs,
            "operators.extract.py_start_s_per_job":
                sql.get("time to start Python workers", 0.0) / jobs,
            "operators.extract.py_init_s_per_job":
                sql.get("time to initialize Python workers", 0.0) / jobs,
            "sources.write_commit_s_per_job":
                sql.get("job commit time", 0.0) / jobs,
            "pipeline.driver_self_s_per_job": run[2] / jobs,
            "checkpoint.plan_s": plan[1] / calls,
            "checkpoint.commit_s_per_job": commits[1] / jobs,
            "checkpoint.partitions_skipped": skipped / calls,
        })
        out.update(dict.fromkeys(_ZERO_CURATE, 0.0))
        return out


def _pipeline_spans(pipeline) -> dict:
    return {
        "sources.list_partitions": (pipeline, "list_partitions"),
        "checkpoint.committed_partitions":
            (pipeline, "committed_partitions"),
        "sources.read_pages_table": (pipeline, "read_pages_table"),
        "operators.extract.extract_pages": (pipeline, "extract_pages"),
        "operators.extract.observe_extract": (pipeline, "observe_extract"),
        "sources.write_result": (pipeline, "write_result"),
        "checkpoint.commit_partition": (pipeline, "commit_partition"),
    }


# ---------------------------------------------------------------------------
# Text curation
# ---------------------------------------------------------------------------


_LINMODEL_DIM = 512
_LINMODEL_BIAS = 50


def linmodel_weights() -> list[int]:
    """A planted 512-bucket model of the same shape as the repository's
    ``hashed_quality`` query: quality words score up, junk words down."""
    from document_extractor_spark.operators.linmodel import bucket_of

    w = [0] * _LINMODEL_DIM
    for tok, v in (("fast", 900), ("vector", 700), ("spark", 500),
                   ("query", 400), ("slow", -800), ("dup", -700),
                   ("small", -300), ("slow_slow", -500),
                   ("fast_key", 300), ("the", 40), ("and", -25)):
        w[bucket_of(tok, _LINMODEL_DIM)] += v
    return w


# Java's ``\s``: Spark's ``split`` and ``regexp_replace`` patterns
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def exact_survivors(docs: list[dict]) -> set:
    """Ids ``drop_exact_duplicates`` keeps: the least id of each
    ``normalized_text`` (lower(regexp_replace(trim(text), \\s+, ' ')),
    where Spark's ``trim`` strips spaces only)."""
    keep: dict = {}
    for d in docs:
        norm = _JAVA_WS.sub(" ", d["text"].strip(" ")).lower()
        keep[norm] = min(keep.get(norm, d["doc_id"]), d["doc_id"])
    return set(keep.values())


class CurateText(Workload):
    """Exact dedup → Gopher flags + hashed linear score → curated table,
    over extracted text with planted clones.

    ``drop_near_duplicates`` is left out: ``dedup.minhash_signatures``
    passes a two-argument lambda to ``F.transform``, which binds the
    element index to ``i``, so all k MinHash components are one
    positional hash and LSH misses one-word-edit clones on some seeds
    (README.md, "Known program defect").  The near clones stay in the
    input; until near dedup is back in the chain they are distinct docs
    that must be kept."""

    name = "curate_text"
    # A pass is 5 Spark jobs, and pass times keep falling for many
    # passes after set-up while the JVM compiles their code paths.  A
    # window of at least four passes after three warm-ups puts the same
    # stretch of that curve in every run's window.  Each pass has a fixed
    # cost of about a second; 40 articles per pass make the per-doc work
    # most of it, which narrowed the run-to-run spread (README.md).
    warmup_jobs = 3
    min_jobs = 4
    n_crawl = 40
    target_words = 1500
    n_files = 4
    n_exact = 3
    n_near = 3
    min_clone_words = 50

    def prepare(self) -> None:
        pages = crawl(3 * self.n_crawl, self.seed)
        texts = [rec["extracted_text"] for rec in extract_all(pages)]
        # the n_crawl pages nearest a typical article length: a pass's work
        # then does not swing with how long the seed's few articles are
        mid = sorted(range(len(pages)), key=lambda k: (
            abs(len(texts[k].split()) - self.target_words), k))
        mid = sorted(mid[: self.n_crawl])
        extra = fixture_rows() + hostile_rows(self.seed, copies=1)
        rows = [pages[k] for k in mid] + extra
        texts = [texts[k] for k in mid] + [
            rec["extracted_text"] for rec in extract_all(extra)]
        self.phase_rows = rows[: self.n_crawl]
        docs = [{"doc_id": i, "url": r["url"], "text": t}
                for i, (r, t) in enumerate(zip(rows, texts))]
        rnd = random.Random(self.seed ^ 0xC10E)
        # originals are generator articles: unique text, so the only
        # duplicates of an original are its planted clones
        long_ids = [d["doc_id"] for d in docs[: self.n_crawl]
                    if len(d["text"].split()) >= self.min_clone_words]
        originals = rnd.sample(long_ids, self.n_exact + self.n_near)
        next_id = len(docs)
        for k, orig in enumerate(originals):
            text = docs[orig]["text"]
            if k >= self.n_exact:
                words = text.split(" ")
                mid = len(words) // 2
                words[mid] = f"editedword{k}"
                text = " ".join(words)
            docs.append({"doc_id": next_id,
                         "url": f"{docs[orig]['url']}?clone={k}",
                         "text": text})
            next_id += 1
        rnd.shuffle(docs)
        self.n_docs = len(docs)
        self.survivors = exact_survivors(docs)
        self.in_path = os.path.join(self.work, "docs")
        os.makedirs(self.in_path)
        table = pa.Table.from_pylist(docs, schema=pa.schema([
            pa.field("doc_id", pa.int64()), pa.field("url", pa.string()),
            pa.field("text", pa.string())]))
        for f in range(self.n_files):
            pq.write_table(table.slice(f * self.n_docs // self.n_files,
                                       (f + 1) * self.n_docs // self.n_files
                                       - f * self.n_docs // self.n_files),
                           os.path.join(self.in_path, f"part-{f:05d}.parquet"))
        self.weights = linmodel_weights()
        self.ref_scores = self._oracle_scores()
        self.outs: dict[int, str] = {}
        self.stage: dict = {}

    def _oracle_scores(self) -> dict:
        import duckdb

        from document_extractor_spark.operators.linmodel import (
            linmodel_oracle_sql,
        )

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE documents AS SELECT doc_id, text FROM "
                f"read_parquet('{self.in_path}/*.parquet')")
            sql = linmodel_oracle_sql("documents", "doc_id", "text",
                                      self.weights,
                                      bias_milli=_LINMODEL_BIAS)
            return {int(i): s for i, _, s, _ in con.execute(sql).fetchall()}
        finally:
            con.close()

    def job(self, i: int, tracer=None) -> int:
        from document_extractor_spark.operators import dedup
        from document_extractor_spark.operators.linmodel import (
            hashed_linear_score,
        )
        from document_extractor_spark.operators.textstats import (
            gopher_quality_flags,
        )

        out = self.outs[i] = self._out(i)
        df = self.spark.read.parquet(self.in_path)
        if tracer is None:
            kept = dedup.drop_exact_duplicates(df)
            scored = hashed_linear_score(kept, self.weights,
                                         bias_milli=_LINMODEL_BIAS)
            flags = gopher_quality_flags(kept).drop("n_words")
            scored.join(flags, "doc_id").write.parquet(out)
        else:
            self._traced_job(df, out, tracer)
        return self.n_docs

    def _traced_job(self, df, out, tracer) -> None:
        """The same chain, each stage materialised on its own so its time
        is its own."""
        from pyspark.sql import functions as F

        from document_extractor_spark.operators import dedup
        from document_extractor_spark.operators.linmodel import (
            hashed_linear_score,
        )
        from document_extractor_spark.operators.textstats import (
            gopher_quality_flags,
        )

        st = self.stage
        with tracer.span("operators.dedup.exact"):
            kept = dedup.drop_exact_duplicates(df).localCheckpoint(eager=True)
        with tracer.span("operators.textstats.gopher"):
            flags = gopher_quality_flags(kept).drop("n_words") \
                .localCheckpoint(eager=True)
        with tracer.span("operators.linmodel.score"):
            scored = hashed_linear_score(
                kept, self.weights, bias_milli=_LINMODEL_BIAS) \
                .localCheckpoint(eager=True)
        feats = scored.agg(F.sum("q_n_feats"), F.count("*")).first()
        st["feats"] = st.get("feats", 0) + feats[0]
        st["scored"] = st.get("scored", 0) + feats[1]
        with tracer.span("sources.write"):
            scored.join(flags, "doc_id").write.parquet(out)

    def check(self, i: int) -> tuple[int, int, dict]:
        rows = pq.read_table(self.outs[i],
                             columns=["doc_id", "q_score_milli"]).to_pylist()
        kept = Counter(r["doc_id"] for r in rows)
        bad = {d for d, k in kept.items() if k != 1}
        for r in rows:
            if self.ref_scores.get(r["doc_id"], "missing") != \
                    r["q_score_milli"]:
                bad.add(r["doc_id"])
        # kept docs must be exactly the survivors: every exact clone
        # dropped, its original and every other doc kept
        bad.update(set(kept) ^ self.survivors)
        return self.n_docs, len(bad), ({"bad_doc_ids": sorted(bad)}
                                       if bad else {})

    def layer_metrics(self, tracer, calls: int) -> dict:
        led = merge(self.readings)
        wall = sum(self.traced_walls)
        docs = self.traced_docs
        tot = tracer.totals()

        def span_s(name):
            return tot.get(name, (0, 0.0, 0.0))[1] / calls

        st = self.stage
        out = spark_layers(led, docs, calls, wall)
        out.update({
            "sources.write_commit_s_per_job":
                led["sql"].get("job commit time", 0.0) / calls,
            "operators.dedup.exact_s": span_s("operators.dedup.exact"),
            "operators.textstats.gopher_s":
                span_s("operators.textstats.gopher"),
            "operators.linmodel.score_s": span_s("operators.linmodel.score"),
            "operators.linmodel.features_per_doc":
                st.get("feats", 0) / max(st.get("scored", 0), 1),
        })
        out.update(dict.fromkeys(_ZERO_EXTRACT, 0.0))
        return out


#: Every per-layer metric a traced run prints, with its unit.  "call" is
#: one timed request (one ``run_extract_job`` call, one curation pass);
#: "job" is one partition extraction job (one Spark write job) on
#: ``extract_corpus`` and one curation pass on ``curate_text``.
LAYER_METRICS = {
    "extractor.ms_per_doc": "ms/doc",
    **{f"extractor.{p}_ms_per_doc": "ms/doc" for p in phases.PHASES},
    "operators.extract.py_run_s_per_kdoc": "s/kdoc",
    "operators.extract.to_py_mb_per_kdoc": "MB/kdoc",
    "operators.extract.from_py_mb_per_kdoc": "MB/kdoc",
    "operators.extract.py_start_s_per_job": "s/job",
    "operators.extract.py_init_s_per_job": "s/job",
    "sources.scan_s_per_kdoc": "s/kdoc",
    "sources.files_read": "count/call",
    "sources.read_mb": "MB/call",
    "sources.files_written": "count/call",
    "sources.write_commit_s_per_job": "s/job",
    "pipeline.driver_self_s_per_job": "s/job",
    "checkpoint.plan_s": "s/call",
    "checkpoint.commit_s_per_job": "s/job",
    "checkpoint.partitions_skipped": "count/call",
    "spark.task_s_per_kdoc": "s/kdoc",
    "spark.gc_s_per_kdoc": "s/kdoc",
    "spark.jobs": "count/call",
    "spark.tasks_per_job": "count",
    "spark.slot_busy_frac": "frac",
    "spark.shuffle_write_mb": "MB/call",
    "spark.spill_mb": "MB/call",
    "operators.dedup.exact_s": "s/call",
    "operators.textstats.gopher_s": "s/call",
    "operators.linmodel.score_s": "s/call",
    "operators.linmodel.features_per_doc": "count/doc",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.traced_docs_per_s": "docs/s",
    "trace.overhead_frac": "frac",
}

WORKLOADS = {w.name: w for w in (ExtractCorpus, CurateText)}
