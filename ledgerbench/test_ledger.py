"""Unit tests of the benchmark's own helpers: the SQL-metric parser, the
span self-time arithmetic and the curation check's survivor reference.
No Spark session, no timing thresholds.

    python3 -m pytest ledgerbench -q
"""

import pytest

from ledger import merge, parse_metric
from spans import Span, Tracer, self_seconds
from workloads import exact_survivors


@pytest.mark.parametrize("text, value, kind", [
    ("800", 800.0, "count"),
    ("4,000", 4000.0, "count"),
    ("1,234,567", 1234567.0, "count"),
    ("0 ms", 0.0, "seconds"),
    ("8 ms", 0.008, "seconds"),
    ("3.1 s", 3.1, "seconds"),
    ("1.5 m", 90.0, "seconds"),
    ("2.00 h", 7200.0, "seconds"),
    ("0.0 B", 0.0, "bytes"),
    ("512.0 B", 512.0, "bytes"),
    ("2.3 MiB", 2.3 * (1 << 20), "bytes"),
    ("1865.6 KiB", 1865.6 * 1024, "bytes"),
    ("1.0 GiB", float(1 << 30), "bytes"),
])
def test_parse_plain_metrics(text, value, kind):
    got, got_kind = parse_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize("text, value, kind", [
    ("total (min, med, max (stageId: taskId))\n"
     "23.4 s (11.7 s, 11.7 s, 11.7 s (stage 3.0: task 7))", 23.4, "seconds"),
    ("total (min, med, max (stageId: taskId))\n"
     "40 ms (7 ms, 10 ms, 15 ms (stage 11.0: task 45))", 0.040, "seconds"),
    ("total (min, med, max (stageId: taskId))\n"
     "61.0 MiB (15.2 MiB, 15.3 MiB, 15.3 MiB (stage 2.0: task 9))",
     61.0 * (1 << 20), "bytes"),
    ("total (min, med, max (stageId: taskId))\n"
     "0.0 B (0.0 B, 0.0 B, 0.0 B (stage 11.0: task 45))", 0.0, "bytes"),
])
def test_parse_task_level_metrics_take_the_total(text, value, kind):
    got, got_kind = parse_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3.1 parsecs", None])
def test_parse_rejects_unknown_formats(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_merge_sums_sql_metrics_and_counters():
    a = {"sql": {"scan time": 1.0}, "jobs": 2, "task_s": 3.0}
    b = {"sql": {"scan time": 0.5, "spill size": 10.0}, "jobs": 1,
         "task_s": 1.0}
    got = merge([a, b])
    assert got["sql"] == {"scan time": 1.5, "spill size": 10.0}
    assert got["jobs"] == 3
    assert got["task_s"] == 4.0


def _spans(*triples):
    """(start, end, parent index or None) → linked spans."""
    spans = [Span(f"s{i}", s, e, p) for i, (s, e, p) in enumerate(triples)]
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            spans[sp.parent].children.append(i)
    return spans


def test_self_time_subtracts_children():
    spans = _spans((0.0, 10.0, None), (1.0, 3.0, 0), (5.0, 6.0, 0))
    assert self_seconds(spans[0], spans) == pytest.approx(7.0)
    assert self_seconds(spans[1], spans) == pytest.approx(2.0)


def test_self_time_counts_overlapping_children_once():
    spans = _spans((0.0, 10.0, None), (1.0, 4.0, 0), (3.0, 5.0, 0),
                   (9.0, 12.0, 0))
    assert self_seconds(spans[0], spans) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_ignores_grandchildren():
    spans = _spans((0.0, 10.0, None), (2.0, 8.0, 0), (3.0, 4.0, 1))
    assert self_seconds(spans[0], spans) == pytest.approx(4.0)
    assert self_seconds(spans[1], spans) == pytest.approx(5.0)


class _Mod:
    @staticmethod
    def inner(x):
        return x + 1


def test_patched_records_nested_spans_and_restores():
    tracer = Tracer()
    orig = _Mod.inner
    with tracer.patched({"inner": (_Mod, "inner")}):
        with tracer.span("outer"):
            assert _Mod.inner(1) == 2
    assert _Mod.inner is orig
    outer, inner = tracer.spans
    assert inner.parent == 0 and outer.children == [1]
    count, total, own = tracer.totals()["outer"]
    assert count == 1 and own <= total


def test_exact_survivors_keep_the_least_id_per_normalised_text():
    base = " ".join(f"w{i}" for i in range(60))
    docs = [
        {"doc_id": 4, "text": base},
        {"doc_id": 2, "text": "  " + base.upper()},  # equal once normalised
        {"doc_id": 3, "text": base.replace("w30", "edited")},  # near only
        {"doc_id": 5, "text": base.replace(" ", "\n\t")},
        {"doc_id": 1, "text": "\t" + base},  # trim strips spaces only
        {"doc_id": 6, "text": ""},
        {"doc_id": 7, "text": "   "},
    ]
    assert exact_survivors(docs) == {2, 3, 1, 6}
