"""Spark-side layer ledger: SQL-execution metrics and the driver's
executor summary, read from Spark's own status store.

Nothing here adds a listener, a REST call or a pass over the data. The
status store is live with ``spark.ui.enabled=false``; it keeps the
formatted metric strings of every finished SQL execution, and the
executor summary keeps cumulative task time, GC time and shuffle bytes.
``SparkLedger.read()`` returns only what happened since the previous
read, so the caller can attribute it to the job it just ran.

The status store is filled from the listener bus, asynchronously: a read
first drains the bus, then waits for Spark to aggregate the SQL metrics
of each execution it ended, so nothing the job did is left for the next
read to skip.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

# Spark formats SQL metrics with Utils.bytesToString / msDurationToString
# and a US-locale integer formatter.  A task-level metric (timing, size)
# prints "total (min, med, max (stageId: taskId))\n<total> (<min>, ...)".
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> tuple[float, str]:
    """One SQL metric string → ``(value, kind)``.

    ``kind`` is ``"bytes"``, ``"seconds"`` or ``"count"``; the value is in
    that base unit.  Task-level metrics yield their total.  Raises
    ``ValueError`` on a string in no known format."""
    if text is None:
        raise ValueError("metric string is None")
    body = text.strip()
    if body.startswith("total (") and "\n" in body:
        body = body.split("\n", 1)[1]
    m = _VALUE_RE.match(body)
    if not m:
        raise ValueError(f"unrecognised SQL metric {text!r}")
    number, unit = m.group(1), m.group(2)
    value = float(number.replace(",", ""))
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit], "bytes"
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit], "seconds"
    if unit == "":
        return value, "count"
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkLedger:
    """Reads the status store of one Spark session.

    ``read()`` → ``{"sql": {metric name: summed value}, "executions": n,
    "pending": n, "jobs": n, "task_s": s, "gc_s": s,
    "shuffle_write_bytes": b, "tasks": n}`` for everything that finished
    since the last call.  ``pending`` counts executions started since the
    last call that had not ended, with their metrics aggregated, within
    ``timeout_s``; they are read by a later call, and a caller that has
    waited for its job expects 0.  Metrics that share a name across plan
    nodes (e.g. "spill size") are summed over the nodes."""

    timeout_s = 30.0

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()
        self._drain()
        # everything before construction is history
        self._seen = {e.executionId()
                      for e in _seq(self._sql.executionsList())}
        self._jobs_seen = set(self._job_ids())
        self._exec_last = self._executor_totals()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(int(self.timeout_s * 1000))

    def _ended(self, eid) -> bool:
        """The execution has ended and its metrics are aggregated (Spark
        aggregates them on a store thread after the end event)."""
        ui = self._sql.execution(eid)
        if not ui.isDefined():
            return False
        ui = ui.get()
        return ui.completionTime().isDefined() and \
            ui.metricValues() is not None

    def _job_ids(self):
        return self._sc.statusTracker().getJobIdsForGroup(None)

    def _executor_totals(self) -> dict:
        s = self._app.executorSummary("driver")
        return {"task_s": s.totalDuration() / 1000.0,
                "gc_s": s.totalGCTime() / 1000.0,
                "shuffle_write_bytes": float(s.totalShuffleWrite()),
                "tasks": float(s.completedTasks())}

    def read(self, sql_metrics: bool = True) -> dict:
        """``sql_metrics=False`` skips the SQL metric strings (several
        py4j calls per metric) when only the counters are wanted."""
        self._drain()
        new = {e.executionId(): e for e in _seq(self._sql.executionsList())
               if e.executionId() not in self._seen}
        deadline = time.monotonic() + self.timeout_s
        while True:
            pending = {eid for eid in new if not self._ended(eid)}
            if not pending or time.monotonic() > deadline:
                break
            time.sleep(0.005)
        sql: dict = defaultdict(float)
        n_exec = 0
        for eid, e in new.items():
            if eid in pending:
                continue
            self._seen.add(eid)
            n_exec += 1
            if not sql_metrics:
                continue
            names = {m.accumulatorId(): m.name() for m in _seq(e.metrics())}
            values = self._sql.executionMetrics(eid)
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                name = names.get(kv._1())
                if name is None:
                    continue
                value, _kind = parse_metric(kv._2())
                sql[name] += value
        jobs = set(self._job_ids())
        new_jobs = jobs - self._jobs_seen
        self._jobs_seen |= new_jobs
        now = self._executor_totals()
        delta = {k: now[k] - self._exec_last[k] for k in now}
        self._exec_last = now
        return {"sql": dict(sql), "executions": n_exec,
                "pending": len(pending), "jobs": len(new_jobs), **delta}


def merge(readings: list[dict]) -> dict:
    """Sum a list of ``SparkLedger.read()`` results."""
    out: dict = {"sql": defaultdict(float)}
    for r in readings:
        for k, v in r.items():
            if k == "sql":
                for name, x in v.items():
                    out["sql"][name] += x
            else:
                out[k] = out.get(k, 0) + v
    out["sql"] = dict(out["sql"])
    return out
