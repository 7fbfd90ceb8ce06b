"""Benchmark entry point.

    python3 ledgerbench/run.py --workload extract_corpus --seed 1 \
        --seconds 20 --trace 0

Builds the workload's inputs and reference answers from the seed, starts
one Spark driver at ``local[2]`` (set-up), then submits jobs in a closed
loop (one client: the next job starts when the previous one returned)
for ``--seconds``, checking every output.  The last stdout line is the
result JSON; the line before it is the run context.  With ``--trace 1``
half the jobs run traced and the metrics are the per-layer ledger.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, REPO)


def start_spark(work: str, slots: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("ledgerbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.default.parallelism", str(slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a fixed, pre-touched heap: peak PSS then measures what the
        # program adds (Python workers, native memory), not when G1
        # happened to grow the heap
        .config("spark.driver.memory", "1g")
        # one scan task per input file: the layouts below are built so
        # that file count sets tasks per job
        .config("spark.sql.files.openCostInBytes", str(128 << 20))
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-Xms1g -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait until this process has no descendants left; terminate
    stragglers after ``timeout_s``."""
    from procstat import tree_pids

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if tree_pids(me) == [me]:
            return
        time.sleep(0.2)
    for pid in tree_pids(me)[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tree_pids(me) != [me] and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def run(args) -> dict:
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        _env(work)
        from ledger import SparkLedger
        from procstat import TreeMonitor, load_1m, steal_jiffies
        from spans import Tracer
        from workloads import LAYER_METRICS, SLOTS, WORKLOADS

        context = {"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "slots": SLOTS,
                   "load_1m_before": load_1m()}
        wl = WORKLOADS[args.workload](REPO, work, args.seed)
        wl.prepare()
        layers = wl.extractor_layers() if args.trace else {}

        t0 = time.perf_counter()
        spark = start_spark(work, SLOTS)
        wl.attach(spark)
        wl.job(0)
        setup_s = time.perf_counter() - t0
        tally = {"attempted": 0, "failed": 0}
        checks = {}

        def check(i: int) -> None:
            attempted, failed, named = wl.check(i)
            tally["attempted"] += attempted
            tally["failed"] += failed
            checks.update({f"job{i}.{k}": v for k, v in named.items()})
            wl.discard(i)

        check(0)
        if args.trace:
            tally["attempted"] += len(wl.phase_rows)
            tally["failed"] += wl.phase_mismatches
        context["warmup_s"] = []
        n_warm = wl.warmup_jobs
        for w in range(1, n_warm + 1):
            t = time.perf_counter()
            wl.job(w)
            context["warmup_s"].append(round(time.perf_counter() - t, 3))
            check(w)

        ledger = SparkLedger(spark)
        tracer = Tracer()
        monitor = TreeMonitor()
        steal0 = steal_jiffies()
        # per kind of job (untraced, traced): docs, wall seconds, CPU seconds
        done = {kind: {"docs": 0, "wall_s": 0.0, "cpu_s": 0.0, "jobs": 0}
                for kind in (False, True)}
        walls = []
        check_s = 0.0
        tries = {False: 0, True: 0}
        peak = 0
        # a traced run needs some jobs of each kind, not a steady median,
        # and must stay well inside a run's time limit
        min_jobs = 3 if args.trace else wl.min_jobs
        start = time.perf_counter()
        i = n_warm
        while (time.perf_counter() - start < args.seconds
               or tries[False] < min_jobs
               or (args.trace and tries[True] < min_jobs)):
            i += 1
            # untraced and traced jobs in U T T U order, so a drift
            # through the window does not land on one side
            traced = bool(args.trace) and (i - n_warm) % 4 in (2, 3)
            tries[traced] += 1
            if traced:
                ledger.read()
            monitor.start()
            t = time.perf_counter()
            try:
                docs = wl.job(i, tracer if traced else None)
            except Exception:  # noqa: BLE001 — count the failure, go on
                traceback.print_exc()
                monitor.stop()
                checks[f"job{i}"] = "raised"
                tally["failed"] += 1
                tally["attempted"] += 1
                continue
            dt = time.perf_counter() - t
            walls.append(round(dt, 3))
            tot = done[traced]
            tot["cpu_s"] += monitor.stop()
            tot["docs"] += docs
            tot["wall_s"] += dt
            tot["jobs"] += 1
            peak = max(peak, monitor.peak_pss)
            if traced:
                reading = ledger.read()
                if reading["pending"]:
                    checks[f"job{i}.ledger_pending"] = reading["pending"]
                wl.readings.append(reading)
                wl.traced_walls.append(dt)
                wl.traced_docs += docs
                wl.traced_ids.append(i)
            t = time.perf_counter()
            check(i)
            check_s += time.perf_counter() - t
        window = ledger.read(sql_metrics=False) if not args.trace else None
        if window is not None and window["pending"]:
            checks["window.ledger_pending"] = window["pending"]

        def rate(kind: bool) -> float:
            return done[kind]["docs"] / done[kind]["wall_s"]

        context.update({
            "steal_jiffies": steal_jiffies() - steal0,
            "jobs": done[False]["jobs"] + done[True]["jobs"],
            "job_s": walls,
            "check_s": check_s,
            "window_s": time.perf_counter() - start,
        })
        if window is not None:
            context["spark_jobs"] = window["jobs"]
            context["tasks_per_job"] = window["tasks"] / max(window["jobs"], 1)
        if args.trace:
            layers.update(wl.layer_metrics(tracer, done[True]["jobs"]))
            plain, with_trace = rate(False), rate(True)
            layers.update({
                "trace.untraced_docs_per_s": plain,
                "trace.traced_docs_per_s": with_trace,
                "trace.overhead_frac": 1.0 - with_trace / plain,
            })
            context["tasks_per_job"] = layers["spark.tasks_per_job"]
            metrics = {k: {"value": layers[k], "unit": unit}
                       for k, unit in LAYER_METRICS.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "docs_per_s": {"value": rate(False), "unit": "docs/s"},
                "cpu_s_per_kdoc": {"value": 1000.0 * done[False]["cpu_s"]
                                   / done[False]["docs"], "unit": "s/kdoc"},
                "peak_mem_mb": {"value": peak / float(1 << 20),
                                "unit": "MB"},
            }
        if checks:
            context["failed_checks"] = checks
        print(json.dumps({"run_context": context}, default=str), flush=True)
        return {"correct": tally["failed"] == 0 and not checks,
                "attempted": tally["attempted"], "failed": tally["failed"],
                "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract_corpus", "curate_text"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
