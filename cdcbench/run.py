"""Benchmark entry point: one workload, one process, one JSON result.

    python3 cdcbench/run.py --workload {bulk_load,cdc_tail} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_work/`` in that root (removed at exit). The engine runs in Spark
``local[3]`` (capped at the core count) with a pre-sized driver heap; the
session settings and the seed are printed with the result.

Output: a detail line (settings, sample counts, tail percentiles, shape
counters, every check), then as the last line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on the Spark event log, job groups
and call spans, also measures the view syncs (cdc_tail) and the query
leaves (bulk_load), and reports the per-layer metrics, including the
tracing overhead measured against an untraced child run of the same seed.
Round counts are fixed, so ``--seconds`` is accepted and recorded but does
not change what a run measures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = min(3, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_HEAP = "3g"

_SQL_UI = "org.apache.spark.sql.execution.ui."
UNUSED_EVENTS = [
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskStart",
    _SQL_UI + "SparkListenerSQLExecutionStart",
    _SQL_UI + "SparkListenerSQLExecutionEnd",
    _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate",
    _SQL_UI + "SparkListenerSQLAdaptiveSQLMetricUpdates",
    _SQL_UI + "SparkListenerDriverAccumUpdates",
]

END_TO_END = {
    "setup_s": "s",
    "commit_s_p50": "s",
    "events_per_s": "1/s",
    "lookup_s_p50": "s",
    "changes_s_p50": "s",
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["bulk_load", "cdc_tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # the untraced base of a traced run: the traced run's shape, no checks
    p.add_argument("--trace-base", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _tail(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = math.floor(100 * (1 - 10 / n))
    return {"p": p, "value": statistics.quantiles(samples, n=100)[p - 1]}


def _session(work: str, traced: bool):
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    from recidiviz_data_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        # min = max heap, touched up front: no heap growth inside timed calls;
        # JIT thresholds scaled down, so the warm-up reaches compiled code in
        # a few calls rather than a few dozen
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.2"
            f" -Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the rollup reads job starts/ends and task ends only; the rest
            # (per-stage plans, AQE re-plans) would multiply the log volume
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
            "spark.eventLog.excludedPatterns": ",".join(UNUSED_EVENTS),
        })
    return get_spark(f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS,
                     app_name="cdcbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _untraced(args) -> dict:
    """The same workload and seed without tracing, in a child process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
         "--trace-base"],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import recidiviz_data_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    untraced = _untraced(args) if args.trace else None
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        return _measure(args, work, untraced)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(work))


def _measure(args, work: str, untraced: dict | None) -> int:
    from layers import LAYER_METRICS, Recorder, rollup
    from workloads import CHANGES, COMMIT, LOOKUP, WORKLOADS, Ctx

    t0 = time.perf_counter()
    spark = _session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        rec = Recorder(spark, bool(args.trace))
        ctx = Ctx(spark, rec, work, args.seed, traced=bool(args.trace),
                  trace_base=args.trace_base)
        with rec.wrapped():
            res = WORKLOADS[args.workload](ctx)
        spark_version = spark.version
    finally:
        _stop(spark)

    samples = {name: rec.durations(layer) for name, layer in
               (("commit_s", COMMIT), ("lookup_s", LOOKUP), ("changes_s", CHANGES))}
    if not (res.setup_s and res.events and all(samples.values())):
        print(f"cdcbench: no timed samples; checks: {res.checks}", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": statistics.median(res.setup_s),
        "commit_s_p50": statistics.median(samples["commit_s"]),
        "events_per_s": res.events / sum(samples["commit_s"]),
        "lookup_s_p50": statistics.median(samples["lookup_s"]),
        "changes_s_p50": statistics.median(samples["changes_s"]),
    }
    attempted, failed = res.attempted, res.failed
    if untraced is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        values = rollup(rec, os.path.join(work, "eventlog"), res.shape)
        values["jvm.gc_s"] = rec.gc_timed_s
        # share by which tracing slows the timed calls, over the metrics
        # the untraced child reported for the same seed
        values["trace.overhead"] = statistics.fmean(
            e2e[k] / untraced["metrics"][k]["value"] - 1
            for k in ("commit_s_p50", "lookup_s_p50", "changes_s_p50"))
        metrics = {k: {"value": values[k], "unit": u} for k, u in LAYER_METRICS.items()}

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": {"master": f"local[{CORES}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
                     "driver_heap": DRIVER_HEAP, "spark": spark_version},
        "session_start_s": session_s,
        "end_to_end": e2e,
        "samples": {"setup_s": len(res.setup_s), "events": res.events,
                    **{k: len(v) for k, v in samples.items()}},
        "timings": {"setup_s": res.setup_s, **samples},
        "tail": {k: _tail(v) for k, v in samples.items()},
        "shape": res.shape,
        "phases_s": {**res.phases_s, "quiesce": rec.quiesce_s},
        "checks": res.checks,
    }
    if untraced is not None:
        detail["untraced"] = {k: v["value"] for k, v in untraced["metrics"].items()}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
