"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload feeder_wave --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run reads or writes
stays under ``.perfbench_work/`` (inputs, Spark scratch, state) and
``.perfbench_out/`` (span dumps of traced runs) in that root.

``--trace 0`` prints the end-to-end metrics: the median wall time of
one operation, throughput in input rows per second, set-up time and
peak RSS. ``--trace 1`` is the separate traced run: it alternates
untraced and traced operations and prints per-layer span metrics, the
layers' own counters and the tracing overhead (traced minus untraced
median operation time). The last stdout line is the JSON result; the
exit code is non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import SPAN_FIELDS, RssSampler, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Per-layer spans reported by the traced run (setup spans included):
# a span's metrics are the median over its occurrences in the run, and 0
# on a workload that never enters it.
SPANS = (
    "op", "session.start", "catalog.load",
    "sources.excel.decode", "plans.feeder.pipeline", "sinks.lake.write", "sinks.jdbc.upsert",
    "operators.dedup.exact", "operators.dedup.minhash", "operators.dedup.simhash",
    "functions.text.quality", "operators.similarity.ivf", "streaming.ingest.batch",
)
# Counters the workloads record at layer boundaries (median over the run).
COUNTS = {
    "sources.excel.decode.rows": "rows", "plans.feeder.antijoin_drop_ratio": "ratio",
    "sinks.lake.write.bytes_per_row": "B/row", "sinks.lake.write.files": "count",
    "sinks.jdbc.upsert.rows_staged": "rows",
    "operators.dedup.minhash.candidates": "pairs", "operators.dedup.minhash.verified_pairs": "pairs",
    "operators.dedup.minhash.verify_yield": "ratio", "operators.dedup.minhash.recall": "ratio",
    "operators.similarity.ivf.recall_at10": "ratio",
    "streaming.ingest.batch.new_pairs": "pairs", "streaming.ingest.batch.state_bytes": "B",
    "streaming.ingest.batch.state_files": "count",
}
# Run-level numbers of the traced run. The driver-or-JVM RSS peak is here,
# not end-to-end: how far the JVM heap grows is the garbage collector's
# call, and the peak varied by ~20% between runs of the same inputs.
RUN_METRICS = {
    "process.peak_rss_mb": "MB", "streaming.ingest.bootstrap.wall_s": "s",
    "trace.untraced_op_s": "s", "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}
SPAN_UNITS = {"wall_s": "s", "busy_s": "s", "wait_s": "s", "jobs": "count", "tasks": "count",
              "failed_tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    spans = {f"{s}.{f}": SPAN_UNITS[f] for s in SPANS for f in SPAN_FIELDS}
    return {**spans, **COUNTS, **RUN_METRICS}


# Driver heap cap: the program's 8g default lets the heap, and with it
# the RSS, grow by a different amount in every run.
DRIVER_MEM = "3g"

END_TO_END = {"op_median_s": "s", "rows_per_s": "rows/s", "setup_s": "s"}


def _env(work: str, traced: bool) -> int:
    """Process environment the program and its Spark workers need; must
    run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)        # session.DEFAULT_CPUS falls back to 32
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM: no perf-data file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the program by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = ["spark.ui.showConsoleProgress=false",
            # JVM temp files in the checkout; no perf-data file in /tmp
            f"spark.driver.defaultJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        # retain every job and stage, so a span's stages are still in the
        # status store when it ends (an ingest batch runs ~1000 tasks)
        conf += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in conf] + ["pyspark-shell"])
    return cpus


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(args, work: str, cpus: int) -> tuple[dict, bool, int, int]:
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    from cati_database_feeder_spark.session import get_session

    tracer = Tracer(None, f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    attempted = failed = 0
    fails: list[str] = []
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = tracer.spark = get_session("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            ctx = SimpleNamespace(spark=spark, tracer=tracer, scale=inputs.SCALES[args.scale],
                                  seed=args.seed, work=work, data_dir=data_dir)
            wl = WORKLOADS[args.workload](ctx)
            wl.setup()
            tracer.enabled = False
            i = 0

            def step(traced: bool):
                nonlocal i, attempted, failed
                tracer.enabled = traced
                attempted += 1
                t = time.perf_counter()
                try:
                    with tracer.span("op"):
                        rows, out = wl.op(i)
                    dt = time.perf_counter() - t
                    bad = wl.check(out)
                except Exception:
                    traceback.print_exc()
                    bad, rows, dt = [f"op {i} raised"], 0, None
                finally:
                    tracer.enabled = False
                    i += 1
                if bad:
                    failed += 1
                    fails.extend(bad)
                return rows, dt

            # A traced run always warms up: its tracing overhead compares
            # untraced and traced operations, so neither may be the cold one.
            while i < max(wl.warmup_ops, args.trace):
                step(False)
            setup_s = time.perf_counter() - t0
            rss.reset()   # the peak of the timed operations, not of start-up
            times, traced_times, rows_total = [], [], 0
            while (len(times) < wl.timed_ops
                   or sum(times) + sum(traced_times) < args.seconds) \
                    and wl.has_op(i) and not failed:
                rows, dt = step(False)
                if dt is not None:
                    times.append(dt)
                    rows_total += rows
                if args.trace and wl.has_op(i) and not failed:
                    _, dt = step(True)
                    if dt is not None:
                        traced_times.append(dt)
            tracer.enabled = bool(args.trace)
            try:
                final = wl.final_check()
            except Exception:
                traceback.print_exc()
                final = ["final check raised"]
            if final:   # counts against the run's last operation
                failed = min(failed + 1, attempted)
                fails.extend(final)
            rss.sample()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if not times:
        return {}, False, attempted, failed

    if not args.trace:
        metrics = {
            "op_median_s": statistics.median(times),
            # one client in a closed loop: throughput at the median latency
            "rows_per_s": rows_total / len(times) / statistics.median(times),
            "setup_s": setup_s,
        }
        return ({k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
                not failed, attempted, failed)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{tracer.run_id}.jsonl"))
    layers = tracer.layer_metrics(cpus)
    med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    values = {k: med(layers.get(k)) for k in (f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS)}
    values.update({k: med(tracer.counts.get(k)) for k in COUNTS})
    untraced = statistics.median(times)
    traced = statistics.median(traced_times) if traced_times else untraced
    values.update({
        "process.peak_rss_mb": rss.peak_mb,
        "streaming.ingest.bootstrap.wall_s": med(layers.get("streaming.ingest.bootstrap.wall_s")),
        "trace.untraced_op_s": untraced,
        "trace.overhead_s": traced - untraced,
        "trace.overhead_ratio": (traced - untraced) / untraced,
    })
    units = per_layer_units()
    return ({k: {"value": v, "unit": units[k]} for k, v in values.items()},
            not failed, attempted, failed)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(inputs.SCALES), default="bench",
                    help="input sizes; 'tiny' is the self-check's")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # before the program's import: session reads SPARK_GRAFT_CPUS at import
    cpus = _env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        import cati_database_feeder_spark.session  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    metrics, correct, attempted, failed = run(args, work, cpus)
    if not metrics:
        print("no operation completed", file=sys.stderr)
        return 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
