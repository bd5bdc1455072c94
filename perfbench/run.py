"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client drives the
engine at ``local[<cpus>]`` (cpus = this process's CPU affinity, or
``PERFBENCH_CPUS``). The run:

1. builds what the engine builds on first use (the row-level catalog
   jar) and generates its seeded inputs in child processes; neither
   counts as set-up;
2. sets up and warms a session (``setup_s``: process start to a warm
   session, build and input generation excluded);
3. runs passes of the workload for ``--seconds`` seconds of timed
   operations;
4. checks every output against its oracle, outside the timed
   operations;
5. prints, as the last stdout line, ``{"correct", "attempted",
   "failed", "metrics"}``: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics with ``--trace 1``.

A traced run enables Spark's event log, wraps the engine calls with
spans (``tracing.py``), samples the memory of the process tree and
reports per-layer numbers per pass.

Everything the run writes lives in its own directory under
``.perfbench_runs/`` in the checkout (inputs, warehouse, Spark local
dirs, TMPDIR, event log), which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the order is the print order.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cpus_detected": "count",
    "session.cpus_used": "count",
    "memory.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.self_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.job_p50_ms": "ms",
    "scheduler.driver_gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "io.input_bytes": "bytes",
    "io.output_bytes": "bytes",
    "io.output_files": "count",
    "operators.materialize_calls": "count",
    "operators.materialize_s": "s",
    "operators.merge.upsert_calls": "count",
    "operators.merge.upsert_s": "s",
    "operators.merge.rewrite_ratio": "ratio",
    "operators.self_s": "s",
    "pipeline.bootstrap_s": "s",
    "pipeline.journey_batch_s": "s",
    "pipeline.rerun_batch_s": "s",
    "pipeline.rows_per_s": "rows/s",
    "pipeline.self_s": "s",
    "bench.self_s": "s",
    "op.samples": "count",
    "trace.wall_s": "s",
    "trace.bookkeeping_s": "s",
}


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def import_engine():
    """The engine of this checkout (every entry point the workloads use,
    so importing it counts as set-up), or exit non-zero without a
    result."""
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the plans registry)
        from batch_processing_on_aws_spark import pipeline, session  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: no engine to benchmark under {ROOT}: {e}")
    if not os.path.abspath(session.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: engine imported from {session.__file__}, not {ROOT}")
    return session


def build_engine() -> None:
    """Build the engine's row-level catalog jar (a no-op once built)."""
    tool = os.path.join(ROOT, "tools", "build_rowlevel_jar.py")
    subprocess.run([sys.executable, tool], check=True, capture_output=True)


def warm(spark, cpus: int) -> None:
    """JVM/codegen warmup plus one Python worker per core."""
    from pyspark.sql.functions import pandas_udf

    spark.range(0, 1 << 16, 1, cpus).selectExpr("sum(id)", "count(distinct id % 97)").collect()
    plus_one = pandas_udf(lambda s: s + 1, "long")
    spark.range(0, cpus * 64, 1, cpus).select(plus_one("id")).collect()


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM it launched, then wait until every
    process this run started has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from tracing import descendants

    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def run(args, run_dir: str, t_proc: float) -> dict:
    import tracing
    import workloads

    session = import_engine()
    detected = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("PERFBENCH_CPUS", detected))
    print(f"[perfbench] cpus detected={detected} used={cpus}", file=sys.stderr, flush=True)

    tmp, local, events = (os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Every JVM the run starts (javac, the spark-submit launcher, the
    # driver) keeps its temporary files in the run directory and writes
    # no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )

    rec = tracing.Recorder(traced=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](rec, run_dir, args.seed, cpus)
    t0 = time.time()
    build_engine()
    wl.prepare()
    pre_s = time.time() - t0  # build + input generation: not set-up

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tracing.instrument(rec)
        sampler = tracing.MemorySampler().start()
    t_get = time.perf_counter()
    with rec.span("session.get_spark"):
        spark = session.get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    t_warm = time.perf_counter()
    rec.sc = spark.sparkContext
    with rec.span("session.warmup"):
        warm(spark, cpus)
    t_ready = time.perf_counter()
    setup_s = time.time() - t_proc - pre_s
    try:
        wl.spark = spark
        walls = workloads.run_timed(wl, args.seconds)
    finally:
        if args.trace:
            peak = sampler.stop()
        stop_session(spark)
    wl.check()  # against DuckDB; Spark is no longer needed

    ops = rec.op_seconds(wl.op_name)
    if not ops:
        raise SystemExit(f"perfbench: no {wl.op_name} operation completed")
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(ops),
        }
    else:
        metrics = layer_metrics(rec, wl, walls, events)
        metrics.update({
            "session.get_spark_s": t_warm - t_get,
            "session.warmup_s": t_ready - t_warm,
            "session.cpus_detected": detected,
            "session.cpus_used": cpus,
            "memory.peak_rss_mb": peak / 2**20,
            "op.samples": len(ops),
        })
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def layer_metrics(rec, wl, walls: list[float], events: str) -> dict:
    """Per-layer numbers of a traced run, per pass of the workload."""
    import tracing

    passes = len(walls)
    op_spans = {s["id"] for s in rec.spans if s["attrs"].get("op")}

    def in_op(sid):
        return any(a in op_spans for a in rec.ancestry(sid))

    log = tracing.read_event_log(events, in_op)
    out = {k: v / passes for k, v in log["metrics"].items()}

    def spans(name):
        return [s for s in rec.spans if s["name"] == name]

    def busy(name):
        return sum(s["end"] - s["start"] for s in spans(name)) / passes

    out["scheduler.job_p50_ms"] = tracing.median_ms(log["intervals"])
    out["scheduler.driver_gap_s"] = (sum(walls) - tracing.covered_seconds(log["intervals"])) / passes
    build_spans = {s["id"] for s in spans("plans.build")}
    out["plans.build_jobs"] = sum(
        1 for j in log["jobs"].values() if build_spans & set(rec.ancestry(j["span"]))
    ) / passes
    for name in ("plans.build", "plans.exec", "operators.materialize", "operators.merge.upsert"):
        out[name + "_s"] = busy(name)
    out["operators.materialize_calls"] = len(spans("operators.materialize")) / passes
    out["operators.merge.upsert_calls"] = len(spans("operators.merge.upsert")) / passes
    fact_spans = {s["id"] for s in spans("operators.merge.upsert") if s["attrs"]["table"] == "fact_journey"}
    fact_rows = sum(n for sid, n in log["written_rows"].items() if fact_spans & set(rec.ancestry(sid)))
    out["operators.merge.rewrite_ratio"] = fact_rows / (wl.input_rows * passes) if fact_spans else 0.0
    for name in ("bootstrap", "journey_batch", "rerun_batch"):
        out[f"pipeline.{name}_s"] = busy(f"pipeline.{name}")
    row_s = busy("pipeline.journey_batch") + busy("pipeline.rerun_batch") + busy("pipeline.curate_corpus")
    out["pipeline.rows_per_s"] = wl.input_rows / row_s if row_s else 0.0
    layers = {"plans": "plans.", "operators": "operators.", "pipeline": "pipeline.", "bench": "query"}
    for layer, secs in tracing.self_times(rec, layers).items():
        out[f"{layer}.self_s"] = secs / passes
    out["trace.wall_s"] = statistics.median(walls)
    out["trace.bookkeeping_s"] = rec.bookkeeping_s / passes
    return out


def main() -> int:
    t_proc = process_start_time()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        result = run(args, run_dir, t_proc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
