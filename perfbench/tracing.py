"""Operation timing, spans, the event-log reader and the memory sampler.

``Recorder`` times every operation a workload runs. In a traced run it
also keeps a span per call into the engine (name, start, end, parent)
and tags every Spark job with the innermost open span through a Spark
local property, so the event log can be attributed to spans offline.
Spans stay in memory until the run ends.

Timed runs never trace: ``instrument`` (which wraps the engine's
materialization calls and the merge writer) and the event log are used
in the traced run only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Recorder:
    """Per-operation latencies, and spans when ``traced``."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.sc = None  # set once the session exists; used to tag jobs
        self.ops: list[tuple[str, float]] = []
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def op(self, name: str, **attrs):
        """One timed operation of the closed loop (a query, a batch…)."""
        t0 = time.perf_counter()
        with self.span(name, op=True, **attrs):
            yield
        self.ops.append((name, time.perf_counter() - t0))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.traced:
            yield
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        rec["start"] = time.time()
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield
        finally:
            rec["end"] = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            self._tag(parent)
            self.bookkeeping_s += time.perf_counter() - b1

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))

    def op_seconds(self, prefix: str) -> list[float]:
        return [s for n, s in self.ops if n.startswith(prefix)]

    def ancestry(self, sid: int | None) -> list[int]:
        """``sid`` and the ids of its enclosing spans, innermost first."""
        out = []
        while sid is not None:
            out.append(sid)
            sid = self.spans[sid]["parent"]
        return out


def _wrap(fn, name: str, rec: Recorder, attrs=None):
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        # Count only the outermost call: an engine helper that
        # materializes through another wrapped method is one call.
        if rec._stack and rec.spans[rec._stack[-1]]["name"] == name:
            return fn(self, *args, **kwargs)
        with rec.span(name, **(attrs(self) if attrs else {})):
            return fn(self, *args, **kwargs)

    return wrapper


def instrument(rec: Recorder) -> None:
    """Wrap the engine's materialization calls and the merge writer's
    upsert with spans (traced run only; the wrappers stay for the life
    of the process)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from batch_processing_on_aws_spark.operators.merge import MergeWriter

    for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
        setattr(DataFrame, meth, _wrap(getattr(DataFrame, meth), "operators.materialize", rec))
    MergeWriter.upsert = _wrap(
        MergeWriter.upsert,
        "operators.merge.upsert",
        rec,
        attrs=lambda w: {"table": os.path.basename(w.path)},
    )


def self_times(rec: Recorder, layers: dict[str, str]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    its child spans cover, summed over the spans whose name starts with
    the layer's prefix. Children of one span never overlap (one client,
    one thread), so covered time is the sum of child durations."""
    child_s = [0.0] * len(rec.spans)
    for s in rec.spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out = {layer: 0.0 for layer in layers}
    for s in rec.spans:
        for layer, prefix in layers.items():
            if s["name"].startswith(prefix):
                out[layer] += s["end"] - s["start"] - child_s[s["id"]]
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def _plan_metric_types(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metric_types(child, out)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read_event_log(log_dir: str, keep_span) -> dict:
    """Sum the event log of the (stopped) application in ``log_dir`` over
    the jobs whose span satisfies ``keep_span(span_id)``.

    Returns scheduler counts, job intervals, executor time, shuffle,
    spill, file I/O and the Python-runner SQL metrics."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    accum: dict[int, tuple[str, str]] = {}
    tasks: list[dict] = []
    stages_done: list[int] = []
    kept_executions: set[int] = set()  # SQL executions with a kept job
    driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                if span is not None and keep_span(int(span)):
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"], "span": int(span)}
                    if "spark.sql.execution.id" in props:
                        kept_executions.add(int(props["spark.sql.execution.id"]))
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stages_done.append(sid)
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] in stage_job:
                    tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_types(ev["sparkPlanInfo"], accum)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev["sqlPlanMetrics"]:
                    accum[m["accumulatorId"]] = (m["name"], m["metricType"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                eid = int(ev["executionId"])
                driver_updates.extend((eid, int(a), int(v)) for a, v in ev["accumUpdates"])

    out = {
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages_done),
        "scheduler.tasks": len(tasks),
        "executor.run_s": 0.0,
        "executor.cpu_s": 0.0,
        "executor.gc_s": 0.0,
        "shuffle.read_bytes": 0,
        "shuffle.write_bytes": 0,
        "spill.bytes": 0,
        "io.input_bytes": 0,
        "io.output_bytes": 0,
        "io.output_files": 0,
        **{name: 0.0 for name in _PY_METRICS.values()},
    }
    written_rows: dict[int, int] = {}  # span -> records written
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        out["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["io.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        om = m.get("Output Metrics", {})
        out["io.output_bytes"] += om.get("Bytes Written", 0)
        span = jobs[stage_job[ev["Stage ID"]]]["span"]
        written_rows[span] = written_rows.get(span, 0) + om.get("Records Written", 0)
        for acc in ev["Task Info"].get("Accumulables", []):
            name = acc.get("Name")
            if name in _PY_METRICS and acc["ID"] in accum:
                v = float(acc.get("Update", 0))
                key = _PY_METRICS[name]
                out[key] += _seconds(v, accum[acc["ID"]][1]) if key.endswith("_s") else v
    # Written files are a driver-side metric of the SQL execution that
    # wrote them; count those of executions that ran a kept job.
    for eid, aid, value in driver_updates:
        if eid in kept_executions and accum.get(aid, ("",))[0] == "number of written files":
            out["io.output_files"] += value
    intervals = sorted((j["start"], j["end"]) for j in jobs.values() if "end" in j)
    return {"metrics": out, "jobs": jobs, "intervals": intervals, "written_rows": written_rows}


def covered_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def median_ms(intervals: list[tuple[int, int]]) -> float:
    return float(statistics.median([e - s for s, e in intervals])) if intervals else 0.0


# ---------------------------------------------------------------------------
# Memory of the process tree
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.1


def rss_bytes(pid: int) -> int:
    """Resident memory of one process, from /proc/<pid>/statm (0 once it
    has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class MemorySampler:
    """Samples the resident memory of this process and its descendants
    (driver, JVM, Python workers) on a background thread; ``peak`` is the
    highest sum seen between ``start()`` and ``stop()``.

    Memory is read from /proc/<pid>/statm, so pages shared between
    processes count once per process. (PSS would count them once, but
    reading it walks the page tables: ~20 ms per read of a 1 GB JVM,
    which would perturb the run being measured.) Only processes already
    seen by the previous sample count: a child the JVM has just spawned
    shares the JVM's memory until it execs, and would otherwise count
    the whole JVM twice."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        while True:
            now = set(descendants(me))
            self.peak = max(self.peak, rss_bytes(me) + sum(rss_bytes(p) for p in now & seen))
            seen = now
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
