"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    trees = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_star_tables(str(tmp_path / name / "star"), seed, 0.001)
        datagen.write_journey_zone(str(tmp_path / name / "raw"), seed, 0.001)
        trees.append(_tree_bytes(str(tmp_path / name)))
    assert trees[0] == trees[1]
    assert trees[0].keys() == trees[2].keys()
    assert trees[0]["star/lineitem.parquet"] != trees[2]["star/lineitem.parquet"]
    assert trees[0]["raw/journeys_week1.csv"] != trees[2]["raw/journeys_week1.csv"]


def test_journey_zone_has_the_controlled_shares(tmp_path):
    import pandas as pd

    z = datagen.write_journey_zone(str(tmp_path), 3, 0.01)
    weeks = [pd.read_csv(p) for p in z["weeks"]]
    assert list(weeks[0].columns) == datagen._JOURNEY_COLUMNS
    ids = [set(w["Rental Id"]) for w in weeks]
    assert all(len(s) == len(w) for s, w in zip(ids, weeks))  # unique within a week
    assert len(ids[0] & ids[1]) == int(len(weeks[1]) * datagen.REDELIVERED_SHARE)
    assert z["expected"]["rental_ids"] == len(set().union(*ids))
    assert max(z["expected"]["stations"]) > datagen.N_STATIONS  # unknown ids
    assert (weeks[0]["Start Date"] == weeks[0]["End Date"]).any()  # shared stamps
    with open(z["weather_json"]) as fh:
        days = json.load(fh)["days"]
    assert len(days) == datagen.WEATHER_DAYS
    assert sum(d["snow"] is None for d in days) > 0.7 * len(days)


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for metrics in (run.END_TO_END, run.PER_LAYER):
        assert all(name.match(m) for m in metrics)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    import workloads

    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_covered_seconds_merges_overlapping_jobs():
    assert tracing.covered_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert tracing.covered_seconds([]) == 0.0


def test_run_without_an_engine_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "journey_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


@pytest.fixture(scope="module")
def traced_curation(tmp_path_factory):
    """A tiny (sf0.001) traced curate-corpus run plus the set-up warmup,
    with the event log on."""
    from batch_processing_on_aws_spark.pipeline import curate_corpus
    from batch_processing_on_aws_spark.session import get_spark

    d = tmp_path_factory.mktemp("traced")
    sf_dir = datagen.write_star_tables(str(d / "in"), 1, 0.001, ("documents",))
    events = d / "events"
    events.mkdir()
    rec = tracing.Recorder(traced=True)
    tracing.instrument(rec)
    spark = get_spark(app_name="perfbench-test", cpus=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(events),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    rec.sc = spark.sparkContext
    try:
        with rec.op("pipeline.curate_corpus"):
            curate_corpus(spark, sf_dir, str(d / "out"))
        # An untimed write: none of its files may count.
        spark.range(0, 50, 1, 5).write.parquet(str(d / "untimed"))
        # curate_corpus runs no Python UDF; the warmup's pandas UDF does
        with rec.op("warmup"):
            run.warm(spark, 2)
    finally:
        run.stop_session(spark)
    op_spans = {s["id"] for s in rec.spans if s["attrs"].get("op")}
    log = tracing.read_event_log(str(events), lambda sid: bool(op_spans & set(rec.ancestry(sid))))
    return rec, log, d


def test_event_log_yields_scheduler_executor_and_python_metrics(traced_curation):
    rec, log, _ = traced_curation
    m = log["metrics"]
    for key in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                "executor.run_s", "executor.cpu_s",
                "python.total_s", "python.bytes_sent", "python.bytes_received",
                "io.output_bytes", "io.output_files"):
        assert m[key] > 0, key
    assert len(log["intervals"]) == m["scheduler.jobs"]
    assert any(s["name"] == "operators.materialize" for s in rec.spans)


def test_written_files_count_only_inside_timed_operations(traced_curation):
    _, log, d = traced_curation
    timed = glob.glob(str(d / "out" / "**" / "part-*"), recursive=True)
    assert timed
    assert log["metrics"]["io.output_files"] == len(timed)
