"""End-to-end test of the reference-shaped pipeline on fixture data
built to FIXTURES.md §A: unknown station ids (anti-join path),
duplicate rental ids across weeks (upsert idempotency), shared
start/end timestamps (datetime dedup), sparse weather columns
(the >70%-null drop rule)."""

import json
import os

import pytest

from batch_processing_on_aws_spark.pipeline import JourneyPipeline, WarehousePaths

STATIONS_CSV = """Station.Id,StationName,longitude,latitude,easting,northing
1,Kings Cross,-0.12,51.53,530000,182000
2,Waterloo,-0.11,51.50,531000,180000
"""

# Week 1: rental 100 + 101; station 9 unknown; shared timestamp 12:00
WEEK1_CSV = """Rental Id,Duration,Bike Id,End Date,EndStation Id,EndStation Name,Start Date,StartStation Id,StartStation Name
100,600,11,31/01/2021 12:10,2,Waterloo,31/01/2021 12:00,1,Kings Cross
101,300,12,31/01/2021 12:05,9,Mystery St,31/01/2021 12:00,1,Kings Cross
"""

# Week 2: rental 101 re-delivered with corrected end station (upsert
# must replace, not duplicate), plus a new rental.
WEEK2_CSV = """Rental Id,Duration,Bike Id,End Date,EndStation Id,EndStation Name,Start Date,StartStation Id,StartStation Name
101,300,12,01/02/2021 09:05,2,Waterloo,01/02/2021 09:00,1,Kings Cross
102,900,13,01/02/2021 10:15,1,Kings Cross,01/02/2021 10:00,2,Waterloo
"""

WEATHER_JSON = {
    "latitude": 51.5,
    "longitude": -0.12,
    "timezone": "Europe/London",
    "days": [
        {"datetime": "2021-01-31", "temp": 4.5, "tempmax": 6.0, "tempmin": 2.0,
         "humidity": 80.0, "precip": 0.0, "snow": None, "snowdepth": None},
        {"datetime": "2021-02-01", "temp": 5.5, "tempmax": 7.0, "tempmin": 3.0,
         "humidity": 75.0, "precip": 1.2, "snow": None, "snowdepth": None},
    ],
}


@pytest.fixture()
def pipe(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "stations.csv").write_text(STATIONS_CSV)
    (raw / "week1.csv").write_text(WEEK1_CSV)
    (raw / "week2.csv").write_text(WEEK2_CSV)
    (raw / "weather.json").write_text(json.dumps(WEATHER_JSON))
    p = JourneyPipeline(spark, WarehousePaths(str(tmp_path / "wh")))
    p.bootstrap_stations(str(raw / "stations.csv"))
    p.bootstrap_weather(str(raw / "weather.json"))
    return p, raw


def test_full_flow_and_idempotency(pipe):
    p, raw = pipe
    p.process_journey_batch(str(raw / "week1.csv"))

    # unknown station 9 discovered and padded (reference :95)
    st = {r["station_id"]: r for r in p.stations().collect()}
    assert set(st) == {1, 2, 9}
    assert st[9]["station_name"] is None and st[9]["longitude"] == 0.0
    assert st[1]["station_name"] == "Kings Cross"

    # shared 12:00 timestamp appears once in dim_datetime
    dts = [r["datetime_id"] for r in p.datetime_dim().collect()]
    assert len(dts) == len(set(dts)) == 3  # 12:00, 12:05, 12:10

    p.process_journey_batch(str(raw / "week2.csv"))
    fact = {r["rental_id"]: r for r in p.fact().collect()}
    assert set(fact) == {100, 101, 102}
    # rental 101 replaced by the week-2 version (end station corrected)
    assert fact[101]["end_station"] == 2
    assert fact[101]["start_date"].day == 1

    # re-running week 2 changes nothing (§2.9 idempotency contract)
    before = sorted(map(tuple, p.fact().collect()))
    p.process_journey_batch(str(raw / "week2.csv"))
    assert sorted(map(tuple, p.fact().collect())) == before
    assert p.datetime_dim().count() == 7  # 3 from week1 + 4 from week2


def test_batch_is_parsed_once(pipe):
    """The frame a weekly batch returns reads the one materialized copy
    of the parsed CSV, not the CSV itself."""
    p, raw = pipe
    fact = p.process_journey_batch(str(raw / "week1.csv"))
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "FileScan csv" not in plan
    assert sorted(r["rental_id"] for r in fact.collect()) == [100, 101]


def test_weather_sparse_columns_dropped(pipe):
    p, _ = pipe
    cols = p.weather().columns
    assert "snow" not in cols and "snowdepth" not in cols  # 100% null → dropped
    assert "temp" in cols and "weather_date" in cols


def test_star_join_serves_dashboard_shape(pipe, spark):
    """The serving query shape (README.md:35-41): fact ⋈ dims."""
    from pyspark.sql import functions as F

    p, raw = pipe
    p.process_journey_batch(str(raw / "week1.csv"))
    p.process_journey_batch(str(raw / "week2.csv"))
    out = (
        p.fact()
        .join(F.broadcast(p.stations()), F.col("start_station") == F.col("station_id"))
        .join(F.broadcast(p.weather()), "weather_date")
        .groupBy("station_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("temp"), 2).alias("avg_temp"))
        .collect()
    )
    got = {r["station_name"]: (r["n"], r["avg_temp"]) for r in out}
    assert got["Kings Cross"] == (2, 5.0)  # rentals 100 (4.5°) + 101 (5.5°)
    assert got["Waterloo"] == (1, 5.5)


def test_cli_runs_all_stages(spark, tmp_path, capsys):
    """The CLI twin of the fixture flow: three stages, then re-run the
    batch to confirm the idempotency contract holds through main()."""
    from batch_processing_on_aws_spark.pipeline import main

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "stations.csv").write_text(STATIONS_CSV)
    (raw / "week1.csv").write_text(WEEK1_CSV)
    (raw / "weather.json").write_text(json.dumps(WEATHER_JSON))
    wh = str(tmp_path / "wh")

    assert main(["--warehouse", wh, "bootstrap-stations", str(raw / "stations.csv")]) == 0
    assert main(["--warehouse", wh, "bootstrap-weather", str(raw / "weather.json")]) == 0
    assert main(["--warehouse", wh, "journey-batch", str(raw / "week1.csv")]) == 0
    assert main(["--warehouse", wh, "journey-batch", str(raw / "week1.csv")]) == 0

    p = JourneyPipeline(spark, WarehousePaths(wh))
    assert {r["rental_id"] for r in p.fact().collect()} == {100, 101}
    out = capsys.readouterr().out
    assert "journey-batch: 2 rows" in out


def test_curate_corpus_writes_split_partitions(spark, tmp_path):
    """The curation stage materializes the flagship pipeline into a
    split-partitioned parquet table; re-running it is byte-idempotent
    (deterministic hash split + integer packing)."""
    import os

    from pyspark.sql import functions as F

    from batch_processing_on_aws_spark.pipeline import curate_corpus
    from batch_processing_on_aws_spark.plans import golden
    from tests.conftest import SF_SMOKE

    out_root = str(tmp_path / "wh")
    got = curate_corpus(spark, SF_SMOKE, out_root, budget=64)
    expected = golden.training_corpus(spark, SF_SMOKE).count()
    assert got.count() == expected > 0
    parts = set(os.listdir(os.path.join(out_root, "training_corpus")))
    assert {"split=train", "split=val", "split=test"} <= parts
    # packing invariant survives the write
    assert got.where((F.col("seq_offset") < 0) | (F.col("seq_offset") >= 64)).count() == 0

    a = {tuple(r) for r in got.collect()}  # collect BEFORE the overwrite
    again = curate_corpus(spark, SF_SMOKE, out_root, budget=64)
    b = {tuple(r) for r in again.collect()}
    assert a == b


def test_curate_corpus_scrub_pii_flag(spark, tmp_path):
    """With scrub_pii the materialized text carries no redactable
    spans; without it the corpus is byte-identical to the contract
    default (the flag must not perturb the unflagged path)."""
    from pyspark.sql import functions as F

    from batch_processing_on_aws_spark.operators.pii import redact_pii
    from batch_processing_on_aws_spark.pipeline import curate_corpus
    from tests.conftest import SF_SMOKE

    plain = curate_corpus(spark, SF_SMOKE, str(tmp_path / "a"), budget=64)
    scrubbed = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "b"), budget=64, scrub_pii=True
    )
    counts = redact_pii(
        scrubbed.select(F.col("doc_id"), F.col("text"))
    ).selectExpr("sum(n_email + n_ipv4 + n_ssn + n_phone) as total").collect()
    assert counts[0]["total"] == 0
    # same docs survive curation either way; only text may differ
    assert {r["doc_id"] for r in plain.select("doc_id").collect()} == {
        r["doc_id"] for r in scrubbed.select("doc_id").collect()
    }


def test_curate_corpus_dup_span_gate(spark, tmp_path):
    """max_dup_span_share drops exactly the docs above the threshold
    (exact-substring hygiene), measured over the SURVIVING population —
    a doc must not be dropped for sharing spans only with docs the
    quality/language/dedup stages already removed — and leaves the
    default path untouched."""
    from pyspark.sql import functions as F

    from batch_processing_on_aws_spark.operators.neardup import dup_span_share
    from batch_processing_on_aws_spark.pipeline import curate_corpus
    from batch_processing_on_aws_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    plain = curate_corpus(spark, SF_SMOKE, str(tmp_path / "a"), budget=64)
    gated = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "b"), budget=64, max_dup_span_share=0.5
    )
    plain_ids = {r["doc_id"] for r in plain.select("doc_id").collect()}
    gated_ids = {r["doc_id"] for r in gated.select("doc_id").collect()}
    docs = load_table(spark, SF_SMOKE, "documents")
    surviving = docs.where(F.col("doc_id").isin([int(i) for i in plain_ids]))
    high = {
        r["doc_id"]
        for r in dup_span_share(surviving).where("dup_share > 0.5").collect()
    }
    assert gated_ids == plain_ids - high
    # the population is the point: on this fixture every span-sharing
    # partner of a surviving doc was already removed by the
    # quality/dedup stages, so measured over SURVIVORS nothing crosses
    # the threshold — while the RAW-table share (the old semantics)
    # would have over-dropped real survivors for collisions with
    # already-deleted docs
    raw_high = {
        r["doc_id"]
        for r in dup_span_share(docs).where("dup_share > 0.5").collect()
    }
    assert raw_high & plain_ids, "fixture should distinguish populations"
    assert high <= raw_high
    assert gated_ids - (plain_ids - raw_high), (
        "gate must keep the docs only the raw population would drop"
    )


def test_curate_corpus_semantic_decontam_gate(spark, tmp_path):
    """--semantic-decontam-bench: a benchmark whose vector is an exact
    copy of one surviving doc's embedding drops exactly that doc (the
    paraphrase-leak removal form, doc granularity), leaving the rest
    of the materialization identical."""
    from pyspark.sql import functions as F

    from batch_processing_on_aws_spark.pipeline import curate_corpus
    from batch_processing_on_aws_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    plain = curate_corpus(spark, SF_SMOKE, str(tmp_path / "a"), budget=64)
    plain_ids = {r["doc_id"] for r in plain.select("doc_id").collect()}
    victim = min(plain_ids)
    bench_path = str(tmp_path / "bench.parquet")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.where(F.col("vec_id") == victim).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    ).write.parquet(bench_path)
    gated = curate_corpus(
        spark,
        SF_SMOKE,
        str(tmp_path / "b"),
        budget=64,
        semantic_decontam_bench=bench_path,
        semantic_decontam_tau=0.999,
    )
    gated_ids = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert victim not in gated_ids
    # tau≈1 on near-orthogonal synthetic vectors: only the exact
    # self-match is flagged, everything else survives untouched
    assert gated_ids == plain_ids - {victim}
