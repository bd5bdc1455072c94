"""The benchmark's workloads: one closed-loop client each.

A workload runs *passes* of a fixed unit of work until the timed
seconds are used up (always at least one pass), timing every operation
(``Recorder.op``) and checking every output afterwards, outside the
timed operations. A failed or wrong operation counts in ``failed``.

The engine is touched only through its public entry points:
``__spark_entry__.queries()`` / ``oracle_sql()`` (the ``plans``
builders and their DuckDB twins), ``pipeline.JourneyPipeline``,
``pipeline.curate_corpus`` and, in traced runs, the merge writer.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# The four dashboard questions and the 19 TPC-H-shaped registry queries.
STAR_QUERIES = (
    "q1_avg_events_per_hour", "q2_orders_by_region", "q3_orders_by_weekday",
    "q4_daily_shipments_1996", "q4_rolling_7day", "q3_shipping_priority",
    "q6_forecast_revenue", "q7_nation_trade_flows", "q8_market_share",
    "q9_part_type_profit", "q10_returned_items", "q11_part_value_concentration",
    "q12_late_shipments", "q13_customer_order_counts", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_variety", "q17_small_quantity_revenue",
    "q18_large_orders", "q19_bracketed_revenue", "q20_heavy_suppliers",
    "q21_waiting_suppliers", "q22_idle_rich_customers",
)
GRAPH_QUERIES = (
    "supplier_pagerank", "customer_ring_scc",
    "customer_hierarchy_closure", "part_copurchase_triangles",
)
SF = 0.1


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(kind: str, out_dir: str, seed: int, tables=()) -> dict:
    """Run the seeded generator in a child process, so its memory never
    counts towards the engine's peak RSS; returns its JSON answer."""
    cmd = [sys.executable, os.path.join(HERE, "datagen.py"), kind, out_dir, str(seed), str(SF), *tables]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out)


# ---------------------------------------------------------------------------
# Result normalisation (the same rules as the repo's parity gate:
# columns sorted by name, doubles rounded to 9 decimals, rows sorted)
# ---------------------------------------------------------------------------


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def value_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    names = [cols[i] for i in order]
    return hashlib.sha256(repr((names, norm)).encode()).hexdigest()[:16]


def duckdb_oracle(sf_dir: str, tables, threads: int, tmp: str):
    import duckdb

    con = duckdb.connect(config={"threads": threads, "temp_directory": tmp})
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def materialized(sql: str) -> str:
    """The oracle's CTEs marked MATERIALIZED. Same result, but DuckDB
    then evaluates a CTE referenced several times once instead of
    inlining it at every reference (the unrolled pagerank twin drops
    from ~16 s to ~1 s at sf0.1)."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


class Workload:
    """Base: ``prepare`` (untimed inputs), ``run_pass`` (timed ops),
    ``check`` (untimed verification) and the op whose latency is
    ``op_p50_s``."""

    op_name = ""

    def __init__(self, rec, run_dir: str, seed: int, cpus: int):
        self.rec, self.run_dir, self.seed, self.cpus = rec, run_dir, seed, cpus
        self.spark = None  # set once the session is warm
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0  # rows consumed per pass, for rows_per_s

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, index: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def _attempt(self, name: str, fn, **attrs):
        """One operation; an exception counts as a failed op. Returns
        ``(ok, result)``."""
        self.attempted += 1
        try:
            with self.rec.op(name, **attrs):
                out = fn()
            _log(f"{name} {attrs} {self.rec.ops[-1][1]:.3f} s")
            return True, out
        except Exception:
            self.failed += 1
            _log(f"{name} {attrs} failed:\n{traceback.format_exc()}")
            return False, None


class QueryWorkload(Workload):
    """Registry queries over the seeded star schema, one query per op."""

    op_name = "query"
    names: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    shuffle = False  # a new query order, drawn from the seed, every pass

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(self.run_dir, "inputs")
        generate("star", self.sf_dir, self.seed, self.tables)
        self.registry = entry.queries()
        self.results: list[tuple[str, str | None]] = []

    def run_pass(self, index: int) -> None:
        names = self.names
        if self.shuffle:
            names = [names[i] for i in np.random.default_rng([self.seed, index]).permutation(len(names))]
        for name in names:
            ok, out = self._attempt("query", lambda: self._query(name), query=name)
            self.results.append((name, value_hash(*out) if ok else None))

    def _query(self, name):
        with self.rec.span("plans.build", query=name):
            df = self.registry[name](self.spark, self.sf_dir)
        with self.rec.span("plans.exec", query=name):
            rows = df.collect()
        return df.columns, rows

    def check(self) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb_oracle(self.sf_dir, self.tables, self.cpus, os.path.join(self.run_dir, "duckdb"))
        want: dict[str, str] = {}
        for name, got in self.results:
            if got is None:
                continue  # already counted when it raised
            if name not in want:
                res = con.execute(materialized(oracles[name]))
                want[name] = value_hash([d[0] for d in res.description], res.fetchall())
            if got != want[name]:
                self.failed += 1
                _log(f"{name}: result hash {got} != oracle {want[name]}")
        con.close()


class StarQueries(QueryWorkload):
    names = STAR_QUERIES
    shuffle = True
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


class IterativeGraph(QueryWorkload):
    names = GRAPH_QUERIES
    tables = ("customer", "orders", "lineitem")


class CorpusCuration(Workload):
    """``pipeline.curate_corpus`` (the curate-corpus CLI stage) into a
    fresh output root per op."""

    op_name = "pipeline.curate_corpus"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "inputs")
        generate("star", self.sf_dir, self.seed, ("documents",))
        import pyarrow.parquet as pq

        self.input_rows = pq.ParquetFile(os.path.join(self.sf_dir, "documents.parquet")).metadata.num_rows
        self.kept: list[set | None] = []

    def run_pass(self, index: int) -> None:
        from batch_processing_on_aws_spark.pipeline import curate_corpus

        out_root = os.path.join(self.run_dir, "corpus", str(index))
        ok, out = self._attempt(self.op_name, lambda: curate_corpus(self.spark, self.sf_dir, out_root))
        kept = None
        if ok:
            kept = {(r["doc_id"], r["split"]) for r in out.select("doc_id", "split").collect()}
        self.kept.append(kept)
        shutil.rmtree(out_root, ignore_errors=True)

    def check(self) -> None:
        import __spark_entry__ as entry

        con = duckdb_oracle(self.sf_dir, ("documents",), self.cpus, os.path.join(self.run_dir, "duckdb"))
        rows = con.execute(
            f"SELECT doc_id, split FROM ({materialized(entry.oracle_sql()['training_corpus'])})"
        ).fetchall()
        con.close()
        want = set(rows)
        for kept in self.kept:
            if kept is not None and kept != want:
                self.failed += 1
                _log(f"curate_corpus kept {len(kept)} (doc, split) pairs, oracle {len(want)}")


class JourneyIngest(Workload):
    """The reference pipeline: bootstrap the dimensions, process every
    weekly file in order, then re-run the last (completed) week."""

    op_name = "pipeline.journey_batch"

    def prepare(self) -> None:
        self.zone = generate("journey", os.path.join(self.run_dir, "raw"), self.seed)
        weeks = len(self.zone["weeks"])
        self.input_rows = self.zone["rows_per_week"] * (weeks + 1)

    def run_pass(self, index: int) -> None:
        from batch_processing_on_aws_spark.pipeline import JourneyPipeline, WarehousePaths

        z = self.zone
        wh = os.path.join(self.run_dir, "warehouse", str(index))
        pipe = JourneyPipeline(self.spark, WarehousePaths(wh))

        def bootstrap():
            pipe.bootstrap_stations(z["stations_csv"])
            pipe.bootstrap_weather(z["weather_json"])

        ok, _ = self._attempt("pipeline.bootstrap", bootstrap)
        for i, path in enumerate(z["weeks"]):
            if ok:
                ok, _ = self._attempt(self.op_name, lambda p=path: pipe.process_journey_batch(p), week=i + 1)
        if ok:
            digest = self._digest(pipe)
            problems = self._wrong_state(pipe, digest)
            if problems:
                # A wrong warehouse means the weekly batches were wrong.
                self.failed += len(z["weeks"])
            ok, _ = self._attempt("pipeline.rerun_batch", lambda: pipe.process_journey_batch(z["weeks"][-1]))
            if ok and self._digest(pipe) != digest:
                self.failed += 1
                problems.append("re-running a completed week changed the fact table")
            for p in problems:
                _log(f"journey pass {index}: {p}")
        shutil.rmtree(wh, ignore_errors=True)

    @staticmethod
    def _digest(pipe):
        """Order-insensitive value hash of the fact table, in-engine."""
        from pyspark.sql import functions as F

        fact = pipe.fact()
        row = fact.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*fact.columns), F.lit(2_147_483_647))).alias("h"),
        ).first()
        return row["n"], row["h"]

    def _wrong_state(self, pipe, digest) -> list[str]:
        from pyspark.sql import functions as F

        exp = self.zone["expected"]
        out = []
        fact = pipe.fact()
        sums = fact.select(
            F.countDistinct("rental_id").alias("ids"),
            F.sum("bike_id").alias("bike"),
            F.sum("start_station").alias("start"),
            F.sum("end_station").alias("end"),
        ).first()
        if digest[0] != exp["rental_ids"] or sums["ids"] != exp["rental_ids"]:
            out.append(f"fact rows {digest[0]} / ids {sums['ids']} != {exp['rental_ids']}")
        if [sums["bike"], sums["start"], sums["end"]] != exp["fact_sums"]:
            out.append("fact values are not the latest delivery of each rental")
        stations = sorted(r[0] for r in pipe.stations().select("station_id").collect())
        if stations != exp["stations"]:
            out.append(f"{len(stations)} stations != expected {len(exp['stations'])}")
        n_dt = pipe.datetime_dim().count()
        if n_dt != exp["datetime_ids"]:
            out.append(f"{n_dt} datetime ids != expected {exp['datetime_ids']}")
        weather = pipe.weather()
        if weather.count() != exp["weather_days"] or set(exp["sparse_weather"]) & set(weather.columns):
            out.append("weather dimension wrong (day count or sparse columns kept)")
        return out

    def check(self) -> None:
        pass  # checked per pass, while the warehouse exists


WORKLOADS = {
    "star_queries": StarQueries,
    "iterative_graph": IterativeGraph,
    "corpus_curation": CorpusCuration,
    "journey_ingest": JourneyIngest,
}


def run_timed(wl: Workload, seconds: float) -> list[float]:
    """Passes until ``seconds`` of timed operations have run (at least
    one); returns each pass's timed wall-clock (its ops' sum, so the
    untimed checks between ops do not count)."""
    walls: list[float] = []
    while not walls or sum(walls) < seconds:
        before = len(wl.rec.ops)
        wl.run_pass(len(walls))
        walls.append(sum(s for _, s in wl.rec.ops[before:]))
    return walls
