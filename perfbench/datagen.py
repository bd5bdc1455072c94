"""Seeded input generators for the benchmark.

Every file is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical files, so a run can be repeated exactly and two commits
can be compared on identical inputs. Each table draws from its own
random stream, so a table's content does not depend on which other
tables a workload asks for.

Two input families:

- ``write_star_tables``: the TPC-H-shaped star schema (plus the
  ``events`` and ``documents`` tables) that the engine's query
  registry reads through ``sources.load_table``. Column names, types
  and value domains follow the engine's ``schemas.TESTDATA`` registry;
  row counts scale with ``sf`` like the TPC-H tables do.
- ``write_journey_zone``: the reference pipeline's raw zone, a stations
  CSV, a weather JSON envelope and weekly journey CSVs in the
  reference's column layout, together with the answers a correct
  warehouse build must reproduce.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Base rows per unit of scale factor (TPC-H proportions).
STAR_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Stream ids keep tables independent of each other.
_STREAM = {name: i for i, name in enumerate(STAR_TABLES)}
_STREAM.update(stations=100, weather=101, journeys=102)

_JOURNEY_COLUMNS = [
    "Rental Id", "Duration", "Bike Id", "End Date", "EndStation Id",
    "EndStation Name", "Start Date", "StartStation Id", "StartStation Name",
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[stream]])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _star_table(name: str, seed: int, sf: float) -> pa.Table:
    rng = _rng(seed, name)
    n = _rows(name, sf) if name in STAR_ROWS else 0
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        keys = np.arange(n, dtype=np.int64)
        return pa.table({
            "p_partkey": keys,
            "p_name": np.array(names)[rng.integers(0, len(names), n)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, _rows("customer", sf), n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, _rows("orders", sf), n),
            "l_partkey": rng.integers(0, _rows("part", sf), n),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        })
    if name == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        return _documents(rng, max(500, int(50_000 * sf)))
    raise KeyError(name)


def _rows(name: str, sf: float) -> int:
    return max(1, int(round(STAR_ROWS[name] * sf)))


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary documents with planted duplicates: ~5% are
    near-duplicates of an earlier document (its text plus one marker
    token) and ~0.2% exact copies, so the curation pipeline's dedup and
    near-dup stages have real work."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_star_tables(out_dir: str, seed: int, sf: float, tables=STAR_TABLES) -> str:
    """Write ``<table>.parquet`` files for ``tables`` into ``out_dir``
    (the directory layout ``sources.load_table`` reads); returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        pq.write_table(_star_table(name, seed, sf), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# Journey raw zone (the reference pipeline's own inputs)
# ---------------------------------------------------------------------------

N_STATIONS = 808  # docking stations in the reference's stations file
WEATHER_DAYS = 396
FIRST_DAY = np.datetime64("2021-01-01", "D")
FIRST_WEEK = np.datetime64("2021-01-04", "D")  # a Monday
SPARSE_WEATHER = ("precipprob", "snow", "snowdepth")  # >70% null: dropped
_UNKNOWN_IDS = 24  # station ids beyond the stations file
WEEKS = 3  # weekly journey files
# Controlled shares of the rows of each weekly file (see write_journey_zone).
REDELIVERED_SHARE = 0.05
UNKNOWN_SHARE = 0.01
SHARED_TS_SHARE = 0.05


def _stations_csv(rng, path: str) -> list[str]:
    ids = np.arange(1, N_STATIONS + 1)
    names = [f"Station {i}" for i in ids]
    lon = np.round(rng.uniform(-0.24, 0.01, N_STATIONS), 6).astype(object)
    lat = np.round(rng.uniform(51.45, 51.55, N_STATIONS), 6).astype(object)
    # A few blank coordinates, as in the reference's stations file.
    lon[rng.random(N_STATIONS) < 0.01] = ""
    lat[rng.random(N_STATIONS) < 0.01] = ""
    pd.DataFrame({
        "Station.Id": ids,
        "StationName": names,
        "longitude": lon,
        "latitude": lat,
        "easting": np.round(rng.uniform(520000, 540000, N_STATIONS), 1),
        "northing": np.round(rng.uniform(170000, 190000, N_STATIONS), 1),
    }).to_csv(path, index=False)
    return names


def _weather_json(rng, path: str) -> None:
    measures = [
        "tempmax", "tempmin", "temp", "feelslikemax", "feelslikemin",
        "feelslike", "humidity", "precip", "windgust", "windspeed",
        "winddir", "pressure", "visibility", "solarradiation",
        "solarenergy", "uvindex", "moonphase",
    ]
    days = []
    for d in range(WEATHER_DAYS):
        day = {"datetime": str(FIRST_DAY + d)}
        for m in measures:
            day[m] = round(float(rng.uniform(0, 30)), 1)
        for m in SPARSE_WEATHER:
            day[m] = round(float(rng.uniform(0, 5)), 1) if rng.random() < 0.1 else None
        day["sunrise"] = "07:50:00"
        day["sunset"] = "16:20:00"
        day["tzoffset"] = 0.0
        days.append(day)
    envelope = {
        "latitude": 51.5,
        "longitude": -0.12,
        "timezone": "Europe/London",
        "days": days,
    }
    with open(path, "w") as fh:
        json.dump(envelope, fh)


def _journey_ts(minutes: np.ndarray) -> list[str]:
    """``dd/MM/yyyy HH:mm``, the reference's journey timestamp format."""
    return [f"{t[8:10]}/{t[5:7]}/{t[:4]} {t[11:16]}" for t in np.datetime_as_string(minutes, unit="m")]


def write_journey_zone(out_dir: str, seed: int, sf: float) -> dict:
    """Write the raw zone and return its paths plus the expected answers.

    ``WEEKS`` weekly files, each with these controlled shares:

    - ``REDELIVERED_SHARE`` of the rows of every week after the first
      re-deliver a rental id from the previous week with new values
      (the fact upsert must replace, not duplicate);
    - ``UNKNOWN_SHARE`` of the rows name a start or end station that is
      absent from the stations file (the anti-join padding path);
    - ``SHARED_TS_SHARE`` of the rows end in the minute they start, so
      the start and end columns share timestamps (the datetime dedup).

    A week holds ``500_000 * sf`` rows (50k at sf0.1). Rental ids are
    unique within a week. Expected answers describe the
    warehouse after every week has been processed in order:
    ``rental_ids`` (fact rows), ``stations`` (sorted station ids),
    ``datetime_ids`` (distinct timestamps), ``fact_sums`` (sums of
    bike_id, start_station and end_station over the latest delivery of
    each rental, which pins last-write-wins), ``weather_days`` and the
    ``sparse_weather`` columns the bootstrap must drop.
    """
    os.makedirs(out_dir, exist_ok=True)
    names = _stations_csv(_rng(seed, "stations"), os.path.join(out_dir, "stations.csv"))
    _weather_json(_rng(seed, "weather"), os.path.join(out_dir, "weather.json"))

    rng = _rng(seed, "journeys")
    all_names = np.array(
        names + [f"Unknown {i}" for i in range(N_STATIONS + 1, N_STATIONS + _UNKNOWN_IDS + 1)]
    )
    latest: dict[int, tuple[int, int, int]] = {}
    stamps: set[str] = set()
    stations = set(range(1, N_STATIONS + 1))
    next_id = 10_000_000
    prev_ids = np.empty(0, dtype=np.int64)
    week_files = []
    n = max(100, int(500_000 * sf))
    for w in range(WEEKS):
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        if w > 0:
            k = int(n * REDELIVERED_SHARE)
            ids[:k] = rng.choice(prev_ids, k, replace=False)
        start_st = rng.integers(1, N_STATIONS + 1, n)
        end_st = rng.integers(1, N_STATIONS + 1, n)
        unknown = rng.random(n) < UNKNOWN_SHARE
        which = rng.random(n) < 0.5
        unknown_ids = rng.integers(N_STATIONS + 1, N_STATIONS + _UNKNOWN_IDS + 1, n)
        start_st = np.where(unknown & which, unknown_ids, start_st)
        end_st = np.where(unknown & ~which, unknown_ids, end_st)
        start_min = rng.integers(0, 7 * 24 * 60, n)
        duration_min = rng.integers(1, 90, n)
        duration_min[rng.random(n) < SHARED_TS_SHARE] = 0
        week0 = (FIRST_WEEK + 7 * w).astype("datetime64[m]")
        start_s = _journey_ts(week0 + start_min.astype("timedelta64[m]"))
        end_s = _journey_ts(week0 + (start_min + duration_min).astype("timedelta64[m]"))
        bike = rng.integers(1, 15_000, n)
        frame = pd.DataFrame({
            "Rental Id": ids,
            "Duration": duration_min * 60,
            "Bike Id": bike,
            "End Date": end_s,
            "EndStation Id": end_st,
            "EndStation Name": all_names[end_st - 1],
            "Start Date": start_s,
            "StartStation Id": start_st,
            "StartStation Name": all_names[start_st - 1],
        })[_JOURNEY_COLUMNS]
        path = os.path.join(out_dir, f"journeys_week{w + 1}.csv")
        frame.to_csv(path, index=False)
        week_files.append(path)
        latest.update(zip(ids.tolist(), zip(bike.tolist(), start_st.tolist(), end_st.tolist())))
        stamps.update(start_s)
        stamps.update(end_s)
        stations.update(start_st.tolist())
        stations.update(end_st.tolist())
        prev_ids = ids
    vals = np.array(list(latest.values()), dtype=np.int64)
    return {
        "stations_csv": os.path.join(out_dir, "stations.csv"),
        "weather_json": os.path.join(out_dir, "weather.json"),
        "weeks": week_files,
        "rows_per_week": n,
        "expected": {
            "rental_ids": len(latest),
            "stations": sorted(stations),
            "datetime_ids": len(stamps),
            "weather_days": WEATHER_DAYS,
            "sparse_weather": list(SPARSE_WEATHER),
            "fact_sums": [int(x) for x in vals.sum(axis=0)],
        },
    }


def main(argv: list[str]) -> None:
    """``datagen.py star|journey OUT_DIR SEED SF [TABLE ...]``; prints
    the generator's answer as JSON."""
    kind, out_dir, seed, sf, *tables = argv
    if kind == "star":
        write_star_tables(out_dir, int(seed), float(sf), tables or STAR_TABLES)
        print(json.dumps({"dir": out_dir}))
    elif kind == "journey":
        print(json.dumps(write_journey_zone(out_dir, int(seed), float(sf))))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
