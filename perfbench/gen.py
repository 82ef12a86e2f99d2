"""Seeded input generators for the benchmark.

Two families, both a pure function of ``seed``:

* ``write_tables`` — the star schema plus ``events``, ``documents`` and
  ``embeddings`` with the column names and types of FIXTURES.md §A, one
  parquet file per table (what ``sources.tables.load_table`` reads).
* ``write_nrg_inputs`` — reference-shaped EIA-930 and GHCN-Daily CSV
  shards (gzipped) plus a ``locations`` CSV (FIXTURES.md §B), and the
  counts built into them, which the checks compare against.

Run as a script to materialise either set for inspection:

    python3 perfbench/gen.py tables <dir> --seed 1
    python3 perfbench/gen.py nrg <dir> --seed 1
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- star schema + LLM tables -------------------------------------------------

#: Rows per table. Sized like the repository's sf0.01 fixture set: at
#: this size the engine is bound by planning, scheduling and JIT rather
#: than by executor throughput, which is the regime every catalog query
#: shares with the 100 TB plan shapes it exercises.
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64
EMBED_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
NEAR_DUP_SHARE = 0.2  # documents that are a light edit of an earlier one

_DAY_US = 86_400 * 1_000_000


def _days(lo: str, hi: str) -> tuple[int, int]:
    epoch = dt.date(1970, 1, 1)
    return (dt.date.fromisoformat(lo) - epoch).days, (dt.date.fromisoformat(hi) - epoch).days


def _ts_days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    us = rng.integers(a, b + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        docs.append(" ".join(words))
    return docs


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every table as an Arrow table; same seed, same bytes."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = TABLE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(c), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(p), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(PART_ADJ), p), rng.integers(0, len(PART_NOUN), p))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": [PART_TYPES[k] for k in rng.integers(0, len(PART_TYPES), p)],
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _ts_days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(100.0, 3000.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, li)],
            "l_shipdate": _ts_days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start_us = _days("2024-01-01", "2024-01-01")[0] * _DAY_US
    ts = np.sort(rng.integers(0, 30 * _DAY_US, e)) + start_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(e), i64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, e), i64),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = _documents(rng, d)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(d), i64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), d)],
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    m = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, m)
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(m), i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --- reference-shaped NRG inputs ------------------------------------------------

#: Balancing authorities (code, EIA region).
BAS = [("CISO", "CAL"), ("ERCO", "TEX"), ("PJM", "MIDA"), ("MISO", "MIDW"), ("NYIS", "NY"), ("ISNE", "NE")]
FUELS = [
    "Coal", "Natural Gas", "Nuclear", "All Petroleum Products",
    "Hydropower and Pumped Storage", "Solar", "Wind", "Other Fuel Sources",
    "Unknown Fuel Sources",
]
BA_HEADER = [
    "Balancing Authority", "Region", "Local Time at End of Hour",
    "UTC Time at End of Hour", "Data Date", "Demand Forecast (MW)",
    "Demand (MW) (Adjusted)", "Net Generation (MW) (Adjusted)",
    *[f"Net Generation (MW) from {f}" for f in FUELS],
]
PIVOT_PARAMS = ["TMIN", "TMAX", "TAVG", "SNOW", "SNWD", "PRCP"]
EXTRA_PARAMS = ["AWND", "WESF"]  # present in GHCN, dropped by the pivot
NRG_START = dt.datetime(2021, 10, 20)  # the hourly window crosses two month ends
NRG_DAYS = 50
STATIONS_PER_BA = 4
NULL_ACRONYM_STATIONS = 2  # listed in locations with an empty Acronym
UNKNOWN_STATIONS = 6  # in the weather shards, absent from locations
LOCATION_ONLY_STATIONS = 3  # in locations, no weather rows
WEATHER_SHARDS = 4
VIOLATION_SHARE = 0.01  # BA rows whose total is not the sum of its parts
DUPLICATE_SHARE = 0.01  # BA rows repeated verbatim (the DISTINCT drops them)


def _station(k: int) -> str:
    return f"USW{k:08d}"


def write_nrg_inputs(seed: int, out_dir: str) -> dict:
    """Write ``ba/``, ``weather/`` (gzipped CSV shards) and
    ``locations.csv`` under ``out_dir``; return the paths and the counts
    built into the data."""
    rng = np.random.default_rng([seed, 0xE1A930])
    ba_dir = os.path.join(out_dir, "ba")
    wx_dir = os.path.join(out_dir, "weather")
    os.makedirs(ba_dir, exist_ok=True)
    os.makedirs(wx_dir, exist_ok=True)

    hours = [NRG_START + dt.timedelta(hours=h + 1) for h in range(NRG_DAYS * 24)]
    rows_per_ba: dict[str, int] = {}
    violations = duplicates = 0
    for code, region in BAS:
        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(BA_HEADER)
        parts = rng.integers(0, 5000, (len(hours), len(FUELS)))
        forecast = rng.integers(1000, 60000, len(hours))
        demand = rng.integers(1000, 60000, len(hours))
        bad = rng.random(len(hours)) < VIOLATION_SHARE
        dup = rng.random(len(hours)) < DUPLICATE_SHARE
        for i, local in enumerate(hours):
            total = int(parts[i].sum()) + (int(rng.integers(1, 500)) if bad[i] else 0)
            utc = local + dt.timedelta(hours=8)
            row = [
                code,
                region,
                local.strftime("%m/%d/%Y %I:%M:%S %p"),
                utc.strftime("%m/%d/%Y %I:%M:%S %p"),
                local.strftime("%m/%d/%Y"),
                str(int(forecast[i])),
                str(int(demand[i])),
                str(total),
                *[str(int(x)) for x in parts[i]],
            ]
            w.writerow(row)
            if dup[i]:
                w.writerow(row)
        rows_per_ba[code] = len(hours)
        violations += int(bad.sum())
        duplicates += int(dup.sum())
        with gzip.open(os.path.join(ba_dir, f"EIA930_{code}.csv.gz"), "wt", newline="") as f:
            f.write(buf.getvalue())

    # Stations: STATIONS_PER_BA per BA, then NULL-acronym ones, then ones
    # only the locations table lists, then unknown ones only weather has.
    known = [(_station(i * 10 + j), code) for i, (code, _) in enumerate(BAS) for j in range(STATIONS_PER_BA)]
    base = 1000
    null_acr = [_station(base + k) for k in range(NULL_ACRONYM_STATIONS)]
    loc_only = [_station(base + 100 + k) for k in range(LOCATION_ONLY_STATIONS)]
    unknown = [_station(base + 200 + k) for k in range(UNKNOWN_STATIONS)]
    with open(os.path.join(out_dir, "locations.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Stations", "Acronym"])
        for st, code in known:
            w.writerow([st, code])
        for st in null_acr:
            w.writerow([st, ""])
        for st, code in zip(loc_only, [b for b, _ in BAS]):
            w.writerow([st, code])

    days = [(NRG_START + dt.timedelta(days=d)).strftime("%Y%m%d") for d in range(NRG_DAYS)]
    wx_rows: list[list[str]] = []
    unknown_rows = 0
    for st in [s for s, _ in known] + null_acr + unknown:
        for day in days:
            for param in PIVOT_PARAMS + EXTRA_PARAMS:
                reps = 2 if rng.random() < 0.05 else 1  # duplicate readings: the pivot keeps max
                for _ in range(reps):
                    wx_rows.append(
                        [st, day, param, str(int(rng.integers(-300, 400))), "", "", "S", "0700" if param == "TMAX" else ""]
                    )
                    if st in unknown:
                        unknown_rows += 1
    order = rng.permutation(len(wx_rows))
    for s in range(WEATHER_SHARDS):
        with gzip.open(os.path.join(wx_dir, f"ghcn_{s}.csv.gz"), "wt", newline="") as f:
            w = csv.writer(f)
            for i in order[s::WEATHER_SHARDS]:
                w.writerow(wx_rows[i])

    counts = {
        "ba_rows_per_ba": rows_per_ba,
        "ba_duplicate_rows": duplicates,
        "distinct_local_times": len(hours),
        "station_days_known": (len(known) + len(null_acr)) * len(days),
        "unknown_station_rows": unknown_rows,
        "null_acronym_station_days": len(null_acr) * len(days),
        "consistency_violations": violations,
        "weather_rows": len(wx_rows),
    }
    return {
        "ba_csv": ba_dir,
        "weather_csv": wx_dir,
        "locations_csv": os.path.join(out_dir, "locations.csv"),
        "counts": counts,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("family", choices=["tables", "nrg"])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    if a.family == "tables":
        print(json.dumps(write_tables(a.seed, a.out_dir)))
    else:
        print(json.dumps(write_nrg_inputs(a.seed, a.out_dir)["counts"]))
