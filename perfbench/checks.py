"""Correctness checks, computed apart from the engine.

Every expected answer here comes from DuckDB reading the same staged
files, or from the counts the generator built into its inputs. No check
compares against a stored copy of an earlier engine output.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import re

import duckdb

from .gen import FUELS, PIVOT_PARAMS


def canon(v) -> str:
    """One canonical string per value, so Spark rows and DuckDB rows
    compare as exact multisets (floats by repr: bit-exact)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    """Rows (Spark ``Row``s or tuples in ``cols`` order) → sorted
    canonical tuples with the columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple[str, ...]]]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    return sorted(cols), canon_rows(cols, rel.fetchall())


def spark_rows(cols: list[str], rows) -> tuple[list[str], list[tuple[str, ...]]]:
    return sorted(cols), canon_rows(cols, [tuple(r) for r in rows])


def materialized(sql: str, ctes: tuple[str, ...]) -> str:
    """``sql`` with each named CTE marked ``AS MATERIALIZED``. The query's
    meaning is unchanged; DuckDB then evaluates each CTE once instead of
    inlining it into every consumer. For ``corpus_pipeline_e2e_lsh``'s
    oracle on 500 documents that is 2.3 s instead of 46 s."""
    for name in ctes:
        sql, n = re.subn(rf"\b{name} AS \(", f"{name} AS MATERIALIZED (", sql)
        if n != 1:
            raise ValueError(f"CTE {name!r} is not defined exactly once in the oracle")
    return sql


def duck_connection(tables_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    """DuckDB with one thread per core: checks run after the timed passes,
    when the session is idle."""
    con = duckdb.connect()
    con.sql(f"SET threads = {len(os.sched_getaffinity(0))}")
    if tables_dir:
        for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# --- nrg_etl --------------------------------------------------------------------

_SNAKE = {f: "net_generation_" + s for f, s in zip(
    FUELS, ["coal", "natural_gas", "nuclear", "petroleum", "hydro", "solar", "wind", "other", "unknown"]
)}


def _nrg_views(con: duckdb.DuckDBPyConnection, inputs: dict) -> None:
    fuel_cols = ",\n".join(
        f'CAST("Net Generation (MW) from {f}" AS DOUBLE) AS {_SNAKE[f]}' for f in FUELS
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW raw_ba AS SELECT * FROM read_csv(
            '{inputs["ba_csv"]}/*.csv.gz', header = true, all_varchar = true)"""
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW exp_bal_auth AS SELECT DISTINCT
            "Balancing Authority" AS bal_auth, "Region" AS region,
            "Local Time at End of Hour" AS local_time,
            "UTC Time at End of Hour" AS utc_time, "Data Date" AS data_date,
            CAST("Demand Forecast (MW)" AS DOUBLE) AS demand_forecast,
            CAST("Demand (MW) (Adjusted)" AS DOUBLE) AS demand,
            CAST("Net Generation (MW) (Adjusted)" AS DOUBLE) AS net_generation,
            {fuel_cols},
            CAST(month(strptime("Data Date", '%m/%d/%Y')) AS BIGINT) AS month,
            CAST(year(strptime("Data Date", '%m/%d/%Y')) AS BIGINT) AS year
        FROM raw_ba"""
    )
    con.sql(
        """CREATE OR REPLACE VIEW exp_time AS SELECT DISTINCT local_time,
            CAST(hour(ts) AS INTEGER) AS hour, CAST(day(ts) AS INTEGER) AS day,
            CAST(weekofyear(ts) AS INTEGER) AS week,
            CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday,
            CAST(month(ts) AS BIGINT) AS month, CAST(year(ts) AS BIGINT) AS year
        FROM (SELECT "Local Time at End of Hour" AS local_time,
                     strptime("Local Time at End of Hour", '%m/%d/%Y %I:%M:%S %p') AS ts
              FROM raw_ba)"""
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW raw_wx AS SELECT * FROM read_csv(
            '{inputs["weather_csv"]}/*.csv.gz', header = false, columns = {{
            'station_id': 'VARCHAR', 'date': 'VARCHAR', 'parameter_id': 'VARCHAR',
            'value': 'INTEGER', 'm_flag': 'VARCHAR', 'q_flag': 'VARCHAR',
            's_flag': 'VARCHAR', 'time': 'VARCHAR'}})"""
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW loc AS SELECT * FROM read_csv(
            '{inputs["locations_csv"]}', header = true, all_varchar = true)"""
    )
    pivot = ", ".join(f"max(value) FILTER (WHERE parameter_id = '{p}') AS {p}" for p in PIVOT_PARAMS)
    con.sql(
        f"""CREATE OR REPLACE VIEW exp_weather AS SELECT
            l.Acronym AS bal_auth, w.*,
            CAST(month(strptime(w.date, '%Y%m%d')) AS BIGINT) AS month,
            CAST(year(strptime(w.date, '%Y%m%d')) AS BIGINT) AS year
        FROM (SELECT station_id, date, {pivot} FROM raw_wx
              WHERE station_id IN (SELECT Stations FROM loc)
              GROUP BY station_id, date) w
        LEFT JOIN loc l ON w.station_id = l.Stations"""
    )


def _written(path: str, cols: str) -> str:
    return (
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = true)"
    )


def check_nrg(inputs: dict, outputs: dict) -> dict[int, list[str]]:
    """Compare each pass's written tables and QC report (``outputs``:
    pass -> NrgOutputs) with DuckDB over the raw CSVs and with the
    generator's counts. Returns the problems found per pass."""
    oracle: list[str] = []
    counts = inputs["counts"]
    con = duck_connection()
    try:
        _nrg_views(con, inputs)
        # The oracle itself must agree with what the generator built in.
        per_ba = dict(con.sql("SELECT bal_auth, count(*) FROM exp_bal_auth GROUP BY 1").fetchall())
        if per_ba != counts["ba_rows_per_ba"]:
            oracle.append(f"bal_auth rows per BA {per_ba} != generated {counts['ba_rows_per_ba']}")
        facts = con.sql(
            """SELECT (SELECT count(*) FROM exp_time),
                      (SELECT count(*) FROM exp_weather),
                      (SELECT count(*) FROM exp_weather WHERE bal_auth IS NULL),
                      (SELECT count(*) FROM raw_wx WHERE station_id NOT IN (SELECT Stations FROM loc))"""
        ).fetchone()
        expect = (
            counts["distinct_local_times"],
            counts["station_days_known"],
            counts["null_acronym_station_days"],
            counts["unknown_station_rows"],
        )
        if tuple(facts) != expect:
            oracle.append(f"time/weather/null-acronym/unknown counts {facts} != generated {expect}")

        parts = " + ".join(_SNAKE[f] for f in FUELS)
        expected_qc = {
            "weather_null_partition_keys": counts["null_acronym_station_days"],
            "bal_auth_net_generation_consistency": con.sql(
                f"SELECT count(*) FROM exp_bal_auth WHERE net_generation != {parts}"
            ).fetchone()[0],
        }
        if expected_qc["bal_auth_net_generation_consistency"] != counts["consistency_violations"]:
            oracle.append("oracle violation count != generated violation count")
        for table in ("bal_auth", "weather", "time"):
            expected_qc[f"{table}_row_count_min_1"] = con.sql(f"SELECT count(*) FROM exp_{table}").fetchone()[0]
        for table, col in (("bal_auth", "bal_auth"), ("weather", "station_id"), ("weather", "date"),
                           ("weather", "TMIN"), ("weather", "TMAX")):
            expected_qc[f"{table}_{col}_nulls"] = con.sql(
                f'SELECT count(*) FROM exp_{table} WHERE "{col}" IS NULL'
            ).fetchone()[0]

        want, select = {}, {}
        for table in ("bal_auth", "time", "weather"):
            cols = [r[0] for r in con.sql(f"DESCRIBE exp_{table}").fetchall()]
            # Spark writes a NULL partition value as __HIVE_DEFAULT_PARTITION__.
            select[table] = ", ".join(
                "NULLIF(bal_auth, '__HIVE_DEFAULT_PARTITION__') AS bal_auth" if c == "bal_auth" and table == "weather"
                else f'"{c}"'
                for c in cols
            )
            want[table] = duck_rows(con, f"SELECT * FROM exp_{table}")[1]

        problems: dict[int, list[str]] = {}
        for i, out in outputs.items():
            found = list(oracle)
            for table in ("bal_auth", "time", "weather"):
                path = getattr(out, f"{table}_path")
                got = duck_rows(con, _written(path, select[table]))[1]
                if got != want[table]:
                    found.append(f"{table}: {len(got)} rows written, {len(want[table])} expected, or values differ")
            with open(out.qc_report_path) as f:
                seen = {r["check"]: r["actual"] for r in json.load(f)["results"]}
            if seen != expected_qc:
                found.append(f"QC values {seen} != oracle {expected_qc}")
            problems[i] = found
        return problems
    finally:
        con.close()
