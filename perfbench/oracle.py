"""DuckDB ground truth for every output the benchmark checks.

Spark and DuckDB read the same files; results are compared after the
timed region, so checking costs no measured time.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import duckdb

SUITE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive digest): columns sorted by name,
    floats rounded to 6 places, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_cell(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    head = repr(sorted(columns))
    return len(norm), hashlib.sha256((head + repr(norm)).encode()).hexdigest()


def suite_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in SUITE_TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def suite_digest(con, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return result_digest(rel.columns, rel.fetchall())


# ---------------------------------------------------------------------------
# flights: ETL ground truth and API answers
# ---------------------------------------------------------------------------
def csv_airline_counts(csv_path: str) -> dict[str, int]:
    rows = duckdb.sql(
        f"SELECT upper(OP_CARRIER), count(*) FROM read_csv('{csv_path}', header=true, "
        "all_varchar=true) GROUP BY 1"
    ).fetchall()
    return dict(rows)


def warehouse_connection(flights_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW flights AS SELECT * FROM read_parquet("
        f"'{flights_path}/*/*.parquet', hive_partitioning=true)"
    )
    return con


def warehouse_airline_counts(con) -> dict[str, int]:
    return dict(con.sql("SELECT airline, count(*) FROM flights GROUP BY 1").fetchall())


def _where(f: dict) -> tuple[str, list]:
    clauses, params = ["TRUE"], []
    if f.get("start_date"):
        clauses.append("flight_date >= CAST(? AS DATE)")
        params.append(f["start_date"])
    if f.get("end_date"):
        clauses.append("flight_date <= CAST(? AS DATE)")
        params.append(f["end_date"])
    for key, col in (("airline", "airline"), ("origin", "origin"),
                     ("destination", "destination")):
        if f.get(key):
            clauses.append(f"{col} = ?")
            params.append(f[key].upper())
    return " AND ".join(clauses), params


def page_walk(con, filters: dict, limit: int, pages: int) -> list[dict]:
    """The first ``pages`` × ``limit`` rows in key order: what a cursor
    walk of that many pages must return, with no row skipped or repeated."""
    where, params = _where(filters)
    rel = con.execute(
        f"SELECT * FROM flights WHERE {where} "
        f"ORDER BY flight_date, flight_number, origin LIMIT {limit * pages}",
        params,
    )
    cols = [d[0] for d in rel.description]
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def metrics_summary(con, filters: dict) -> dict:
    where, params = _where(filters)
    base = (
        "SELECT *, coalesce(departure_delay > 15 OR arrival_delay > 15, false) AS d "
        f"FROM flights WHERE {where}"
    )
    g = con.execute(
        "SELECT count(*), floor(avg(CAST(d AS DOUBLE)) * 100 * 100 + 0.5) / 100, "
        "floor(avg(departure_delay) * 100 + 0.5) / 100, "
        "floor(avg(arrival_delay) * 100 + 0.5) / 100, "
        "max(departure_delay), max(arrival_delay), min(flight_date), max(flight_date) "
        f"FROM ({base})",
        params,
    ).fetchone()

    def top(cols: str) -> list[dict]:
        names = [c.strip() for c in cols.split(",")]
        rows = con.execute(
            f"SELECT {cols}, count(*) AS n FROM ({base}) GROUP BY {cols} "
            f"ORDER BY n DESC, {cols} LIMIT 5",
            params,
        ).fetchall()
        return [{**dict(zip(names, r[:-1])), "count": r[-1]} for r in rows]

    return {
        "total_flights": g[0],
        "delay_rate": g[1],
        "avg_departure_delay": g[2],
        "avg_arrival_delay": g[3],
        "max_departure_delay": g[4],
        "max_arrival_delay": g[5],
        "date_range": {"start": str(g[6]), "end": str(g[7])},
        "top_routes": top("origin, destination"),
        "top_carriers": top("airline"),
    }


def airports(con) -> list[str]:
    return [r[0] for r in con.sql(
        "SELECT origin AS a FROM flights UNION SELECT destination FROM flights ORDER BY 1"
    ).fetchall()]


def same_summary(got: dict, want: dict) -> bool:
    """Rounded averages may differ by one unit in the last place when
    the two engines sum in another order and land on a rounding edge."""
    for k, w in want.items():
        v = got.get(k)
        if k in ("delay_rate", "avg_departure_delay", "avg_arrival_delay"):
            if (v is None) != (w is None) or (w is not None and abs(v - w) > 0.0100001):
                return False
        elif v != w:
            return False
    return True
