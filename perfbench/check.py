"""Correctness checks for the benchmark, run with DuckDB outside the timed
sections, after the Spark JVM has exited.

Every result the benchmark times is written by Spark as parquet; these
checks read those files back. A result is compared value by value with the
registered DuckDB oracle over the same generated tables, or, where the
micro-batch schedule changes the answer by design, against properties that
hold under any schedule.
"""

from __future__ import annotations

import math
import os
from datetime import datetime
from decimal import Decimal

import duckdb

def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table
    (``<name>.parquet``). A table written as a directory of part files is
    read through a glob."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for entry in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, entry)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        name = entry.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def result_source(result_dir: str) -> str:
    return f"read_parquet('{os.path.join(result_dir, '*.parquet')}')"


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", f"{v:.9g}")
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _norm(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def canon(cols: list[str], rows: list[tuple]) -> tuple[tuple, list[tuple]]:
    """Order-insensitive form of a result: columns sorted by name, values
    normalized (floats to 9 significant digits, timestamps naive), rows
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def read_result(con: duckdb.DuckDBPyConnection, result_dir: str):
    return canon(*fetch(con, f"SELECT * FROM {result_source(result_dir)}"))


def diff(actual, expected, label: str) -> str | None:
    """None when two canonical results are equal, else a one-line reason."""
    (a_cols, a_rows), (e_cols, e_rows) = actual, expected
    if a_cols != e_cols:
        return f"{label}: columns {list(a_cols)} != {list(e_cols)}"
    if len(a_rows) != len(e_rows):
        return f"{label}: {len(a_rows)} rows != {len(e_rows)} expected"
    for a, e in zip(a_rows, e_rows):
        if a != e:
            return f"{label}: first differing row {a} != {e}"
    return None


def check_oracle(con, result, oracle_sql: str, label: str) -> str | None:
    """Compare a canonical result (:func:`read_result`) with the oracle's."""
    return diff(result, canon(*fetch(con, oracle_sql)), label)


def lookup_cache_properties(con, result_dir: str, label: str) -> list[str]:
    """Schedule-independent properties of ``lookup_cache_join_stream``
    (key, fact_id, fact_time, dim_version, dim_time, match_status), which
    under several micro-batches may flush a fact to the DLQ before a later
    signup arrives, so its one-batch oracle does not apply:

    - every click appears exactly once, as ``matched`` or ``dlq`` (with
      no dim);
    - a matched fact's dim is a signup of the same user, at its own time;
    - a fact with a signup within the 24 h TTL strictly before it matches
      the latest such signup.
    """
    res = result_source(result_dir)
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW lc_out AS SELECT * FROM {res};
        CREATE OR REPLACE TEMP VIEW lc_clicks AS
            SELECT CAST(event_id AS VARCHAR) AS fact_id, user_id, ts
            FROM events WHERE event_type = 'click';
        CREATE OR REPLACE TEMP VIEW lc_signups AS
            SELECT CAST(event_id AS VARCHAR) AS dim_version, user_id, ts
            FROM events WHERE event_type = 'signup'"""
    )
    checks = {
        "a click is missing or repeated": """
            SELECT count(*) FROM lc_clicks c FULL JOIN (
                SELECT fact_id, count(*) AS n FROM lc_out GROUP BY 1
            ) o USING (fact_id)
            WHERE o.n IS DISTINCT FROM 1 OR c.fact_id IS NULL""",
        "a row has a bad status or a fact of another user": """
            SELECT count(*) FROM lc_out o LEFT JOIN lc_clicks c USING (fact_id)
            WHERE o.match_status NOT IN ('matched', 'dlq')
               OR (o.match_status = 'dlq'
                   AND (o.dim_version IS NOT NULL OR o.dim_time IS NOT NULL))
               OR o.key IS DISTINCT FROM CAST(c.user_id AS VARCHAR)
               OR o.fact_time IS DISTINCT FROM c.ts""",
        "a matched dim is not a signup of the fact's user": """
            SELECT count(*) FROM lc_out o LEFT JOIN lc_signups s USING (dim_version)
            WHERE o.match_status = 'matched'
              AND (s.dim_version IS NULL
                   OR CAST(s.user_id AS VARCHAR) <> o.key
                   OR s.ts IS DISTINCT FROM o.dim_time)""",
        "a fact with a signup within the TTL before it is not matched to the latest one": """
            WITH latest AS (
                SELECT c.fact_id, arg_max(s.dim_version, s.ts) AS dim_version
                FROM lc_clicks c JOIN lc_signups s
                  ON s.user_id = c.user_id AND s.ts < c.ts
                 AND c.ts - s.ts <= INTERVAL 86400 SECOND
                GROUP BY 1
            )
            SELECT count(*) FROM latest l JOIN lc_out o USING (fact_id)
            WHERE o.match_status <> 'matched'
               OR o.dim_version IS DISTINCT FROM l.dim_version""",
    }
    errors = []
    for what, sql in checks.items():
        n = con.execute(sql).fetchone()[0]
        if n:
            errors.append(f"{label}: {what} ({n} rows)")
    return errors
