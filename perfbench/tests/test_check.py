"""The benchmark's checker must fail a result that differs from the oracle
or breaks a lookup-cache property by a single row or a single value.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Needs only DuckDB and pyarrow (no Spark): the "engine results" here are
parquet files written from the oracle itself, then perturbed.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import corpus  # noqa: E402

ORACLE = """
    SELECT user_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
"""

# the one-batch lookup-cache answer: latest signup within 24 h before the
# click, else the first signup at or after it, else the DLQ
LOOKUP = """
    WITH s AS (SELECT user_id, CAST(event_id AS VARCHAR) AS v, ts FROM events
               WHERE event_type = 'signup'),
         c AS (SELECT user_id, CAST(event_id AS VARCHAR) AS fact_id, ts FROM events
               WHERE event_type = 'click'),
         b AS (SELECT c.fact_id, arg_max(s.v, s.ts) AS v, max(s.ts) AS ts
               FROM c JOIN s ON s.user_id = c.user_id AND s.ts < c.ts
                AND c.ts - s.ts <= INTERVAL 86400 SECOND GROUP BY 1),
         a AS (SELECT c.fact_id, arg_min(s.v, s.ts) AS v, min(s.ts) AS ts
               FROM c JOIN s ON s.user_id = c.user_id AND s.ts >= c.ts GROUP BY 1)
    SELECT CAST(c.user_id AS VARCHAR) AS key, c.fact_id, c.ts AS fact_time,
           coalesce(b.v, a.v) AS dim_version, coalesce(b.ts, a.ts) AS dim_time,
           CASE WHEN coalesce(b.v, a.v) IS NULL THEN 'dlq' ELSE 'matched' END
               AS match_status
    FROM c LEFT JOIN b USING (fact_id) LEFT JOIN a USING (fact_id)
"""


@pytest.fixture()
def data(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    corpus.write_events(str(d), seed=7, n=3_000, users=40, chunks=3)
    return str(d)


def write_result(con, sql: str, path: str, perturb=None) -> str:
    table = con.execute(sql).fetch_arrow_table()
    if perturb:
        table = perturb(table)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def drop_first_row(t: pa.Table) -> pa.Table:
    return t.slice(1)


def alter_value(column: str, value):
    def go(t: pa.Table) -> pa.Table:
        col = t.column(column).to_pylist()
        col[0] = value(col[0])
        return t.set_column(t.schema.get_field_index(column), column,
                            pa.array(col, type=t.schema.field(column).type))
    return go


def test_exact_result_passes(data, tmp_path):
    con = check.connect(data)
    out = write_result(con, ORACLE, str(tmp_path / "ok"))
    assert check.check_oracle(con, check.read_result(con, out), ORACLE, "q") is None


@pytest.mark.parametrize("perturb", [
    drop_first_row,
    alter_value("total", lambda v: v + 0.01),
    alter_value("n", lambda v: v + 1),
    alter_value("event_type", lambda v: v + "x"),
])
def test_perturbed_result_fails(data, tmp_path, perturb):
    con = check.connect(data)
    out = write_result(con, ORACLE, str(tmp_path / "bad"), perturb)
    assert check.check_oracle(con, check.read_result(con, out), ORACLE, "q") is not None


def test_lookup_properties_hold_on_converged_answer(data, tmp_path):
    con = check.connect(data)
    out = write_result(con, LOOKUP, str(tmp_path / "ok"))
    assert check.lookup_cache_properties(con, out, "lc") == []


def test_lookup_properties_allow_early_dlq(data, tmp_path):
    """A fact whose only signup comes later may be flushed to the DLQ
    under several micro-batches; the properties accept that."""
    con = check.connect(data)

    def early_dlq(t: pa.Table) -> pa.Table:
        rows = t.to_pylist()
        for r in rows:
            if r["match_status"] == "matched" and r["dim_time"] >= r["fact_time"]:
                r.update(match_status="dlq", dim_version=None, dim_time=None)
                break
        else:
            pytest.skip("no fact matched to a later signup")
        return pa.Table.from_pylist(rows, schema=t.schema)

    out = write_result(con, LOOKUP, str(tmp_path / "late"), early_dlq)
    assert check.lookup_cache_properties(con, out, "lc") == []


@pytest.mark.parametrize("perturb", [
    drop_first_row,
    alter_value("match_status", lambda v: "dlq" if v == "matched" else "matched"),
    alter_value("dim_version", lambda v: "-5"),
])
def test_lookup_perturbed_result_fails(data, tmp_path, perturb):
    con = check.connect(data)
    out = write_result(con, LOOKUP, str(tmp_path / "bad"), perturb)
    assert check.lookup_cache_properties(con, out, "lc") != []


def test_duplicated_row_fails(data, tmp_path):
    con = check.connect(data)
    out = write_result(con, LOOKUP, str(tmp_path / "dup"),
                       lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    assert check.lookup_cache_properties(con, out, "lc") != []
