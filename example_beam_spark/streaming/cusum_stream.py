"""Streaming twin of the CUSUM change detector — O(1) state per key.

The batch entry (``operators/graphtext.events_cusum_alarms``) compiles
Page's recursion to the closed form S_t = R_t - min(0, min R_j). That
form is INCREMENTAL: a key's entire detector state is two numbers, the
running sum R and its running minimum minR, plus the three output
accumulators (rows, alarms, max S). This module maintains them in
exact decimal micro-units (Python ints), reproducing the batch side's
DECIMAL(38,6) arithmetic bit-for-bit:

- per row, Spark computes (value - c) in DOUBLE and casts to
  DECIMAL(38,6) with HALF_UP; here ``Decimal(float)`` takes the EXACT
  binary expansion of the same double and quantizes HALF_UP to the
  same scale — identical by construction;
- R and minR accumulate as integers of micro-units (decimal addition
  is exact, so order inside a batch does not matter beyond the sorted
  replay order);
- S itself is computed in DOUBLE the way BOTH engines compute it:
  convert R and min(0, minR) to double (each one correctly-rounded
  conversion) and subtract once — the batch twin deliberately casts
  before subtracting because DECIMAL(38,6) minus DECIMAL(38,6) is the
  one spot where the engines' decimal type algebras diverge (DuckDB
  promotes to DOUBLE, Spark truncates precision).

Calibration (mu, sigma -> c = mu + 0.5 sigma, h = 5 sigma) is computed
batch-side and joined onto the stream — the production shape: offline
calibration artifact, online detection (cf. events_weekly_drift_stream
and its static baseline).

Convergence: exact under the one-batch drain (rows sorted per key) and
under the time-ordered multi-batch drain (chunks split on the global
(ts, event_id) sort, so per-key cross-batch order equals the batch
sort and the carried (R, minR) continue the same sequence).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "event_type string, n_rows long, n_alarms long, max_cusum double"
)
STATE_SCHEMA = (
    "rsum_u long, rmin_u long, n_rows long, n_alarms long, smax double"
)

_Q = Decimal("0.000001")


def _q_units(x: float) -> int:
    """(value - c) double -> exact DECIMAL(38,6) micro-units, HALF_UP —
    Decimal(float) is the exact binary expansion, matching Spark's and
    DuckDB's cast-to-decimal of the same double."""
    return int(Decimal(x).quantize(_Q, rounding=ROUND_HALF_UP).scaleb(6))


def _to_double(units: int) -> float:
    """Exact decimal micro-units -> double, one correctly-rounded
    division (the engines' DECIMAL -> DOUBLE conversion)."""
    return float(Decimal(units).scaleb(-6))


def cusum_state_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (etype,) = key
    rsum, rmin, n_rows, n_alarms, smax = (
        state.get if state.exists else (0, 0, 0, 0, 0)
    )
    rows: list[tuple[int, int, float, float, float]] = []
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            rows.append(
                (
                    int(pd.Timestamp(r.ts).value),
                    int(r.event_id),
                    float(r.value),
                    float(r.c),
                    float(r.h),
                )
            )
    rows.sort()
    for _ts, _eid, value, c, h in rows:
        rsum += _q_units(value - c)
        rmin = min(rmin, rsum)
        # S in DOUBLE exactly as both engines compute it: convert each
        # decimal side (exact) and subtract ONCE (see the batch twin's
        # oracle comment — decimal-minus-decimal diverges across engines)
        s_dbl = _to_double(rsum) - _to_double(min(0, rmin))
        n_rows += 1
        if s_dbl > h:
            n_alarms += 1
        smax = max(smax, s_dbl)
    state.update((rsum, rmin, n_rows, n_alarms, smax))
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n_rows": [n_rows],
            "n_alarms": [n_alarms],
            "max_cusum": [smax],
        }
    )


def cusum_stream(keyed: DataFrame) -> DataFrame:
    """Apply the incremental CUSUM to a (event_type, ts, event_id,
    value, c, h) stream; emits the key's cumulative detector counters
    each batch (update semantics — drain with last-update-per-key)."""
    return keyed.groupBy("event_type").applyInPandasWithState(
        cusum_state_fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# registered entry — gated by the SAME oracle as the batch twin
# --------------------------------------------------------------------------

from example_beam_spark.operators.graphtext import _CUSUM_ORACLE  # noqa: E402
from example_beam_spark.registry import DEC, register  # noqa: E402


@register("events_cusum_stream", oracle=_CUSUM_ORACLE)
def events_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_cusum_alarms on a REAL applyInPandasWithState stream with
    TWO integers of detector state per key (R, minR in exact decimal
    micro-units) plus the output counters — the O(1)-state posture.
    Calibration is a batch-side broadcast joined onto the stream (the
    offline-calibration / online-detection production shape); the
    drained finals are gated by the SAME value oracle as the batch
    twin."""
    from example_beam_spark.sources import load_table
    from example_beam_spark.streaming.entries import (
        read_events_stream,
        run_to_final,
    )

    ev_batch = load_table(spark, sf_dir, "events")
    stats = ev_batch.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double")
            / F.count("*")
            - (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*"))
            * (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*"))
        ).alias("sigma"),
    )
    calib = stats.select(
        "event_type",
        (F.col("mu") + 0.5 * F.col("sigma")).alias("c"),
        (5.0 * F.col("sigma")).alias("h"),
    )
    ev = read_events_stream(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    keyed = ev.join(F.broadcast(calib), "event_type")
    per_type = run_to_final(cusum_stream(keyed), ["event_type"], spark)
    return per_type.select("event_type", "n_rows", "n_alarms", "max_cusum")
