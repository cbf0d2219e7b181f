"""One driver for the keyed event-time state machines (custom merging
window, lookup-cache join, repeater) — the Structured Streaming
``mapGroupsWithState`` contract: a user function over ONE key's state
plus an event-time timeout.

A kernel supplies its per-key logic as two plain functions:

- ``on_rows(key, rows, state, wm_ms) -> (state | None, deadline_ms | None,
  out_rows)`` — the key's rows of this micro-batch, as tuples of the
  kernel's ``row_cols`` in ``order_by`` order (a stable sort, so equal
  sort keys keep arrival order);
- ``on_timer(key, state, wm_ms) -> (state | None, deadline_ms | None,
  out_rows)`` — the key's event-time timer fired.

``state`` is any picklable value (``None`` = no state). A kept state
comes with its timer deadline; returning ``None`` removes the key.
Timestamps arrive as epoch microseconds; ``out_rows`` are tuples in the
output schema's column order, with its timestamp columns as epoch
microseconds (``None`` = null).

Why bucketed: ``applyInPandasWithState`` dispatches the Python function
once per group per batch, and ~230 µs of per-group machinery (state row
codec, Arrow framing, the call) — not the kernel arithmetic — was the
measured wall at ~35k keys. So keys are hash-bucketed into
``8 × defaultParallelism`` state groups (enough to keep every core busy
with skew slack, few enough that a dispatch is amortized over ~100+ keys);
each group's state row holds a pickled dict key -> (state, deadline_ms)
and the per-key event-time timer is EMULATED, once, here:

- a key with rows in a batch runs ``on_rows`` and never ``on_timer`` that
  batch (data suppresses the timer, as for a per-key group);
- a key without rows runs ``on_timer`` iff its stored deadline is
  strictly below the batch watermark (the engine's rule: a timeout fires
  when the watermark passes it);
- the group timeout is ``max(min deadline, wm + 1)`` (the engine rejects
  timeouts at or below the current watermark), so the group is invoked
  in every batch where some member's timer is due;
- a group whose dict empties removes its state row.

The bucket count is stored in the state row: a checkpoint resumed under a
different count would send keys to other groups than their state, so the
first batch that touches old state raises instead.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType, TimestampType

STATE_SCHEMA = "n_buckets int, pkl binary"

Transition = tuple[Any, "int | None", list]  # (state, deadline_ms, out_rows)


def keyed_state_stream(
    df: DataFrame,
    key_cols: Sequence[str],
    row_cols: Sequence[str],
    order_by: Sequence[str],
    on_rows: Callable[[Any, list, Any, int], Transition],
    on_timer: Callable[[Any, Any, int], Transition],
    out_schema: str,
) -> DataFrame:
    """Run ``on_rows``/``on_timer`` per key of ``key_cols`` over ``df``
    (which must carry a watermark), appending their output rows."""
    n_buckets = 8 * df.sparkSession.sparkContext.defaultParallelism
    out_type = StructType.fromDDL(out_schema)
    fn = make_bucket_fn(
        n_buckets,
        key_cols,
        row_cols,
        order_by,
        on_rows,
        on_timer,
        out_cols=out_type.names,
        out_ts_cols=[
            f.name for f in out_type.fields if isinstance(f.dataType, TimestampType)
        ],
    )
    return (
        df.withColumn(
            "_bkt", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        )
        .groupBy("_bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def make_bucket_fn(
    n_buckets: int,
    key_cols: Sequence[str],
    row_cols: Sequence[str],
    order_by: Sequence[str],
    on_rows: Callable[[Any, list, Any, int], Transition],
    on_timer: Callable[[Any, Any, int], Transition],
    out_cols: Sequence[str],
    out_ts_cols: Sequence[str],
):
    """The ``applyInPandasWithState`` function of one bucket group."""

    def fn(
        _bkt: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        st_map: dict = {}
        if state.exists:
            stored_n, blob = state.get
            if stored_n != n_buckets:
                raise RuntimeError(
                    f"keyed state was written with {stored_n} buckets but "
                    f"this query hashes keys into {n_buckets} (the core "
                    "count changed since the checkpoint was created); "
                    "resume it with the same core count or start a fresh "
                    "checkpoint"
                )
            st_map = pickle.loads(blob)
        out: list = []

        by_key = _rows_by_key(pdfs, key_cols, row_cols, order_by)
        for k, rows in by_key.items():
            prev = st_map.get(k)
            st, deadline, emitted = on_rows(
                k, rows, None if prev is None else prev[0], wm
            )
            out += emitted
            if st is None:
                st_map.pop(k, None)
            else:
                st_map[k] = (st, deadline)

        due = [
            k
            for k, (_, deadline) in st_map.items()
            if deadline < wm and k not in by_key
        ]
        for k in due:
            st, deadline, emitted = on_timer(k, st_map[k][0], wm)
            out += emitted
            if st is None:
                del st_map[k]
            else:
                st_map[k] = (st, deadline)

        if st_map:
            state.update((n_buckets, pickle.dumps(st_map)))
            state.setTimeoutTimestamp(
                max(min(d for _, d in st_map.values()), wm + 1)
            )
        elif state.exists:
            state.remove()

        if out:
            yield _out_frame(out, out_cols, out_ts_cols)

    return fn


def _rows_by_key(
    pdfs: Iterator[pd.DataFrame],
    key_cols: Sequence[str],
    row_cols: Sequence[str],
    order_by: Sequence[str],
) -> dict:
    """Split the batch by key in one pass over plain tuples (no per-key
    pandas objects): key -> rows in ``order_by`` order."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return {}
    rows = pd.concat(frames, ignore_index=True).sort_values(
        list(order_by), kind="mergesort"
    )

    def values(c: str) -> list:
        s = rows[c]
        if pd.api.types.is_datetime64_any_dtype(s.dtype):
            return s.to_numpy("datetime64[us]").astype("int64").tolist()
        return s.tolist()

    if len(key_cols) == 1:
        keys = values(key_cols[0])
    else:
        keys = list(zip(*map(values, key_cols)))
    by_key: dict = {}
    for k, r in zip(keys, zip(*map(values, row_cols))):
        lst = by_key.get(k)
        if lst is None:
            by_key[k] = [r]
        else:
            lst.append(r)
    return by_key


def _out_frame(
    out: list, out_cols: Sequence[str], out_ts_cols: Sequence[str]
) -> pd.DataFrame:
    return pd.DataFrame(
        {
            c: (
                np.array(vals, dtype="datetime64[us]").astype("datetime64[ns]")
                if c in out_ts_cols
                else list(vals)
            )
            for c, vals in zip(out_cols, zip(*out))
        }
    )
