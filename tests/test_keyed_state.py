"""The bucketed keyed-state driver (streaming/keyed_state.py) without
Spark: its group function is called directly with a fake ``GroupState``,
which pins the emulated per-key timer rule, the state row layout and the
bucket-count check."""

from __future__ import annotations

import pickle

import pandas as pd
import pytest

from example_beam_spark.streaming.keyed_state import make_bucket_fn

N_BUCKETS = 32


class FakeGroupState:
    """The slice of ``pyspark.sql.streaming.state.GroupState`` the driver
    uses."""

    def __init__(self, wm_ms: int, st_map: dict | None = None, n_buckets=N_BUCKETS):
        self._wm = wm_ms
        self._row = None if st_map is None else (n_buckets, pickle.dumps(st_map))
        self.timeout = None

    @property
    def exists(self) -> bool:
        return self._row is not None

    @property
    def get(self):
        return self._row

    def update(self, row) -> None:
        self._row = row

    def remove(self) -> None:
        self._row = None

    def setTimeoutTimestamp(self, ms: int) -> None:
        assert ms > self._wm, "the engine rejects timeouts at or below the watermark"
        self.timeout = ms

    def getCurrentWatermarkMs(self) -> int:
        return self._wm

    def st_map(self) -> dict:
        return pickle.loads(self._row[1])


def _recording_fn(deadlines: dict, timer_keeps: dict | None = None):
    """A toy kernel: state = number of rows seen; ``on_rows`` sets the
    deadline from ``deadlines``; ``on_timer`` drops the key unless
    ``timer_keeps`` gives it a new deadline. Output rows name the call."""
    timer_keeps = timer_keeps or {}

    def on_rows(key, rows, st, wm):
        return (st or 0) + len(rows), deadlines.get(key), [(key, "rows", len(rows))]

    def on_timer(key, st, wm):
        if key in timer_keeps:
            return st, timer_keeps[key], [(key, "timer", 0)]
        return None, None, [(key, "timer", 0)]

    return make_bucket_fn(
        N_BUCKETS,
        key_cols=("k",),
        row_cols=("t",),
        order_by=("t",),
        on_rows=on_rows,
        on_timer=on_timer,
        out_cols=("k", "call", "n"),
        out_ts_cols=(),
    )


def _call(fn, state, rows=()):
    pdfs = [pd.DataFrame(list(rows), columns=["k", "t"])] if rows else []
    out = list(fn((0,), iter(pdfs), state))
    if not out:
        return []
    return sorted(map(tuple, out[0].itertuples(index=False)))


def test_rows_suppress_the_timer():
    """A key with rows in a batch runs on_rows, never on_timer, even when
    its stored deadline is already below the watermark."""
    state = FakeGroupState(wm_ms=100, st_map={"a": (1, 50)})
    fn = _recording_fn({"a": 200})
    assert _call(fn, state, [("a", 1)]) == [("a", "rows", 1)]
    assert state.st_map() == {"a": (2, 200)}


def test_timer_fires_only_strictly_below_the_watermark():
    state = FakeGroupState(
        wm_ms=100, st_map={"below": (1, 99), "at": (1, 100), "above": (1, 101)}
    )
    assert _call(_recording_fn({}), state) == [("below", "timer", 0)]
    assert set(state.st_map()) == {"at", "above"}


def test_group_timeout_is_the_smallest_deadline():
    state = FakeGroupState(wm_ms=100, st_map={"x": (1, 500)})
    _call(_recording_fn({"y": 300}), state, [("y", 7)])
    assert state.timeout == 300


def test_group_timeout_is_clamped_above_the_watermark():
    """A kept deadline at the watermark does not fire this batch, and the
    group timeout must still sit strictly above the watermark."""
    state = FakeGroupState(wm_ms=100, st_map={"x": (1, 500), "at": (1, 100)})
    assert _call(_recording_fn({}), state) == []
    assert state.timeout == 101


def test_timer_may_rearm_the_key():
    state = FakeGroupState(wm_ms=100, st_map={"late": (1, 10)})
    fn = _recording_fn({}, timer_keeps={"late": 400})
    assert _call(fn, state) == [("late", "timer", 0)]
    assert state.st_map() == {"late": (1, 400)}
    assert state.timeout == 400


def test_emptied_bucket_removes_its_state():
    state = FakeGroupState(wm_ms=100, st_map={"a": (1, 10), "b": (1, 20)})
    assert _call(_recording_fn({}), state) == [("a", "timer", 0), ("b", "timer", 0)]
    assert not state.exists


def test_state_row_carries_the_bucket_count():
    state = FakeGroupState(wm_ms=0)
    _call(_recording_fn({"a": 10}), state, [("a", 1)])
    assert state.get[0] == N_BUCKETS


def test_bucket_count_mismatch_raises():
    """State written under another bucket count (a checkpoint resumed on a
    different core count) fails instead of hashing keys to groups that do
    not hold their state."""
    state = FakeGroupState(wm_ms=100, st_map={"a": (1, 500)}, n_buckets=16)
    with pytest.raises(RuntimeError, match="16 buckets"):
        _call(_recording_fn({}), state, [("a", 1)])


def test_rows_arrive_per_key_in_order_with_timestamps_as_micros():
    """One pass splits the batch by (multi-column) key; each key's rows
    come in ``order_by`` order, stable for ties; timestamp columns arrive
    as epoch microseconds and leave as timestamps."""
    seen = {}

    def on_rows(key, rows, st, wm):
        seen[key] = rows
        return None, None, [(key[0], rows[0][0])]

    fn = make_bucket_fn(
        N_BUCKETS,
        key_cols=("a", "b"),
        row_cols=("ts", "tag"),
        order_by=("ts",),
        on_rows=on_rows,
        on_timer=None,
        out_cols=("a", "first_ts"),
        out_ts_cols=("first_ts",),
    )
    base = 1_704_067_200_000_000  # 2024-01-01 in µs
    ts = pd.to_datetime(
        [base + 2_000_000, base + 1_000_000, base + 1_000_001, base + 1_000_000],
        unit="us",
    )
    pdf = pd.DataFrame(
        {"a": ["x", "x", "y", "x"], "b": [1, 1, 1, 1], "ts": ts, "tag": [0, 1, 2, 3]}
    )
    out = list(fn((0,), iter([pdf]), FakeGroupState(wm_ms=0)))
    assert seen == {
        ("x", 1): [(base + 1_000_000, 1), (base + 1_000_000, 3), (base + 2_000_000, 0)],
        ("y", 1): [(base + 1_000_001, 2)],
    }
    assert out[0]["first_ts"].tolist() == [
        pd.Timestamp("2024-01-01 00:00:01"),
        pd.Timestamp("2024-01-01 00:00:01.000001"),
    ]
