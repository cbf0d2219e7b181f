"""The maxFilesPerTrigger=1 staging hazard (round-7 advice): an events
table laid out as a DIRECTORY of part-files whose rows are not
time-ordered across files must NOT be drained one-file-per-trigger —
the watermark would advance between micro-batches and silently drop
in-order rows as late. ``_staged_files_time_ordered`` proves ordering
from parquet footer stats + ms mtimes; the readers fall back to a
single-batch (plain) / all-members-first-batch (flushed) schedule when
the proof fails. This suite pins the gate's verdicts and, end-to-end,
that an out-of-order part-file layout still matches the batch oracle.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from example_beam_spark.streaming.entries import _staged_files_time_ordered


def _write_events_file(path, rows):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(path))


def _us(s: str):
    import pandas as pd

    return pd.Timestamp(s).to_pydatetime()


def _two_file_dir(tmp_path, first_rows, second_rows, mtimes):
    d = tmp_path / "staged"
    d.mkdir()
    _write_events_file(d / "a.parquet", first_rows)
    _write_events_file(d / "b.parquet", second_rows)
    os.utime(d / "a.parquet", (mtimes[0], mtimes[0]))
    os.utime(d / "b.parquet", (mtimes[1], mtimes[1]))
    return str(d)


EARLY = [(1, _us("2024-01-01 00:00:00"), 1, "click"), (2, _us("2024-01-01 01:00:00"), 1, "view")]
LATE = [(3, _us("2024-01-02 00:00:00"), 2, "click"), (4, _us("2024-01-02 01:00:00"), 2, "view")]


def test_single_file_trivially_ordered(tmp_path):
    d = tmp_path / "staged"
    d.mkdir()
    _write_events_file(d / "only.parquet", EARLY + LATE)
    assert _staged_files_time_ordered(str(d)) is True


def test_ordered_mtime_and_content_passes(tmp_path):
    d = _two_file_dir(tmp_path, EARLY, LATE, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is True


def test_content_out_of_order_fails(tmp_path):
    # mtime order says a-then-b, but b holds the EARLIER rows: a drain
    # at one file per trigger would drop b's rows as late
    d = _two_file_dir(tmp_path, LATE, EARLY, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is False


def test_tied_ms_mtimes_fail(tmp_path):
    # identical ms-granularity mtimes: the file source's order is
    # undefined, so ordering cannot be proven even though content could
    # be consistent either way
    d = _two_file_dir(tmp_path, EARLY, LATE, (1_000_000.0, 1_000_000.0))
    assert _staged_files_time_ordered(d) is False


def test_overlapping_ranges_fail(tmp_path):
    a = [EARLY[0], LATE[1]]  # spans the whole range
    b = [EARLY[1], LATE[0]]
    d = _two_file_dir(tmp_path, a, b, (1_000_000.0, 1_000_010.0))
    assert _staged_files_time_ordered(d) is False


def _out_of_order_events_dir(tmp_path, sf_dir) -> str:
    """Derived sf_dir whose events table is a directory of 4 part-files
    with mtime order OPPOSITE to event-time order — the exact layout the
    round-7 advice flagged as silently dropping rows under a
    one-file-per-trigger drain."""
    import pyarrow.compute as pc

    from example_beam_spark.schemas import TABLES
    from example_beam_spark.sources.parquet import parquet_members, table_path

    out = tmp_path / "ooo_sf"
    out.mkdir()
    for name in TABLES:
        if name == "events":
            continue
        src = table_path(sf_dir, name)
        if os.path.exists(src):
            os.symlink(src, table_path(str(out), name))
    ev_dir = Path(table_path(str(out), "events"))
    ev_dir.mkdir()
    t = pq.read_table(parquet_members(table_path(sf_dir, "events")))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    n = t.num_rows
    quarter = n // 4
    starts = [0, quarter, 2 * quarter, 3 * quarter]
    lengths = [quarter, quarter, quarter, n - 3 * quarter]
    base = 1_700_000_000.0
    for i, (s, ln) in enumerate(zip(starts, lengths)):
        f = ev_dir / f"part-{i:02d}.parquet"
        pq.write_table(t.slice(s, ln), str(f))
        # LATEST content gets the OLDEST mtime
        mt = base + (len(starts) - 1 - i) * 10
        os.utime(f, (mt, mt))
    return str(out)


def test_out_of_order_layout_still_matches_batch(spark, tmp_path, sf_dir):
    """End-to-end: the plain reader on an out-of-order part-file layout
    falls back to a single data batch, so the watermark-gated streaming
    CTR still equals its batch twin (before the gate, the reversed file
    order dropped in-order rows as late)."""
    from example_beam_spark.registry import load_registry
    from example_beam_spark.streaming.entries import _stage_dir

    derived = _out_of_order_events_dir(tmp_path, sf_dir)
    assert _staged_files_time_ordered(_stage_dir(derived, "events")) is False

    from tests.oracle import _canon

    reg = load_registry()
    stream = reg["ctr_fixed_capped_stream"].fn(spark, derived)
    batch = reg["ctr_fixed_capped"].fn(spark, derived)
    got = _canon(stream.columns, [tuple(r) for r in stream.collect()])
    want = _canon(batch.columns, [tuple(r) for r in batch.collect()])
    assert got == want


def test_flushed_reader_out_of_order_layout_still_flushes(spark, tmp_path, sf_dir):
    """The flushed reader's fallback keeps the sentinel-flush mechanism
    (each sentinel its own batch) while putting all members in batch 1:
    session windows both flush completely AND match the batch oracle."""
    from example_beam_spark.registry import load_registry
    from tests.oracle import _canon, run_oracle

    derived = _out_of_order_events_dir(tmp_path, sf_dir)
    reg = load_registry()
    stream = reg["sessionize_events_stream"].fn(spark, derived)
    got = _canon(stream.columns, [tuple(r) for r in stream.collect()])

    o_cols, o_rows = run_oracle(reg["sessionize_events_stream"].oracle, sf_dir)
    want = _canon(o_cols, o_rows)
    assert got == want


# --------------------------------------------------------------------------
# the drain runner's scoped session conf and temp-dir lifetime
# --------------------------------------------------------------------------

_DRAIN_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


def _drain_conf_now(spark):
    return {k: spark.conf.get(k, None) for k in _DRAIN_KEYS}


def _tiny_corpus(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    _write_events_file(d / "events.parquet", EARLY + LATE)
    return str(d)


def _distinct_drain(spark, sf_dir, partitions=None):
    """A small stateful drain: streaming dropDuplicates over the events."""
    from example_beam_spark.streaming.entries import (
        read_events_stream,
        run_to_append,
    )

    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type")
    return run_to_append(
        ev.dropDuplicates(["user_id", "event_type"]), spark, partitions=partitions
    )


@pytest.mark.parametrize("fail_at", [None, 0], ids=["success", "sink_failure"])
def test_drain_conf_restored(spark, tmp_path, monkeypatch, fail_at):
    """Shuffle partitions, provider and changelog conf are the same
    before and after a drain, whether it succeeds or its sink raises."""
    from example_beam_spark.streaming import entries as E

    before = _drain_conf_now(spark)
    if fail_at is None:
        assert len(_distinct_drain(spark, _tiny_corpus(tmp_path)).collect()) == 4
    else:
        monkeypatch.setitem(E.DRAIN_OVERRIDES, "fail_at_batch", fail_at)
        with pytest.raises(Exception, match="injected sink failure"):
            _distinct_drain(spark, _tiny_corpus(tmp_path))
    assert _drain_conf_now(spark) == before


def test_collapsed_schedule_without_no_data_batches_raises(spark, tmp_path):
    """A single staged file collapses members and sentinels into one
    batch, whose final flush needs the post-watermark no-data micro-batch:
    with those batches disabled the reader raises (a check that survives
    ``python -O``) instead of stranding state — and, raising before any
    drain starts, leaves the drain's conf as it was."""
    from example_beam_spark.streaming.entries import read_events_stream_flushed

    before = _drain_conf_now(spark)
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="noDataMicroBatches"):
            read_events_stream_flushed(spark, _tiny_corpus(tmp_path))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert _drain_conf_now(spark) == before


def test_drain_binds_requested_shuffle_partitions(spark, tmp_path):
    """The conf the drain scopes around start() is the one the stateful
    operator binds, even though the streaming DataFrame was built before
    the drain set it."""
    from example_beam_spark.streaming import entries as E

    _distinct_drain(spark, _tiny_corpus(tmp_path), partitions=3).collect()
    ops = [o for p in E.LAST_PROGRESS for o in p.get("stateOperators") or []]
    assert ops
    assert {o["numShufflePartitions"] for o in ops} == {3}


def test_staged_and_drain_dirs_removed_at_exit(spark, tmp_path, monkeypatch):
    """The staged source, drain output and checkpoint dirs are temp dirs
    whose removal is registered with atexit (the returned DataFrame reads
    the output lazily, so it cannot go earlier); a drain dir supplied
    through DRAIN_OVERRIDES is the caller's and is not registered."""
    import atexit
    import glob

    from example_beam_spark.streaming import entries as E

    exits = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a: exits.append((fn, a)))
    sf_dir = _tiny_corpus(tmp_path)
    staged = E._stage_dir(sf_dir, "events")
    assert len(_distinct_drain(spark, sf_dir).collect()) == 4
    registered = {a[0] for _, a in exits}
    assert staged in registered
    assert any(os.path.basename(d).startswith("stream_out_") for d in registered)

    supplied = str(tmp_path / "supplied_out")
    monkeypatch.setitem(E.DRAIN_OVERRIDES, "out_dir", supplied)
    n = len(exits)
    _distinct_drain(spark, sf_dir).collect()
    assert supplied not in {a[0] for _, a in exits[n:]}
    assert glob.glob(os.path.join(supplied, "batch-*"))

    for fn, a in exits:
        fn(*a)
    assert not any(os.path.exists(d) for d in registered)
    assert os.path.isdir(supplied)
