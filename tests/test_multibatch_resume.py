"""Kill/resume under the multi-batch drain: each corpus-scale stateful
entry is killed MID-DRAIN (the foreachBatch sink raises before writing
at batch k — a crash while timers and buffered state are live), then
re-invoked against the SAME checkpoint; availableNow resumes from the
WAL, replays the failed batch, and the final output must equal the
uninterrupted run bit-for-bit — Structured Streaming's exactly-once
restart contract on the real entries, not a toy aggregation
(tests/test_checkpoint_resume.py covers the simple-agg case). Run under
both state-store providers (RocksDB default; in-memory HDFS-backed via
DRAIN_OVERRIDES["provider"]) — the provider binds at checkpoint creation.
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.multibatch import chunked_sf_dir


# Slow lane (kill/resume drains: ~10-35 s each) —
# skipped unless EBS_RUN_SLOW=1 so the external verify pytest run
# completes; see pytest.ini / conftest.py.
pytestmark = pytest.mark.slow

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ENTRIES = [
    "sessionize_events_stream",
    "enrich_stream_stream_join",
    # two-sink DLQ fork: the crash lands between batches with live
    # outer-join state; the resumed drain must replay the failed batch
    # into BOTH destinations exactly once (per-side overwrite-by-batch-id)
    "enrich_stream_join_dlq",
    "lookup_cache_join_stream",
    "ctr_custom_window_stream",
    # O(1)-state append-mode entry: the replayed batch must OVERWRITE
    # its own pair output (run_to_append's batch-id contract) and the
    # last-event state must restore so the boundary pair is not doubled
    "events_markov_stream",
    # timer-grid entry: the crash lands with live chains (next_tick +
    # cached element in state, an event-time timeout registered); the
    # resumed drain must replay the failed batch's eager ticks exactly
    # once and re-arm the timeout so tail ticks still fire
    "enrich_repeat_stream",
    # round-11 sketch streams: the crash lands with live bottom-k /
    # windowed-count state; the resumed drain must restore it so the
    # final sketch equals the uninterrupted run
    "kmv_distinct_users_stream",
    "events_topk_types_stream",
    # round-12 stream-static ingestion guard: the crash lands with live
    # windowed-count state behind the stream-static gram join; resume
    # must replay the failed batch's alerts exactly once
    "docs_decontaminate_stream",
]


@pytest.fixture(scope="module")
def chunked(spark):
    return chunked_sf_dir(SF_DIR, tempfile.mkdtemp(prefix="resume_sf_"), 6)


def _canon_rows(df):
    from tests.oracle import _canon

    return _canon(df.columns, [tuple(r) for r in df.collect()])


def _kill_resume(spark, chunked, name, fail_at=4):
    from example_beam_spark import streaming
    from example_beam_spark.registry import load_registry
    from example_beam_spark.streaming import entries as E

    reg = load_registry()

    # uninterrupted run on the SAME chunked fixture = the expectation
    baseline = _canon_rows(reg[name].fn(spark, chunked))

    out_dir = tempfile.mkdtemp(prefix=f"resume_out_{name}_")
    ckpt = tempfile.mkdtemp(prefix=f"resume_ckpt_{name}_")
    E.DRAIN_OVERRIDES.update(
        {"out_dir": out_dir, "ckpt": ckpt, "fail_at_batch": fail_at}
    )
    try:
        with pytest.raises(Exception, match="injected sink failure"):
            reg[name].fn(spark, chunked).collect()
        # crash absorbed: clear the fault, keep the dirs, re-invoke —
        # the drain resumes from the checkpoint and replays batch k
        E.DRAIN_OVERRIDES.pop("fail_at_batch")
        resumed = _canon_rows(reg[name].fn(spark, chunked))
    finally:
        E.DRAIN_OVERRIDES.clear()
    assert resumed == baseline, (
        f"{name}: resumed-from-checkpoint output differs from the "
        f"uninterrupted run ({len(resumed)} vs {len(baseline)} rows)"
    )


@pytest.mark.parametrize("name", ENTRIES)
def test_kill_resume_matches_uninterrupted(spark, chunked, name):
    # the doc stream stages 3 micro-batches (member + 2 sentinels), so
    # its crash must land inside that schedule; the event streams get
    # 6 chunks -> crash mid-drain at batch 4
    _kill_resume(
        spark, chunked, name,
        fail_at=1 if name == "docs_decontaminate_stream" else 4,
    )


def test_kill_resume_hdfs_provider(spark, chunked, monkeypatch):
    """Same contract under the in-memory HDFS-backed provider (the
    RocksDB runs above are the production-sizing path; the default
    provider must recover identically)."""
    from example_beam_spark.streaming import entries as E

    monkeypatch.setitem(E.DRAIN_OVERRIDES, "provider", "hdfs")
    _kill_resume(spark, chunked, "sessionize_events_stream")
