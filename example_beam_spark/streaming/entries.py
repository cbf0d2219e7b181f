"""Registered queries that execute REAL Structured Streaming jobs against
the corpus parquet and return their final results as a batch DataFrame —
so the driver's DuckDB oracle can gate streaming execution too.

Pattern: readStream(parquet) → withWatermark → windowed aggregation →
``foreachBatch`` sink appending update-mode batches (tagged with batch id)
to a parquet staging dir → availableNow trigger drains the source → read
staging back and keep each key's LAST update (update mode re-emits the
accumulated aggregate, so the last row per key IS the final state — this
is exactly the reference's ACCUMULATING_FIRED_PANES final pane). The
result is provably equal to the batch query, hence the SAME oracle SQL
as the batch variant.

Scale notes: the staging-parquet + last-update-wins pattern is the
standard exactly-once upsert sink shape (foreachBatch → MERGE in real
deployments); nothing is collected on the driver.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from example_beam_spark.operators.ctr import _ctr_oracle
from example_beam_spark.registry import register
from example_beam_spark.sources.parquet import (
    apply_ns_shim,
    events_read_schema,
    parquet_members,
    table_path,
)
from example_beam_spark.streaming.ctr_stream import (
    ctr_fixed_window_stream,
    ctr_sliding_window_stream,
)


def _stage_dir(sf_dir: str, name: str, variant: str = "") -> str:
    """Spark's streaming file source requires a *directory* (it derives
    basePath from the glob and rejects a bare file), and it lists plain
    files only (a nested directory would be silently skipped). Stage a
    symlink per physical parquet member into a temp dir once per
    (sf_dir, table, variant) — zero-copy, and handles both fixture
    layouts: a single ``events.parquet`` file and a directory of
    part-files (the ``df.write.parquet`` layout every real table has)."""
    key = (os.path.abspath(sf_dir), name + variant)
    d = _STAGE_CACHE.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"stream_src_{name}_")
        for member in parquet_members(table_path(sf_dir, name)):
            os.symlink(member, os.path.join(d, os.path.basename(member)))
        _STAGE_CACHE[key] = d
    return d


_STAGE_CACHE: dict[tuple[str, str], str] = {}


def _staged_files_time_ordered(d: str) -> bool:
    """True iff the streaming file source's processing order over ``d``
    is provably event-time-ordered, so ``maxFilesPerTrigger=1`` cannot
    make the advancing watermark drop in-order rows as late.

    Spark's file source picks oldest-modification-time-first (Hadoop
    reports ms-granularity mtimes of the symlink TARGET), so the check
    requires both (a) a deterministic order — ms-truncated mtimes
    strictly increase — and (b) content order — each file's min ``ts``
    (parquet footer stats, no data read) is >= every earlier file's max
    ``ts``. A single data file passes trivially. Any missing statistic
    reads as unordered (conservative). Sentinel files (far-future rows,
    mtimes forced above all members by the flushed staging) satisfy both
    legs by construction."""
    import pyarrow.parquet as _pq

    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if not f.startswith(".")
    )
    if len(files) <= 1:
        return True
    metas = []
    for path in files:
        mtime_ms = os.stat(path).st_mtime_ns // 1_000_000  # follows symlink
        try:
            pf = _pq.ParquetFile(path)
            idx = pf.schema_arrow.get_field_index("ts")
            if idx < 0:
                return False
            lo = hi = None
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return False
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None:  # zero row groups
                return False
        except Exception:
            return False
        metas.append((mtime_ms, lo, hi))
    metas.sort(key=lambda m: m[0])
    try:
        for (mt_a, _, hi_a), (mt_b, lo_b, _) in zip(metas, metas[1:]):
            if mt_b <= mt_a:  # tied ms mtimes: order is undefined
                return False
            if lo_b < hi_a:
                return False
    except TypeError:  # mixed tz-aware/naive stats across files
        return False
    return True


def _prepare_stream_session(
    spark: SparkSession, shuffle_partitions: int | None = None
) -> None:
    """Session prep shared by every streaming entry. Besides UTC, size
    ``spark.sql.shuffle.partitions`` — which fixes the state-store
    partition count at checkpoint creation — to the available cores: the
    vanilla 200 multiplies per-micro-batch state-store and Python-worker
    overhead ~25× on this bounded corpus drain (measured 47 s → 11 s on
    the lookup-cache join under a default session). At production scale
    the same knob is sized to state volume, not cores; each entry creates
    a fresh checkpoint so the setting binds per run.

    The pre-existing value is saved once (module global) and restored by
    the drain helpers' ``finally`` (:func:`_restore_session`), so batch
    queries running later in the same session keep their own partition
    count."""
    global _SAVED_SHUFFLE, _SAVED_PROVIDER
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _SAVED_SHUFFLE is None:
        _SAVED_SHUFFLE = spark.conf.get("spark.sql.shuffle.partitions")
    # Partition sizing per the tools/drain_tuning.py matrix: state-store
    # instances (and their per-micro-batch open/commit) scale with this
    # count. Since r14 every drain passes few instances explicitly
    # (min(8, cores) for bounded-state drains, cardinality-derived for
    # the unbounded-key ones — see keyed_drain_instances): store
    # machinery, not CPU, dominates at corpus scale even for the
    # Python-stateful kernels. The one exception was the heavy custom
    # window kernel, which wanted all cores until the r15 bucketed
    # rewrite collapsed its dispatch count; it now defaults here
    # (shuffle_partitions=None → cores) with the bucket fan-out
    # providing the parallelism. EBS_STREAM_SHUFFLE overrides for lane
    # sweeps; production sizes to state volume, not cores.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get(
            "EBS_STREAM_SHUFFLE",
            str(shuffle_partitions or spark.sparkContext.defaultParallelism),
        ),
    )
    # RocksDB state store: state lives off-heap/on-disk, so executor state
    # volume is bounded by disk, not memory — the provider production runs
    # at large state. Binds at checkpoint creation (each entry makes a
    # fresh checkpoint); measured at-least-as-fast as the in-memory
    # default on the bounded corpus drains. Saved/restored like the
    # shuffle knob so it never leaks into the consumer's own queries.
    if _SAVED_PROVIDER is _UNSET:
        try:
            _SAVED_PROVIDER = spark.conf.get(_PROVIDER_KEY)
        except Exception:
            _SAVED_PROVIDER = None
    # EBS_STATE_PROVIDER=hdfs pins the in-memory HDFS-backed default
    # instead — the kill/resume suite runs the corpus entries under BOTH
    # providers (the provider binds at checkpoint creation, so recovery
    # must be proven per provider).
    if os.environ.get("EBS_STATE_PROVIDER") == "hdfs":
        spark.conf.set(_PROVIDER_KEY, _HDFS_PROVIDER)
    else:
        spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
        # Changelog checkpointing: commit a per-batch changelog instead
        # of uploading full RocksDB SST snapshots every micro-batch
        # (snapshots continue in the background) — the documented
        # low-commit-latency mode for RocksDB state stores, and the
        # right production setting when state mutates a small fraction
        # per batch. The r14 drain decomposition measured the plain
        # snapshot-per-commit path 1.5-4 s slower per bounded drain at
        # 8 store instances (tools/repeat_probe.py). Binds at checkpoint
        # creation like the provider itself; EBS_ROCKSDB_CHANGELOG=0
        # restores the snapshot path for lane sweeps.
        global _SAVED_CHANGELOG
        if _SAVED_CHANGELOG is _UNSET:
            try:
                _SAVED_CHANGELOG = spark.conf.get(_CHANGELOG_KEY)
            except Exception:
                _SAVED_CHANGELOG = None
        _chg = os.environ.get("EBS_ROCKSDB_CHANGELOG", "true").lower()
        spark.conf.set(
            _CHANGELOG_KEY,
            "false" if _chg in ("0", "false", "no") else "true",
        )


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
_UNSET = object()
_SAVED_SHUFFLE: str | None = None
_SAVED_PROVIDER: object = _UNSET
_SAVED_CHANGELOG: object = _UNSET


def _restore_session(spark: SparkSession) -> None:
    """Restore ``spark.sql.shuffle.partitions`` and the state store
    provider to their pre-streaming values (paired with
    :func:`_prepare_stream_session`; called from the drain helpers'
    ``finally`` so the overrides never leak into later batch work in the
    same session)."""
    global _SAVED_SHUFFLE, _SAVED_PROVIDER, _SAVED_CHANGELOG
    if _SAVED_SHUFFLE is not None:
        spark.conf.set("spark.sql.shuffle.partitions", _SAVED_SHUFFLE)
        _SAVED_SHUFFLE = None
    if _SAVED_PROVIDER is not _UNSET:
        if _SAVED_PROVIDER is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, _SAVED_PROVIDER)
        _SAVED_PROVIDER = _UNSET
    if _SAVED_CHANGELOG is not _UNSET:
        if _SAVED_CHANGELOG is None:
            spark.conf.unset(_CHANGELOG_KEY)
        else:
            spark.conf.set(_CHANGELOG_KEY, _SAVED_CHANGELOG)
        _SAVED_CHANGELOG = _UNSET


# Per-micro-batch StreamingQueryProgress dicts of the LAST drained query
# (run_to_final / run_to_append overwrite it per drain). The state-size
# lane (tools/multibatch.py) and tests/test_state_metrics.py read the
# `stateOperators` entries (numRowsTotal / numRowsUpdated /
# numRowsRemoved / numRowsDroppedByWatermark) to turn the bounded-state
# design claims into per-batch MEASUREMENTS — eviction observed, not
# argued. Negligible cost: availableNow drains keep <100 progress
# objects and the capture is a driver-side JSON parse.
LAST_PROGRESS: list[dict] = []

# Test-harness knobs for the kill/resume suite
# (tests/test_multibatch_resume.py): when set, the drain helpers reuse
# the given sink/checkpoint dirs across entry invocations (so a second
# call RESUMES the availableNow drain from the checkpoint instead of
# starting fresh) and inject a failure — the foreachBatch sink raises
# BEFORE writing when its batch id reaches ``fail_at_batch``, the
# mid-flight crash Structured Streaming's restart contract must absorb.
# Empty in every production / registered-query path.
DRAIN_OVERRIDES: dict = {}


def _drain_dirs(kind: str) -> tuple[str, str, bool]:
    out_dir = DRAIN_OVERRIDES.get("out_dir") or tempfile.mkdtemp(
        prefix=f"stream_{kind}_"
    )
    keep_ckpt = "ckpt" in DRAIN_OVERRIDES
    ckpt = DRAIN_OVERRIDES.get("ckpt") or tempfile.mkdtemp(prefix="stream_ckpt_")
    return out_dir, ckpt, keep_ckpt


def _maybe_fail(bid: int) -> None:
    fail_at = DRAIN_OVERRIDES.get("fail_at_batch")
    if fail_at is not None and bid == fail_at:
        raise RuntimeError(f"injected sink failure at batch {bid}")


def _capture_progress(q) -> None:
    global LAST_PROGRESS
    try:
        import json as _json

        LAST_PROGRESS = [
            p if isinstance(p, dict) else _json.loads(p.json)
            for p in q.recentProgress
        ]
    except Exception:
        LAST_PROGRESS = []


def state_rows_series(progress: list[dict] | None = None) -> list[dict]:
    """Summarize a drained query's per-batch state-store metrics: one
    dict per micro-batch with total state rows, rows updated/removed and
    rows dropped by the watermark, summed across stateful operators."""
    out = []
    for p in progress if progress is not None else LAST_PROGRESS:
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batch": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "updated": sum(o.get("numRowsUpdated", 0) for o in ops),
                "removed": sum(o.get("numRowsRemoved", 0) for o in ops),
                "dropped_late": sum(
                    o.get("numRowsDroppedByWatermark", 0) for o in ops
                ),
            }
        )
    return out


# Distinct-key estimates per (sf_dir, column, source fingerprint) — one
# approx_count_distinct job per session per corpus layout, shared by all
# unbounded-key drains (invalidated by any fixture regeneration).
_KEY_EST_CACHE: dict[tuple, int] = {}

# Target per-instance state cardinality for unbounded-key drains: a
# RocksDB store instance comfortably holds a few hundred thousand hot
# per-key rows (state is a handful of scalars per key here); the r14
# A/B fixed the local floor at 8 instances (kernel worker parallelism).
_KEYS_PER_INSTANCE = 250_000


def keyed_drain_instances(
    spark: SparkSession, sf_dir: str, key_col: str = "user_id"
) -> int:
    """State-store instance count for UNBOUNDED-key drains (per-user
    lookup cache / funnel / markov state), derived from the estimated
    distinct-key cardinality instead of a constant (guide §2.4; r14
    verdict #4): max(min(8, cores), ceil(keys / 250k)). At corpus scale
    the measured 8-instance floor dominates (identical sf0.1 numbers);
    at production key volumes the count grows with state so neither
    per-instance memory nor state parallelism is capped by a local-mode
    constant. EBS_STREAM_SHUFFLE still overrides downstream (the
    estimate feeds shuffle_partitions via _prepare_stream_session,
    whose env override wins). The estimate is one approx_count_distinct
    job, cached per (sf_dir, column, source fingerprint)."""
    from example_beam_spark.sources import load_table

    members = parquet_members(table_path(sf_dir, "events"))
    fp = tuple(
        sorted(
            (os.path.basename(m), os.stat(m).st_mtime_ns, os.stat(m).st_size)
            for m in members
        )
    )
    key = (os.path.abspath(sf_dir), key_col, fp)
    est = _KEY_EST_CACHE.get(key)
    if est is None:
        from pyspark.sql import functions as _F

        est = (
            load_table(spark, sf_dir, "events")
            .agg(_F.approx_count_distinct(key_col))
            .collect()[0][0]
        )
        _KEY_EST_CACHE[key] = est
    floor = min(8, spark.sparkContext.defaultParallelism)
    return max(floor, -(-est // _KEYS_PER_INSTANCE))


def read_events_stream(
    spark: SparkSession, sf_dir: str, shuffle_partitions: int | None = None
) -> DataFrame:
    """Streaming read of the events table — the footer-negotiated encoding
    branch (ns shim vs native TimestampType) is picked BEFORE building the
    readStream schema, so batch and streaming reads cannot drift.
    ``shuffle_partitions`` sizes the state-store instance count for this
    drain (see _prepare_stream_session)."""
    _prepare_stream_session(spark, shuffle_partitions)
    schema, shim = events_read_schema(spark, sf_dir)
    d = _stage_dir(sf_dir, "events")
    reader = spark.readStream.schema(schema)
    # One file per micro-batch — a no-op for the standard single-file
    # fixture, but it makes the multi-chunk convergence lane
    # (tools/multibatch.py) feed REAL multi-batch schedules to the
    # entries built on this reader (funnel, drift, dedup-within-
    # watermark). GATED on a footer-stats proof that the file source's
    # oldest-mtime-first order is event-time-ordered: a directory of
    # part-files whose rows are NOT time-ordered across files would
    # otherwise advance the watermark between batches and silently drop
    # in-order rows as late. Unprovable order → all files in one batch
    # (the safe pre-multibatch behavior).
    if _staged_files_time_ordered(d):
        reader = reader.option("maxFilesPerTrigger", 1)
    df = reader.parquet(d)
    return apply_ns_shim(df) if shim else df


def run_to_final(
    agg: DataFrame, key_cols: list[str], spark: SparkSession
) -> DataFrame:
    """Drain a streaming aggregation with availableNow + update-mode
    foreachBatch into staging parquet; return last-update-per-key."""
    out_dir, ckpt, keep_ckpt = _drain_dirs("out")

    def sink(bdf: DataFrame, bid: int) -> None:
        _maybe_fail(bid)
        bdf.withColumn("_batch", F.lit(bid)).write.mode("append").parquet(out_dir)

    try:
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_progress(q)
    finally:
        _restore_session(spark)
    out = spark.read.parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("_batch"))
    final = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch")
    )
    # staging dirs are left for the consumer's lifetime (tmp space); the
    # returned DataFrame lazily re-reads them on every action.
    if not keep_ckpt:
        shutil.rmtree(ckpt, ignore_errors=True)
    return final


@register("ctr_fixed_capped_stream", oracle=_ctr_oracle(3600, capped=True))
def ctr_fixed_capped_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship CTR query executed as a REAL streaming job (StateStore
    windowed aggregation, watermark, update mode) — final state equals the
    batch ctr_fixed_capped result, gated by the same oracle."""
    # JVM windowed agg on a bounded drain: store machinery dominates, so
    # few instances win (r14 interleaved A/B, tools/drain_sizing_ab.py:
    # 2.9 s at 32 -> 1.65 s at 8; rows identical) — same conclusion as
    # the r10 matrix for the stream-stream join and session window
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    ).withColumnRenamed("ts", "event_time")
    ev = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_time",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("clicks"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("impressions"),
    )
    ev = ev.withWatermark("event_time", "1 hour")
    agg = ctr_fixed_window_stream(ev, keys=["user_id"], window_duration="1 hour", capped=True)
    return run_to_final(agg, ["user_id", "window_start"], spark)


@register("ctr_sliding_total_stream", oracle=_ctr_oracle(7200, capped=False, slide_sec=3600))
def ctr_sliding_total_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window moving-average CTR as a REAL streaming job (W2
    streaming — AdCtrSlidingWindowCalculator.scala:31-40, test coverage
    AdCtrSlidingWindowCalculatorTest.scala:44-109): each event lands in
    duration/period = 2 windows; StateStore keeps (key × open windows)
    rows, evicted by the watermark. Final state equals the batch
    ctr_sliding_total, gated by the same oracle."""
    # same store-machinery profile as ctr_fixed_capped_stream (A/B above)
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    ).withColumnRenamed("ts", "event_time")
    ev = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_time",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("clicks"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("impressions"),
    )
    ev = ev.withWatermark("event_time", "1 hour")
    agg = ctr_sliding_window_stream(
        ev, keys=["user_id"], window_duration="2 hours", slide="1 hour"
    )
    return run_to_final(agg, ["user_id", "window_start"], spark)


@register(
    "dedup_stream_distinct",
    oracle="""
    SELECT user_id, event_type, CAST(1 AS BIGINT) AS seen
    FROM events GROUP BY user_id, event_type
""",
)
def dedup_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT deduplication: ``dropDuplicates`` over a projected
    key in a REAL streaming job — each (user_id, event_type) pair is
    emitted exactly once, on first sight, from the dedup StateStore.

    Scale note: plain streaming dropDuplicates keeps every seen key in
    state forever — correct for global distinct, and the state size is
    the DISTINCT cardinality (here ≤ users × event types), not the input
    size. When duplicates are known to arrive within a bounded delay the
    production form is ``dropDuplicatesWithinWatermark``, which evicts
    state at the watermark; that variant trades global exactness for
    bounded state, so the oracle-exact entry uses the global form.
    """
    # dedup StateStore drain: few instances win (r14 A/B on the
    # within-watermark sibling: 2.35 s at 32 -> 1.56 s at 8)
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    ).select("user_id", "event_type")
    distinct = ev.dropDuplicates(["user_id", "event_type"]).withColumn(
        "seen", F.lit(1).cast("long")
    )
    return run_to_final(distinct, ["user_id", "event_type"], spark)


@register(
    "dedup_stream_within_watermark",
    oracle="""
    SELECT user_id, event_type, date_trunc('hour', ts) AS hour_bucket,
           CAST(1 AS BIGINT) AS seen
    FROM events GROUP BY 1, 2, 3
""",
)
def dedup_stream_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    — the production form of :func:`dedup_stream_distinct` whose state is
    evicted once the watermark passes a key's first-occurrence time + delay
    (plain streaming ``dropDuplicates`` keeps every key forever).

    The dedup key carries an hour bucket of the event time, so every
    duplicate of a key lies within 1 hour of the first occurrence — well
    inside the 2-hour watermark delay — and the bounded-state result is
    EXACTLY the global distinct the oracle computes. Exactness condition,
    stated precisely: the event-time bound above AND arrival order — a
    duplicate must be PROCESSED before the watermark passes its key's
    eviction point. The harness stages the table as one availableNow
    drain (the watermark only advances between micro-batches, so both
    hold); in a live deployment a duplicate arriving after its key was
    evicted (> delay late in processing time) would re-emit — the same
    guarantee Spark documents for dropDuplicatesWithinWatermark, and the
    deliberate state-for-recall trade at 100 TB: pick the delay to cover
    the real duplicate arrival skew and state stays O(keys live in the
    last delay window) instead of O(all keys ever). Eviction behavior is
    pinned by a replay test
    (tests/test_streaming.py::test_drop_duplicates_within_watermark_evicts_state).
    """
    # r14 A/B (tools/drain_sizing_ab.py): 2.35 s at 32 -> 1.56 s at 8
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    ).select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
    )
    ev = ev.withWatermark("hour_bucket", "2 hours")
    dd = ev.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hour_bucket"]
    ).withColumn("seen", F.lit(1).cast("long"))
    return run_to_append(dd, spark)


def _batch_overwrite_sink(out_dir: str):
    """foreachBatch delivery for :func:`run_to_append`: mode="overwrite"
    into a per-batch subdir, so redelivery of the same batch id (Spark's
    at-least-once contract after a mid-batch failure) replaces that
    batch's output — including any partial files a killed first attempt
    left — instead of appending a duplicate copy."""

    def sink(bdf: DataFrame, bid: int) -> None:
        _maybe_fail(bid)
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch-{bid:09d}")
        )

    return sink


def run_to_append(agg: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain an append-mode stateful streaming query (availableNow) into
    staging parquet and return everything appended.

    Idempotent under micro-batch replay (the same contract the Avro
    streaming sink implements with batch-id file prefixes): each batch
    writes mode="overwrite" into its own ``batch-<id>`` subdir, so a
    batch re-delivered after a mid-batch failure REPLACES its own output
    instead of appending a second copy — foreachBatch is at-least-once
    per batch id; the sink must be idempotent per batch id to get
    exactly-once (pinned by tests/test_streaming.py::
    test_run_to_append_idempotent_under_batch_replay)."""
    out_dir, ckpt, keep_ckpt = _drain_dirs("out")
    sink = _batch_overwrite_sink(out_dir)
    try:
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_progress(q)
    finally:
        _restore_session(spark)
    if not keep_ckpt:
        shutil.rmtree(ckpt, ignore_errors=True)
    batch_dirs = sorted(glob.glob(os.path.join(glob.escape(out_dir), "batch-*")))
    if not batch_dirs:
        return spark.createDataFrame([], agg.schema)
    return spark.read.parquet(*batch_dirs)


# Converged lookup-cache semantics over the corpus (see the query
# docstring). The whole events file is ONE data batch, so each key's rows
# are processed in event-time order with the watermark still unset —
# timers never interleave with data. Per fact (click):
#   - the cache holds the latest dim (signup) STRICTLY before the fact
#     (a dim at the exact fact ts sorts after it); if that dim is within
#     TTL (24 h), the fact matches it immediately;
#   - otherwise the fact buffers and flushes 'matched' against the FIRST
#     dim at-or-after it (no TTL check on flush — LookupCacheDoFn.scala
#     :162-173 flushes the buffer on any dim arrival; the GC timer that
#     would interleave in wall-clock streaming cannot fire mid-batch);
#   - no dim after it either → flushed to the DLQ by the GC timer once
#     the sentinel drives the watermark past max_seen + TTL.
_LOOKUP_STREAM_ORACLE = """
    WITH dims AS (
        SELECT user_id, CAST(event_id AS VARCHAR) AS dim_version, ts AS dim_ts
        FROM events WHERE event_type = 'signup'
    ),
    facts AS (
        SELECT user_id, CAST(event_id AS VARCHAR) AS fact_id, ts AS fact_ts
        FROM events WHERE event_type = 'click'
    ),
    enriched AS (
        SELECT f.user_id, f.fact_id, f.fact_ts,
               b.dim_version AS before_version, b.dim_ts AS before_ts,
               a.dim_version AS after_version, a.dim_ts AS after_ts
        FROM facts f
        LEFT JOIN LATERAL (
            SELECT dim_version, dim_ts FROM dims d
            WHERE d.user_id = f.user_id AND d.dim_ts < f.fact_ts
            ORDER BY d.dim_ts DESC LIMIT 1
        ) b ON TRUE
        LEFT JOIN LATERAL (
            SELECT dim_version, dim_ts FROM dims d
            WHERE d.user_id = f.user_id AND d.dim_ts >= f.fact_ts
            ORDER BY d.dim_ts ASC LIMIT 1
        ) a ON TRUE
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           fact_id,
           fact_ts AS fact_time,
           CASE WHEN before_ts IS NOT NULL
                     AND fact_ts - before_ts <= INTERVAL 86400 SECOND
                THEN before_version
                WHEN after_ts IS NOT NULL THEN after_version
           END AS dim_version,
           CASE WHEN before_ts IS NOT NULL
                     AND fact_ts - before_ts <= INTERVAL 86400 SECOND
                THEN before_ts
                WHEN after_ts IS NOT NULL THEN after_ts
           END AS dim_time,
           CASE WHEN (before_ts IS NOT NULL
                      AND fact_ts - before_ts <= INTERVAL 86400 SECOND)
                     OR after_ts IS NOT NULL
                THEN 'matched' ELSE 'dlq'
           END AS match_status
    FROM enriched
"""


@register("lookup_cache_join_stream", oracle=_LOOKUP_STREAM_ORACLE)
def lookup_cache_join_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's stateful lookup-cache join (J3/U1-U6) as a REAL
    applyInPandasWithState streaming job over the corpus: signups are the
    dimension (latest-wins cache keyed by user, 24h TTL, dim_version =
    signup event_id), clicks the facts; early facts buffer until their
    dim arrives, unmatched facts flush to the DLQ when the GC timer
    (max-seen + TTL) fires. The corpus file is one data micro-batch, so
    the run converges to the SQL-expressible as-of semantics in the
    oracle above; pane-by-pane buffering/TTL/latest-wins behavior is
    pinned by the replay suite (tests/test_stateful.py)."""
    from example_beam_spark.streaming.lookup_cache import (
        KIND_DIM,
        KIND_FACT,
        lookup_cache_join_stream,
    )

    # moderate Python-stateful kernel: few store instances still win
    # (r14 interleaved A/B, tools/drain_sizing_ab.py: 9.4/13.5 s at 32
    # -> 7.2/8.8 s at 8; rows identical). UNBOUNDED per-user state, so
    # the count derives from estimated key cardinality (r15 — the 8
    # floor at corpus scale, growing with keys at production volume)
    ev = read_events_stream_flushed(
        spark, sf_dir,
        shuffle_partitions=keyed_drain_instances(spark, sf_dir),
    ).withColumnRenamed("ts", "event_time")
    ev = ev.withWatermark("event_time", "1 hour")
    # drop sentinels AFTER the watermark node (unsplittable CASE predicate)
    union = ev.filter(
        F.when(
            F.col("event_type").isin("click", "signup"), F.col("event_time")
        ).isNotNull()
    ).select(
        F.col("user_id").cast("string").alias("key"),
        F.when(F.col("event_type") == "signup", F.lit(KIND_DIM))
        .otherwise(F.lit(KIND_FACT))
        .alias("kind"),
        F.col("event_id").cast("string").alias("payload"),
        "event_time",
    )
    joined = lookup_cache_join_stream(union, ttl_seconds=24 * 3600)
    return run_to_append(joined, spark)


# Converged custom-window semantics over the corpus (see the query
# docstring): the whole events file arrives in ONE data batch with the
# watermark still at -infinity, so ALL of a key's live windows merge
# unconditionally (AdEventWindowFn.scala:28-37 has no overlap test) into
# one window per key; the sentinel batches then close every window:
#   start = min(ts);
#   end   = ts + dur           (single event; dur = 60s click / 600s view)
#         | max(ts)            (>= 2 events, any click — a click pins the
#                               merged end to the latest participant's ts)
#         | max(ts) + 600s     (>= 2 events, impressions only)
_CUSTOM_WINDOW_STREAM_ORACLE = """
    WITH ads AS (
        SELECT CAST(user_id AS VARCHAR) AS screen_id,
               json_extract_string(props, '$.k') AS ad_id,
               (event_type = 'click') AS is_click,
               ts
        FROM events
        WHERE event_type IN ('click', 'view')
    ),
    g AS (
        SELECT screen_id, ad_id,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN is_click THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
               CAST(SUM(CASE WHEN is_click THEN 0 ELSE 1 END) AS BIGINT) AS n_imps,
               MIN(ts) AS window_start,
               MAX(ts) AS max_ts,
               MAX(CASE WHEN is_click THEN 1 ELSE 0 END) = 1 AS has_click
        FROM ads
        GROUP BY screen_id, ad_id
    )
    SELECT screen_id, ad_id,
           CAST(LEAST(1, n_clicks) AS BIGINT) AS clicks,
           CAST(LEAST(1, n_imps) AS BIGINT) AS impressions,
           CASE WHEN n_imps > 0
                THEN CAST(LEAST(1, n_clicks) AS DOUBLE)
                     / CAST(LEAST(1, n_imps) AS DOUBLE)
           END AS ctr,
           window_start,
           CASE
               WHEN n = 1 AND has_click THEN max_ts + INTERVAL 60 SECOND
               WHEN n = 1 THEN max_ts + INTERVAL 600 SECOND
               WHEN has_click THEN max_ts
               ELSE max_ts + INTERVAL 600 SECOND
           END AS window_end
    FROM g
"""


@register("ctr_custom_window_stream", oracle=_CUSTOM_WINDOW_STREAM_ORACLE)
def ctr_custom_window_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's custom merging ad-event window (W5) as a REAL
    stateful streaming job over the corpus: key (user_id, props.k) plays
    (screen_id, ad_id); click/view play click/impression; forward
    10-min impression / 1-min click windows (AdEventWindow.scala:70-83),
    merged per key, capped CTR emitted at window close. The corpus file is
    one data micro-batch (watermark still unset while it processes), so
    every key converges to ONE merged window — which IS SQL-expressible
    (oracle above); the pane-by-pane merge/lateness semantics are pinned
    by the replay suite in tests/test_stateful.py."""
    from example_beam_spark.streaming.custom_window import (
        ad_ctr_custom_window_stream,
    )

    ev = read_events_stream_flushed(spark, sf_dir).withColumnRenamed(
        "ts", "event_time"
    )
    ev = ev.withWatermark("event_time", "1 hour")
    # drop sentinels AFTER the watermark node (unsplittable CASE predicate)
    ads = ev.filter(
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_time")
        ).isNotNull()
    ).select(
        F.col("user_id").cast("string").alias("screen_id"),
        F.get_json_object("props", "$.k").alias("ad_id"),
        F.when(F.col("event_type") == "click", F.lit("click"))
        .otherwise(F.lit("impression"))
        .alias("action"),
        "event_time",
    )
    out = ad_ctr_custom_window_stream(ads, 600, 60)
    return run_to_append(out, spark)


_SENTINEL_USER = -1
# 2100-01-01 as epoch seconds — far past any corpus event time.
_SENTINEL_TS_SECONDS = 4102444800


def read_events_stream_flushed(
    spark: SparkSession, sf_dir: str, shuffle_partitions: int | None = None
) -> DataFrame:
    """Like :func:`read_events_stream`, but the staging dir also carries a
    far-future *sentinel* event (user_id = -1, ts = year 2100). Session
    windows only support append output, which emits a session when the
    watermark passes its end — without the sentinel, every session within
    (watermark delay + gap) of the corpus max event time would be stranded
    in the state store when availableNow drains. The sentinel drives the
    watermark past everything; availableNow's multi-batch executor then
    runs the extra flush batch. Callers must drop sentinel rows AFTER
    withWatermark (unsplittable CASE predicate — see harness module doc)."""
    _prepare_stream_session(spark, shuffle_partitions)
    schema, shim = events_read_schema(spark, sf_dir)
    d = _stage_dir(sf_dir, "events", variant="+sentinel")
    # TWO sentinel files at increasing times, read as separate micro-batches
    # (maxFilesPerTrigger=1): a watermark update only takes effect at the
    # NEXT batch, and stateful operators (outer joins especially) evict and
    # emit one batch after that — the second sentinel guarantees the final
    # eviction batch actually runs before availableNow terminates.
    # Written with pyarrow as SINGLE parquet files: the streaming file
    # source lists plain files only and would silently skip the directory
    # that df.write.parquet() produces.
    import pyarrow as pa
    import pyarrow.parquet as pq

    member_max_mtime_ns = max(
        (
            os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if not f.startswith("zz_sentinel_")
        ),
        default=0,
    )
    for i in (0, 1):
        sentinel_file = os.path.join(d, f"zz_sentinel_{i}.parquet")
        if not os.path.exists(sentinel_file):
            # Sentinel ts is written in the SAME physical encoding the
            # corpus uses (raw int64 nanos under the ns shim, else a
            # native timestamp column), so the staged dir stays
            # schema-homogeneous under the chosen read schema.
            sec = _SENTINEL_TS_SECONDS + i
            if shim:
                ts_arr = pa.array([sec * 1_000_000_000], pa.int64())
            else:
                ts_arr = pa.array([sec * 1_000_000], pa.timestamp("us"))
            table = pa.table(
                {
                    "event_id": pa.array([-1 - i], pa.int64()),
                    "ts": ts_arr,
                    "user_id": pa.array([_SENTINEL_USER], pa.int64()),
                    "event_type": pa.array(["__sentinel__"], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array([None], pa.string()),
                }
            )
            pq.write_table(table, sentinel_file)
            # Force the sentinel files strictly NEWER (in Hadoop's ms
            # granularity) than every member and than each other, so the
            # file source always schedules them LAST and in order —
            # whatever the member mtimes look like.
            mt_ns = (
                max(member_max_mtime_ns, time.time_ns())
                + (i + 1) * 2_000_000_000
            )
            os.utime(sentinel_file, ns=(mt_ns, mt_ns))
    n_members = sum(
        1 for f in os.listdir(d) if not f.startswith("zz_sentinel_")
    )
    # Micro-batch schedule (r15: collapsed where the split batches carry
    # no semantics — each extra availableNow batch costs ~1-2.5 s of pure
    # machinery at 8 store instances: incremental planning, per-partition
    # state-store open/commit, Python worker round trips, sink write;
    # measured per-batch in OPTIMIZATION_r15.md).
    #
    # - MULTI-member, provably time-ordered staging (the multibatch
    #   convergence lane): one file per trigger — the full multi-batch
    #   schedule with the watermark advancing between data batches is the
    #   point of that lane, and each sentinel must sit in its own batch
    #   (a watermark update takes effect one batch later).
    # - SINGLE-member staging (the standard fixture) or unprovable order:
    #   ALL files — members AND sentinels — in ONE batch. The data is
    #   processed with the watermark still unset (updates apply at batch
    #   end), so no in-order row can be dropped as late and every
    #   per-entry "whole corpus is one data batch" convergence argument
    #   holds unchanged; the sentinels' only effect is the post-batch
    #   watermark jump past year 2100. The final eviction/flush then
    #   happens in Spark's post-watermark no-data micro-batch
    #   (noDataMicroBatches, default true) — the same mechanism the
    #   pre-r15 unordered path already relied on — so the drain is
    #   2 micro-batches instead of 4. Check the knob so a session that
    #   disabled it fails loudly here, not with stranded state.
    ordered = _staged_files_time_ordered(d)
    if ordered and n_members > 1:
        trigger_files = 1
    else:
        require_no_data_batches(spark)
        trigger_files = n_members + 2
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", trigger_files)
        .parquet(d)
    )
    return apply_ns_shim(df) if shim else df


def require_no_data_batches(spark: SparkSession) -> None:
    """A collapsed staging schedule (members and sentinels in one batch)
    flushes its final state in the post-watermark no-data micro-batch;
    raise if the session disabled those batches."""
    if (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        .lower()
        != "true"
    ):
        raise RuntimeError(
            "collapsed staging schedule: final sentinel flush depends on "
            "the post-watermark no-data micro-batch, but "
            "spark.sql.streaming.noDataMicroBatches.enabled is false"
        )


def stream_join_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clicks⋈views streaming join graph shared by
    enrich_stream_stream_join and the DLQ-fork twin
    (streaming/join_dlq_stream.py): one watermark node, CASE-filter
    side fork, time-range left-outer join."""
    from example_beam_spark.streaming.join_stream import (
        stream_stream_time_range_join,
    )

    # JVM-stateful drain: store machinery, not CPU, is the cost — 8
    # store instances measured 12.9 → 4.6 s (tools/drain_tuning.py)
    ev = read_events_stream_flushed(
        spark, sf_dir, shuffle_partitions=min(8, spark.sparkContext.defaultParallelism)
    ).withColumnRenamed("ts", "event_time")
    # ONE shared watermark node, then watermark-anchored CASE filters fork
    # the two sides. Two separate withWatermark calls would create two
    # watermark operators whose maxes must BOTH advance for the global
    # min watermark to move — a batch seen by only one side pins the
    # watermark and strands outer-join state (see tests/test_stateful.py).
    wm = ev.withWatermark("event_time", "1 hour")
    clicks = wm.filter(
        F.when(F.col("event_type") == "click", F.col("event_time")).isNotNull()
    )
    views = wm.filter(
        F.when(F.col("event_type") == "view", F.col("event_time")).isNotNull()
    )
    facts = clicks.select("event_id", "user_id", "event_time")
    dims = views.select(
        F.col("user_id").alias("user_id_dim"),
        F.col("event_id").alias("view_event_id"),
        F.col("event_time").alias("dim_event_time"),
        F.col("value").alias("view_value"),
    )
    return stream_stream_time_range_join(
        facts, dims, key="user_id", ttl_seconds=6 * 3600
    )


@register(
    "enrich_stream_stream_join",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value
    FROM events c
    LEFT JOIN events v
      ON v.user_id = c.user_id
     AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL 6 HOUR
     AND v.ts <= c.ts
    WHERE c.event_type = 'click'
""",
)
def enrich_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 as a REAL stream-stream left-outer join: clicks enriched with
    the same user's views from the preceding 6 hours — the repeater-free
    Spark replacement (see streaming/join_stream.py). Same oracle as the
    batch enrich_time_range_join: after the sentinel drains the watermark,
    the streaming result equals the batch join."""
    joined = stream_join_graph(spark, sf_dir)
    out = run_to_append(joined, spark)
    return out.select(
        "event_id",
        "user_id",
        F.col("event_time").alias("ts"),
        "view_event_id",
        F.col("dim_event_time").alias("view_ts"),
        "view_value",
    )


_SESSIONIZE_STREAM_ORACLE = """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_event_time
    FROM sessions
    GROUP BY user_id, session_id
"""


@register("sessionize_events_stream", oracle=_SESSIONIZE_STREAM_ORACLE)
def sessionize_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the built-in session_window (gap-based
    merging windows — the built-in cousin of the reference's custom merging
    WindowFn). Append mode (the only mode session windows support) + a
    watermark-advancing sentinel so every session flushes. Oracle:
    gaps-and-islands in SQL; session_window's end is last-event + gap, and
    two events exactly gap apart start a NEW session (windows [t, t+gap)
    merge only when they properly overlap), hence the >= in the oracle's
    session-break predicate."""
    # JVM-stateful drain: 8 store instances measured 5.0 → 2.5 s
    # (tools/drain_tuning.py; same reasoning as enrich_stream_stream_join)
    ev = read_events_stream_flushed(
        spark, sf_dir, shuffle_partitions=min(8, spark.sparkContext.defaultParallelism)
    ).withColumnRenamed("ts", "event_time")
    ev = ev.withWatermark("event_time", "1 hour")
    # Drop the sentinel AFTER the watermark node; the CASE-shaped predicate
    # is watermark-anchored so Catalyst can't push it below EventTimeWatermark.
    ev = ev.filter(
        F.when(F.col("user_id") != _SENTINEL_USER, F.col("event_time")).isNotNull()
    )
    agg = ev.groupBy(
        "user_id", F.session_window("event_time", "30 minutes").alias("w")
    ).agg(
        F.count("*").alias("n_events"),
        F.max("event_time").alias("last_event_time"),
    )
    out = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "last_event_time",
    )
    return run_to_append(out, spark)


# --------------------------------------------------------------------------
# events_weekly_drift_stream — the drift monitor on a LIVE stream
# --------------------------------------------------------------------------

from example_beam_spark.operators.analytics import _DRIFT_ORACLE as _DRIFT_ORACLE_BATCH


@register("events_weekly_drift_stream", oracle=_DRIFT_ORACLE_BATCH)
def events_weekly_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-drift monitor running on a REAL Structured
    Streaming feed: weekly (week, event_type) counts accumulate as
    streaming state (state volume = weeks-in-retention × |types| rows,
    ever) and are scored against a STATIC baseline distribution — the
    production drift-monitoring shape, where the reference distribution
    is a broadcast artifact computed offline and the live side only
    maintains windowed counts.

    Here the baseline is the batch events table and availableNow drains
    the entire corpus, so the result — including the full weeks × types
    GRID semantics of the batch twin (a vanished type contributes its
    whole |0 − share| term) — is gated by the SAME value oracle as
    ``events_weekly_drift``."""
    from example_beam_spark.operators.analytics import drift_from_weekly
    from example_beam_spark.sources import load_table

    # weeks × types JVM windowed agg: store machinery dominates (r14 A/B,
    # tools/drain_sizing_ab.py: 1.61 s at 32 -> 1.16 s at 8; rows identical)
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    )
    agg = (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            "event_type",
        )
        .groupBy("week", "event_type")
        .agg(F.count("*").cast("long").alias("n_wt"))
    )
    weekly = run_to_final(agg, ["week", "event_type"], spark).select(
        "week", "event_type", "n_wt"
    )
    return drift_from_weekly(weekly, load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# events_funnel_stream — the behavior funnel as per-user streaming state
# --------------------------------------------------------------------------

from example_beam_spark.operators.behavior import _FUNNEL_ORACLE as _FUNNEL_ORACLE_BATCH


@register("events_funnel_stream", oracle=_FUNNEL_ORACLE_BATCH)
def events_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered signup→view→click→purchase funnel on a REAL
    applyInPandasWithState stream (see streaming/funnel_stream.py for
    why exact funnels need buffered-recompute state): per-user chain
    state updates every micro-batch, the drain takes each user's LAST
    emitted chain, and the final rollup is the same four-count aggregate
    as the batch twin — gated by the SAME value oracle
    (operators/behavior.events_funnel). Converges under any batch
    split/arrival order because the chain is a pure function of the
    buffered event set."""
    from example_beam_spark.streaming.funnel_stream import funnel_stream

    # per-user Python-stateful kernel, light rows: few instances still win
    # (r14 A/B, tools/drain_sizing_ab.py: 1.94 s at 32 -> 1.76 s at 8).
    # UNBOUNDED per-user state — instance count derives from estimated
    # key cardinality (r15): the 8 floor at corpus scale, growing with
    # keys at production volume.
    ev = read_events_stream(
        spark, sf_dir,
        shuffle_partitions=keyed_drain_instances(spark, sf_dir),
    )
    keyed = ev.select(
        "user_id", F.col("ts").alias("event_time"), "event_type"
    )
    per_user = run_to_final(funnel_stream(keyed), ["user_id"], spark)
    return per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("s1").cast("long").alias("n_signup"),
        F.count("s2").cast("long").alias("n_signup_view"),
        F.count("s3").cast("long").alias("n_signup_view_click"),
        F.count("s4").cast("long").alias("n_full_funnel"),
    )
