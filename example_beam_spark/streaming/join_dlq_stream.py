"""The windowed stream-stream join's DLQ fork as a LIVE two-sink
streaming entry — the reference composite's expired case end-to-end
(AdEventFixedWindowWithRepeaterEnricherTest.scala:37-111: an ad event
whose screen never arrives inside the window is routed to the dlq
output after window expiry; AdEventFixedWindowWithRepeaterEnricher
.scala:61-67 is the two-output fork itself).

Spark-first shape: the SAME one-watermark time-range left-outer join
graph as enrich_stream_stream_join (streaming/entries.py:
stream_join_graph) — the engine's outer join IS the expiry machinery:
a null-padded left row is emitted only once the watermark proves no
matching right row can still arrive, exactly the reference's
timer-driven expired emission, with no hand-rolled state. The fork
happens at the SINK, the production two-output discipline: ONE
streaming query, one pass over the join state, and each micro-batch
splits into a matched destination and a DLQ destination
(streaming/join_stream.py:split_matched — the P6/J6 helper — applied
per batch inside foreachBatch). Delivery keeps the drain's
idempotence contract: both destinations live under a per-batch-id
directory written mode="overwrite", so a batch redelivered after a
mid-batch crash replaces BOTH sides instead of appending duplicates
(exactly-once across kill/resume — pinned in
tests/test_multibatch_resume.py).

The oracle pins BOTH sides in one result: every click appears exactly
once, tagged 'matched' (with its view columns) or 'dlq' (null view
columns) — the batch left join's null fork. Multi-batch convergence
(watermark advancing between data batches, DLQ rows emitted as their
horizon expires — the LIVE dlq stream, not an end-of-drain sweep) is
pinned by tools/multibatch.py's lane.

Scale notes: identical to the underlying join (state bounded by
TTL x rate per key, shuffled by the equi-key); the fork adds no
shuffle and no second stateful operator — two filters over each
delivered micro-batch. A naive "two queries" fork would double the
join state and break output atomicity between the sides; the
single-query two-sink form is the one that survives 100 TB/day.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from example_beam_spark.registry import register

_JOIN_DLQ_ORACLE = """
    SELECT c.event_id, c.user_id, c.ts,
           v.event_id AS view_event_id, v.ts AS view_ts, v.value AS view_value,
           CASE WHEN v.event_id IS NULL THEN 'dlq' ELSE 'matched' END AS side
    FROM events c
    LEFT JOIN events v
      ON v.user_id = c.user_id
     AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL 6 HOUR
     AND v.ts <= c.ts
    WHERE c.event_type = 'click'
"""


def _write_fork(bdf: DataFrame, root: str) -> None:
    """Per-batch write of the two-output fork: matched rows and DLQ rows
    land in sibling subdirs under the batch's dir, both
    mode="overwrite" (idempotent replay, per side)."""
    from example_beam_spark.streaming.join_stream import split_matched

    # Persist the delivered micro-batch ONCE: without it, each side's
    # write re-executes the batch's join plan from the state store —
    # the two-sink fork paid the upstream work twice (guide §2.4
    # "don't compute things twice"; r15 sweep showed the DLQ entry
    # +2.6 s over the single-sink join). The persist/unpersist pair
    # is batch-scoped, inside the foreachBatch delivery — standard
    # multi-sink discipline, not a cross-run cache.
    bdf.persist()
    try:
        matched, dlq = split_matched(bdf, "view_event_id")
        matched.withColumn("side", F.lit("matched")).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "matched"))
        dlq.withColumn("side", F.lit("dlq")).write.mode("overwrite").parquet(
            os.path.join(root, "dlq")
        )
    finally:
        bdf.unpersist()


def run_to_fork(joined: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain the streaming join through the two-sink fork and return
    the union of both destinations (side column tags the origin)."""
    from example_beam_spark.streaming.entries import drain, read_batches

    out_dir = drain(joined, spark, _write_fork)
    return read_batches(
        spark, out_dir, joined.schema.add("side", "string"), "batch-*/*"
    )


@register("enrich_stream_join_dlq", oracle=_JOIN_DLQ_ORACLE)
def enrich_stream_join_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched + DLQ outputs of the live windowed stream-stream join
    (module doc): one streaming query, two sinks; unmatched clicks
    surface on the DLQ side only after the watermark expires their
    join window — the reference repeater's expired case."""
    from example_beam_spark.streaming.entries import stream_join_graph

    joined = stream_join_graph(spark, sf_dir)
    out = run_to_fork(joined, spark)
    return out.select(
        "event_id",
        "user_id",
        F.col("event_time").alias("ts"),
        "view_event_id",
        F.col("dim_event_time").alias("view_ts"),
        "view_value",
        "side",
    )
