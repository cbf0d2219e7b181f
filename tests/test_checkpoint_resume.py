"""Checkpoint recovery: a stateful streaming aggregation stopped and
restarted against the SAME checkpoint must restore its state store,
process ONLY newly arrived files, and emit cumulative (not reset)
aggregates — Structured Streaming's exactly-once restart contract, the
operational property every production streaming job leans on."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_provider(request, spark):
    """Run every recovery scenario under BOTH state store providers: the
    in-memory HDFS-backed default and RocksDB (the provider production
    sizes to — state lives off-heap/on-disk, so executor state is bounded
    by disk not memory at 100-TB state volumes). The provider binds at
    checkpoint creation; each test uses fresh checkpoints so the setting
    applies cleanly, and the previous session value is restored after."""
    if request.param == "hdfs":
        yield request.param
        return
    from example_beam_spark.streaming.entries import ROCKSDB_PROVIDER

    try:
        prev = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        prev = None
    spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
    try:
        yield request.param
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)


def _write_batch(src: str, name: str, rows: list[tuple[int, int]]) -> None:
    # single parquet FILES — the streaming file source skips directories
    table = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "n": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(src, f"{name}.parquet"))


def _drain(spark, src: str, ckpt: str, out: str) -> None:
    agg = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .groupBy("user_id")
        .agg(F.sum("n").alias("total"))
    )

    def sink(bdf, bid):
        bdf.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stateful_agg_resumes_from_checkpoint(spark, tmp_path, state_provider):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "out1")
    out2 = str(tmp_path / "out2")
    os.makedirs(src)

    _write_batch(src, "b1", [(1, 10), (2, 5)])
    _drain(spark, src, ckpt, out1)
    first = {
        r["user_id"]: r["total"] for r in spark.read.parquet(out1).collect()
    }
    assert first == {1: 10, 2: 5}

    # new file arrives while the query is DOWN; restart from the same
    # checkpoint into a fresh sink dir so run-2 emissions are isolated
    _write_batch(src, "b2", [(2, 7), (3, 1)])
    _drain(spark, src, ckpt, out2)
    second = {
        r["user_id"]: r["total"] for r in spark.read.parquet(out2).collect()
    }
    # state restored: user 2 is CUMULATIVE (5 + 7), not reset to 7;
    # incremental: user 1 untouched by batch 2 → not re-emitted
    assert second == {2: 12, 3: 1}, second


def test_restart_without_new_input_emits_nothing(spark, tmp_path, state_provider):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "out1")
    out2 = str(tmp_path / "out2")
    os.makedirs(src)

    _write_batch(src, "b1", [(1, 3)])
    _drain(spark, src, ckpt, out1)
    assert {r["user_id"]: r["total"] for r in spark.read.parquet(out1).collect()} == {1: 3}

    _drain(spark, src, ckpt, out2)  # nothing new arrived
    try:
        rows = spark.read.parquet(out2).collect()
    except Exception:  # sink dir never created — zero emissions
        rows = []
    assert rows == [], "restart with no new input must not re-emit state"
