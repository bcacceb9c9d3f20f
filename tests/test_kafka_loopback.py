"""Kafka loopback fault-injection tests (VERDICT r5 #5): the
exactly-once offsets path end-to-end minus the socket. The staged
records carry the real kafka relation schema, flow through the real
decode projection, and the producer-shaped sink injects a crash in the
ack-lost window (written but uncommitted batch); the restart must
replay exactly that batch and the batch-id overwrite must swallow the
replay — no duplicates, no loss. See sources/kafka_loopback.py for the
precise statement of what remains broker-only."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stream_processing_platform_spark.sources.kafka_loopback import (
    LoopbackProducerSink,
    kafka_loopback_source,
    stage_kafka_records,
)

# r15 verify-window tiering: staged-batch streaming / TWS / fuzz /
# cluster tests run in the slow tier (pytest.ini; -m slow at round close)
pytestmark = pytest.mark.slow


VALUE_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _read_out(spark, out_dir):
    rows = spark.read.parquet(f"{out_dir}/batch_id=*").collect()
    return sorted(json.loads(r.value)["event_id"] for r in rows)


def _run(spark, src_dir, out_dir, ckpt, sink):
    stream = kafka_loopback_source(spark, src_dir, VALUE_SCHEMA)
    # a representative transform between source and producer: filter +
    # projection (what a real kafka->kafka job does per record)
    transformed = stream.where(F.col("value") >= 0).select(
        "event_id", "user_id", "value"
    )
    return (
        transformed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_loopback_roundtrip_decode_encode(spark, tmp_path):
    """Records staged kafka-shaped decode to typed rows and re-encode to
    producer frames: the full kafka_source→job→kafka_sink projection
    chain, on real streaming execution."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    off = stage_kafka_records(
        spark, src, [{"event_id": f"e{i}", "user_id": i, "value": float(i)} for i in range(5)]
    )
    assert off == 5
    q = _run(spark, src, out, ckpt, LoopbackProducerSink(out))
    q.awaitTermination(120)
    assert _read_out(spark, out) == [f"e{i}" for i in range(5)]


def test_injected_producer_failure_replays_without_duplicates(spark, tmp_path):
    """Crash after the batch is written but before the commit (the
    ack-lost window). The restarted query must (a) replay the
    uncommitted batch — at-least-once delivery from checkpointed
    offsets — and (b) produce NO duplicate and NO missing record thanks
    to the batch-id-keyed idempotent overwrite. This is the
    exactly-once contract kafka_sink delegates to the checkpoint
    protocol, demonstrated under failure."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    off = stage_kafka_records(
        spark, src, [{"event_id": "a0", "user_id": 1, "value": 1.0}]
    )
    off = stage_kafka_records(
        spark, src,
        [{"event_id": "b0", "user_id": 2, "value": 2.0},
         {"event_id": "b1", "user_id": 2, "value": 3.0}],
        start_offset=off,
    )

    failing = LoopbackProducerSink(out, fail_after_write_on_batch=1)
    q = _run(spark, src, out, ckpt, failing)
    with pytest.raises(Exception, match="injected producer failure"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() and q.exception().desc or "query did not fail")

    # batch 1's data is on disk (the send happened) but its offsets are
    # uncommitted — exactly the state a producer crash leaves behind
    assert "b0" in _read_out(spark, out)

    # more records arrive while the job is down
    stage_kafka_records(
        spark, src, [{"event_id": "c0", "user_id": 3, "value": 4.0}], start_offset=off
    )

    # restart, same checkpoint, healthy sink: batch 1 replays (overwrite
    # of the same batch_id dir), batch 2 is new; batch 0 is NOT re-read
    q2 = _run(spark, src, out, ckpt, LoopbackProducerSink(out))
    q2.awaitTermination(120)
    assert _read_out(spark, out) == ["a0", "b0", "b1", "c0"]


def test_negative_filter_interacts_with_replay(spark, tmp_path):
    """Replay determinism with a filtering transform: rows dropped by
    the job are dropped identically on replay (no resurrection, no
    double-drop accounting)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    stage_kafka_records(
        spark, src,
        [{"event_id": "keep", "user_id": 1, "value": 1.0},
         {"event_id": "drop", "user_id": 1, "value": -1.0}],
    )
    failing = LoopbackProducerSink(out, fail_after_write_on_batch=0)
    q = _run(spark, src, out, ckpt, failing)
    with pytest.raises(Exception, match="injected producer failure"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() and q.exception().desc or "query did not fail")
    q2 = _run(spark, src, out, ckpt, LoopbackProducerSink(out))
    q2.awaitTermination(120)
    assert _read_out(spark, out) == ["keep"]
