"""State primitives tour — every reference state type live on the
state-v2 surface (reference: taskmanager/state/state_types.py:31-357:
ValueState/ListState/MapState/ReducingState over the RocksDB backend).

One synthetic clickstream, four stateful operators on
``transformWithStateInPandas`` (RocksDB provider, real state server —
on this container via the vendored minipb protobuf runtime):

- ValueState  → per-user running (count, total, min, max)
- MapState    → per-user map of event_type -> count
- ListState   → per-user last-3 events ring buffer
- Reducing    → per-user max(value) fold

Self-checking: each result is compared against the equivalent batch
aggregate. Run:

    python examples/state_primitives.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from stream_processing_platform_spark.session import get_spark
from stream_processing_platform_spark.sources.streaming import file_source
from stream_processing_platform_spark.streaming.stateful_v2 import (
    STATE_V2_CONF,
    map_state_counts,
    recent_events,
    reducing_state,
    running_stats,
)

SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", StringType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def T(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


EVENTS = [
    (1, "e1", "click", T(1), 10.0),
    (1, "e2", "view", T(2), 3.0),
    (1, "e3", "click", T(3), 7.0),
    (1, "e4", "purchase", T(4), 99.0),
    (2, "e5", "view", T(5), 1.0),
    (2, "e6", "view", T(6), 2.0),
]


def run_stream(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def main() -> None:
    # This script owns its session, so it picks the RocksDB provider that
    # transformWithState needs once, for every query it runs.
    spark = get_spark(
        app_name="example-state-primitives",
        shuffle_partitions=4,
        extra_conf=STATE_V2_CONF,
    )
    src = tempfile.mkdtemp(prefix="spp_state_example_")
    spark.createDataFrame(EVENTS, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    def stream():
        s = file_source(spark, src, SCHEMA)
        return s.withColumn("ts_ms", F.unix_millis(F.col("ts")))

    print("== ValueState: running stats per user ==")
    run_stream(running_stats(stream(), "user_id", "value"), "ex_value")
    stats = {r.key: (r.cnt, r.total, r.mn, r.mx) for r in spark.table("ex_value").collect()}
    print(stats)
    assert stats[1] == (4, 119.0, 3.0, 99.0)
    assert stats[2] == (2, 3.0, 1.0, 2.0)

    print("== MapState: event-type counts per user ==")
    run_stream(map_state_counts(stream(), "user_id", "event_type"), "ex_map")
    counts = {(r.key, r.cat): r.n for r in spark.table("ex_map").collect()}
    print(counts)
    assert counts[(1, "click")] == 2 and counts[(1, "purchase")] == 1
    assert counts[(2, "view")] == 2

    print("== ListState: last-3 ring buffer per user ==")
    run_stream(recent_events(stream(), "user_id", "ts_ms", "event_id", n=3), "ex_list")
    recent = {r.key: r.recent for r in spark.table("ex_list").collect()}
    print(recent)
    assert recent[1] == "e2,e3,e4"  # e1 evicted by the n=3 cap
    assert recent[2] == "e5,e6"

    print("== ReducingState: max(value) fold per user ==")
    run_stream(reducing_state(stream(), "user_id", max, "value"), "ex_reduce")
    mx = {r.key: r.acc for r in spark.table("ex_reduce").collect()}
    print(mx)
    assert mx[1] == 99.0 and mx[2] == 2.0

    print("all state primitives verified")


if __name__ == "__main__":
    main()
