"""Sinks (SURVEY.md §2.2).

Reference → Spark mapping:
- `KafkaSinkOperator` (sinks.py:19-104; acks=all, ordered, flush-on-
  checkpoint) → ``writeStream.format("kafka")`` + checkpointLocation;
  the commit protocol subsumes the manual flush/ordering machinery.
- `PrintSinkOperator` → console sink.
- `CollectionSinkOperator` → memory sink (query results readable via
  ``spark.table(name)``).
Batch writers land parquet partitioned by a key when given — at 100 TB
the partition column choice is the dominant read-side optimization.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def memory_sink(
    df: DataFrame, name: str, output_mode: str = "append", trigger_once: bool = False
) -> StreamingQuery:
    """CollectionSinkOperator twin: results accumulate in an in-memory
    table named ``name``."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def console_sink(df: DataFrame, output_mode: str = "append") -> StreamingQuery:
    """PrintSinkOperator twin."""
    return df.writeStream.format("console").outputMode(output_mode).start()


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.start()


def kafka_writer_options(topic: str, bootstrap_servers: str, checkpoint_dir: str) -> dict[str, str]:
    """The writer options kafka_sink wires — one place, so the contract
    test fails if an option is dropped. checkpointLocation carries the
    commit protocol that subsumes the reference's manual acks=all /
    flush-on-checkpoint ordering (its sinks.py producer machinery)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_sink(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Exactly-once Kafka producer path; ``df`` needs ``key``/``value``
    (binary or string) columns — use ``to_json(struct(...))`` for JSON
    payloads (the reference's json.dumps sink, gui/app_gcp.py:274)."""
    w = df.writeStream.format("kafka")
    for k, v in kafka_writer_options(topic, bootstrap_servers, checkpoint_dir).items():
        w = w.option(k, v)
    return w.outputMode(output_mode).start()


def foreach_batch_sink(df: DataFrame, fn, checkpoint_dir: str | None = None) -> StreamingQuery:
    """Escape hatch for arbitrary per-micro-batch logic
    (fn(batch_df, batch_id)) — e.g. idempotent upserts to external
    stores."""
    w: DataStreamWriter = df.writeStream.foreachBatch(fn)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED (and optionally sort-ordered) table: rows
    are hash-distributed into ``num_buckets`` files per partition by
    ``bucket_cols`` at WRITE time, so a later join or aggregation on
    those columns needs no shuffle at READ time — the pre-shuffle is
    amortized across every downstream query. The 100 TB pattern for
    fact-to-fact joins too big to broadcast: bucket both sides on the
    join key with the same bucket count and the join compiles with zero
    Exchange (gated in test_plan_quality). Bucketing requires the table
    catalog (``saveAsTable``), not a bare path."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def exactly_once_parquet_sink(
    df: DataFrame, path: str, checkpoint_dir: str, trigger_available_now: bool = True
) -> StreamingQuery:
    """Effectively-exactly-once file sink: each micro-batch OVERWRITES
    its own ``batch_id=N`` directory, so a batch replayed after a crash
    (offsets checkpointed, commit lost) rewrites the same directory
    instead of appending duplicates. Checkpointed offsets make batch ids
    stable across restarts; overwrite makes the write idempotent — the
    two halves of the exactly-once contract. This is the upgrade over
    the reference's at-least-once KafkaSink flush loop (sinks.py:19-104
    acks=all, which still re-emits on replay); reader side consumes
    ``path`` recursively or via the ``batch_id`` partition column."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(path, f"batch_id={batch_id}"))

    w: DataStreamWriter = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def json_payload(
    df: DataFrame, key_col: str | None = None, headers_col: str | None = None
) -> DataFrame:
    """Pack all columns into a JSON ``value`` (+ optional ``key``) for
    kafka_sink — to_json(struct(*)) replaces the reference's json.dumps.
    ``headers_col`` forwards record headers to the producer frame (the
    kafka sink's optional ``headers`` column, same
    array<struct<key,value>> shape the source reads) instead of packing
    them into the JSON value."""
    payload_cols = [c for c in df.columns if c != headers_col]
    cols = [F.to_json(F.struct(*payload_cols)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    if headers_col is not None:
        cols.append(F.col(headers_col).alias("headers"))
    return df.select(*cols)


def scd2_sink(
    updates: DataFrame,
    dim_path: str,
    key_cols: list[str],
    tracked_cols: list[str],
    checkpoint_dir: str,
    effective_ms_col: str = "effective_ms",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Streaming CDC → maintained SCD2 dimension (foreachBatch merge).

    Each micro-batch applies :func:`operators.scd.scd2_apply` to the
    current snapshot and writes the next one to ``dim_path/v=<batch_id>``
    — versioned directories make the write idempotent under replay
    (a re-run batch overwrites ITS OWN version, computed from the same
    parent snapshot), checkpointed offsets make batch ids stable: the
    same exactly-once contract as ``exactly_once_parquet_sink``, plus
    time travel for free (every snapshot version stays readable).
    Readers resolve the latest version with :func:`scd2_latest_path`.
    An empty ``dim_path`` bootstraps from the first batch (all inserts).

    At 100 TB, rewriting the full snapshot per batch is the cost of
    plain parquet; swap the write for a Delta/Iceberg MERGE keyed on
    (key, is_current) to touch only changed files — the merge LOGIC
    (scd2_apply) is unchanged.
    """
    from stream_processing_platform_spark.operators import scd

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # parent snapshot = newest version BELOW this batch id (replays
        # of batch N must not read N's own partial/failed output)
        parents = [v for v in _scd2_versions(dim_path) if v < batch_id]
        if parents:
            current = spark.read.parquet(os.path.join(dim_path, f"v={parents[-1]}"))
            nxt = scd.scd2_apply(
                current, batch_df, key_cols, tracked_cols, effective_ms_col
            )
        else:
            latest = batch_df.groupBy(*key_cols).agg(
                F.max(F.struct(effective_ms_col, *tracked_cols)).alias("_u")
            )
            nxt = scd.scd2_init(
                latest.select(
                    *key_cols,
                    *[F.col(f"_u.{c}").alias(c) for c in tracked_cols],
                ),
                key_cols,
                tracked_cols,
            ).withColumn(
                "valid_from_ms", F.lit(0).cast("long")
            )
        nxt.write.mode("overwrite").parquet(os.path.join(dim_path, f"v={batch_id}"))

    w: DataStreamWriter = updates.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _scd2_versions(dim_path: str) -> list[int]:
    """Sorted snapshot versions (the ``v=<n>`` subdirectories) under a
    :func:`scd2_sink` dimension; none if the path does not exist yet."""
    if not os.path.isdir(dim_path):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(dim_path)
        if (m := re.fullmatch(r"v=(\d+)", d)) and os.path.isdir(os.path.join(dim_path, d))
    )


def scd2_latest_path(dim_path: str) -> str:
    """Newest snapshot version under a :func:`scd2_sink` dimension."""
    versions = _scd2_versions(dim_path)
    if not versions:
        raise FileNotFoundError(f"no v=<n> snapshots under {dim_path}")
    return os.path.join(dim_path, f"v={versions[-1]}")
