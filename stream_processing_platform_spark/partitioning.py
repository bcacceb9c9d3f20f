"""Partition-layout helpers.

The CPU-bound operators (shingling, MinHash, SimHash, embedding math)
are only as parallel as their input scan. A single unsplittable parquet
file (one row group) yields ONE task no matter what
``spark.sql.files.maxPartitionBytes`` says — byte-range splits cannot
divide a row group. On a real cluster the input is thousands of files
and this helper is a no-op; on small/skewed layouts it restores
parallelism with one cheap round-robin shuffle *before* the expensive
map work, which is exactly the standard remedy for unsplittable small
inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Round-robin repartition iff the physical scan has fewer partitions
    than the cluster has cores. No-op (and therefore scale-safe: never an
    extra shuffle at 100 TB) when the input is already wide enough.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def runtime_bloom_filter_conf(
    creation_side_threshold: str = "50MB",
    application_side_threshold: str = "1GB",
) -> dict[str, str]:
    """Session conf that turns on Catalyst's injected runtime bloom
    filters for shuffle joins; apply it with ``session.scoped_conf``.

    At 100 TB the win: when a selective filter sits on one join side
    (e.g. ``orders WHERE status='F'`` joining lineitem), Spark builds a
    ``bloom_filter_agg`` over the filtered side's join keys and injects
    ``might_contain(...)`` as a pre-shuffle filter on the FACT side — fact
    rows whose keys cannot match are dropped before the exchange, often
    the single biggest shuffle-bytes reduction available on a star join
    too big to broadcast. The thresholds bound sketch-build cost:
    ``creation_side_threshold`` caps the filtered build side's size,
    ``application_side_threshold`` is the minimum fact-scan size worth
    protecting (defaults here are cluster-shaped; tests lower them to
    force injection at local scale — the gate is
    tests/test_plan_quality.py::test_runtime_bloom_filter_injected).
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            application_side_threshold,
    }


def checkpointer(df: DataFrame):
    """Materialization helper shared by every operator whose lineage
    feeds MULTIPLE downstream branches (iterative graph rounds,
    self-joined candidate sets, batch members consumed by several
    probes): returns a function that checkpoints a DataFrame eagerly
    and truncates lineage, so each consumer reads the materialized
    blocks instead of re-running the upstream chain.

    Reliable ``.checkpoint()`` when the SparkContext has a checkpoint
    dir configured (blocks re-readable from shared storage — survives
    executor loss on a cluster), ``localCheckpoint`` otherwise (blocks
    on executors — fine on local[n]). Housekeeping: Spark does not
    delete reliable checkpoint files by default; long-running services
    should set ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    or prune the checkpoint dir between runs.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return lambda d: d.checkpoint(eager=True)
    return lambda d: d.localCheckpoint(eager=True)
