"""KMV distinct sketch (operators/sketches.py, r11): accuracy vs the
exact count, the exact-branch semantics for small groups, determinism
across partitionings, and empty-input robustness. The sketch's
VALUE-correctness (that the distributed plan computes the estimator
exactly) is the driver's job — q_approx_distinct_kmv carries a full
generated oracle; what pytest owns is that the approximation is GOOD."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processing_platform_spark.operators.sketches import (
    kmv_distinct,
    kmv_distinct_sql,
)


def test_kmv_accuracy_vs_exact(spark):
    # 6 groups with distinct cardinalities 50..3200: k=64 gives
    # ~1/sqrt(62) ~ 13% std error; gate at 3 sigma
    rows = spark.range(0, 3200).select(
        F.col("id").alias("v"),
        F.explode(
            F.filter(
                F.array(*[F.lit(i) for i in range(6)]),
                lambda i: F.col("id") < 50 * F.pow(F.lit(2), i.cast("double")),
            )
        ).alias("g"),
    )
    est = {
        r["g"]: r["approx_distinct"]
        for r in kmv_distinct(rows, ["g"], "v", k=64).collect()
    }
    for i in range(6):
        exact = 50 * 2**i
        rel = abs(est[i] - exact) / exact
        assert rel < 0.40, (i, exact, est[i], rel)
    # aggregate accuracy: mean relative error well inside 1 sigma
    mean_rel = sum(abs(est[i] - 50 * 2**i) / (50 * 2**i) for i in range(6)) / 6
    assert mean_rel < 0.15, mean_rel


def test_kmv_small_group_is_exact_and_partition_invariant(spark):
    df = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(7)] * 3, "g string, v long"
    )
    out = {r["g"]: r for r in kmv_distinct(df, ["g"], "v", k=32).collect()}
    assert out["a"]["approx_distinct"] == 7  # < k distinct -> exact
    assert out["b"]["approx_distinct"] == 7
    # repartitioning must not change a single output value
    out2 = {
        r["g"]: r
        for r in kmv_distinct(df.repartition(13, "v"), ["g"], "v", k=32).collect()
    }
    for g in ("a", "b"):
        assert out[g] == out2[g]


def test_kmv_null_values_ignored_and_empty_input(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2)], "g string, v long"
    )
    out = kmv_distinct(df, ["g"], "v", k=8).collect()
    assert len(out) == 1 and out[0]["approx_distinct"] == 2
    empty = spark.createDataFrame([], "g string, v long")
    assert kmv_distinct(empty, ["g"], "v", k=8).count() == 0


def test_kmv_sql_twin_matches_operator(spark, sf_dir, duck):
    from stream_processing_platform_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    got = sorted(
        tuple(r) for r in kmv_distinct(e, ["event_type"], "user_id", k=16).collect()
    )
    exp = sorted(
        tuple(r)
        for r in duck.execute(
            kmv_distinct_sql("events", ["event_type"], "user_id", k=16)
        ).fetchall()
    )
    assert got == exp
