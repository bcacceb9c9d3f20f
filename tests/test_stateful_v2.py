"""State-v2 (transformWithStateInPandas) contract + runtime tests.

The runtime needs a Python protobuf implementation for the state-server
wire protocol; where the real package is absent (this container) the
vendored minipb shim provides it, so the e2e test RUNS here —
``requires_state_v2_runtime()`` only skips it on an environment with
neither. Also pinned: the streaming plan compiles with the
TransformWithStateInPySpark operator without touching the session's
state-store conf (queries start under ``scoped_conf(spark,
STATE_V2_CONF)``), and the processor's pure-Python state logic is
correct (exercised directly, the same way the state server would call
it)."""

from __future__ import annotations

import datetime as dt
import tempfile

import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from stream_processing_platform_spark.session import scoped_conf
from stream_processing_platform_spark.sources.streaming import file_source
from stream_processing_platform_spark.streaming.stateful_v2 import (
    STATE_V2_CONF,
    RunningStatsProcessor,
    requires_state_v2_runtime,
    running_stats,
)

# r15 verify-window tiering: staged-batch streaming / TWS / fuzz /
# cluster tests run in the slow tier (pytest.ini; -m slow at round close)
pytestmark = pytest.mark.slow


EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def T(seconds: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttl=None):
        self.states[name] = _FakeValueState()
        return self.states[name]


def test_processor_state_logic_pure_python():
    """Drive the StatefulProcessor exactly as the state server would:
    init with a handle, feed Arrow batches per key, check emissions and
    persisted state across calls."""
    p = RunningStatsProcessor("value")
    p.init(_FakeHandle())
    [out1] = list(
        p.handleInputRows((1,), iter([pd.DataFrame({"value": [10.0, 2.0]})]), None)
    )
    assert out1.iloc[0].to_dict() == {"key": 1, "cnt": 2, "total": 12.0, "mn": 2.0, "mx": 10.0}
    # second batch folds into persisted state
    [out2] = list(p.handleInputRows((1,), iter([pd.DataFrame({"value": [5.0]})]), None))
    assert out2.iloc[0].to_dict() == {"key": 1, "cnt": 3, "total": 17.0, "mn": 2.0, "mx": 10.0}
    # empty batch re-emits current state unchanged
    [out3] = list(p.handleInputRows((1,), iter([pd.DataFrame({"value": []})]), None))
    assert out3.iloc[0]["cnt"] == 3


def test_plan_compiles_with_transform_with_state(spark, tmp_path):
    (key,) = STATE_V2_CONF
    before = spark.conf.get(key, None)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", T(1), 10.0)], EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA)
    out = running_stats(stream, "user_id", "value")
    assert out.isStreaming
    assert out.schema.simpleString() == (
        "struct<key:bigint,cnt:bigint,total:double,mn:double,mx:double>"
    )
    # building leaves the session's state store alone: other streaming
    # tests in the shared session keep the default HDFS-backed provider
    assert spark.conf.get(key, None) == before


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_running_stats_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    for rows in [[(1, "a", T(1), 10.0), (2, "b", T(2), 1.0)], [(1, "c", T(3), 5.0)]]:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    with scoped_conf(spark, STATE_V2_CONF):
        q = (
            running_stats(stream, "user_id", "value")
            .writeStream.format("memory")
            .queryName("v2stats")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    latest = {r.key: (r.cnt, r.total, r.mn, r.mx) for r in spark.table("v2stats").collect()}
    assert latest[1] == (2, 15.0, 5.0, 10.0)
    assert latest[2] == (1, 1.0, 1.0, 1.0)


def test_ttl_request_switches_time_mode_to_processing_time(spark, tmp_path):
    """Spark rejects state TTL outside TimeMode.ProcessingTime
    (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), so
    running_stats(ttl_ms=...) must build its TransformWithState operator
    in ProcessingTime mode — pinned on the analyzed plan, which records
    the time mode."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", T(1), 10.0)], EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA)
    with_ttl = running_stats(stream, "user_id", "value", ttl_ms=60_000)
    plan = with_ttl._jdf.queryExecution().analyzed().toString()
    assert "ProcessingTime" in plan
    without = running_stats(stream, "user_id", "value")
    assert "ProcessingTime" not in without._jdf.queryExecution().analyzed().toString()


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_map_and_list_state_fold_across_batches(spark, tmp_path):
    """MapState counts and the ListState ring buffer must FOLD across
    micro-batches (state round-trips through the real state server
    between batches), not just within one."""
    from stream_processing_platform_spark.streaming.stateful_v2 import (
        map_state_counts,
        recent_events,
    )

    src = str(tmp_path / "src")
    batches = [
        [(1, "a", T(1), 1.0), (1, "b", T(2), 2.0)],
        [(1, "c", T(3), 3.0), (2, "d", T(4), 4.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)

    from pyspark.sql import functions as F

    cat_stream = stream.withColumn("cat", F.lit("all"))
    with scoped_conf(spark, STATE_V2_CONF):
        q = (
            map_state_counts(cat_stream, "user_id", "cat")
            .writeStream.format("memory")
            .queryName("v2map")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    latest = {}
    for r in spark.table("v2map").collect():
        latest[(r.key, r.cat)] = r.n  # update mode: last write wins
    assert latest[(1, "all")] == 3  # 2 from batch 1 + 1 from batch 2
    assert latest[(2, "all")] == 1

    # ListState: ring buffer of last 2 ids, merged across batches
    ts_stream = stream.withColumn("ts_ms", F.unix_millis(F.col("ts")))
    with scoped_conf(spark, STATE_V2_CONF):
        q2 = (
            recent_events(ts_stream, "user_id", "ts_ms", "event_id", n=2)
            .writeStream.format("memory")
            .queryName("v2list")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
    latest2 = {r.key: r.recent for r in spark.table("v2list").collect()}
    assert latest2[1] == "b,c"  # a evicted by the n=2 cap across batches
    assert latest2[2] == "d"


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_timer_fires_and_evicts_state(spark, tmp_path):
    """registerTimer + handleExpiredTimer through the real state server:
    an already-expired processing-time timer fires at the end of its own
    micro-batch, emits the timeout marker, and evicts the state — so the
    count RESTARTS in the next batch instead of folding.

    ProcessingTime time mode makes shouldRunAnotherBatch always true, so
    an availableNow trigger NEVER drains (observed: hundreds of empty
    batches) — the query must run on the default trigger and be stopped
    once the expected rows are visible."""
    import time

    from stream_processing_platform_spark.streaming.stateful_v2 import expiring_counts

    src = str(tmp_path / "src")
    batches = [
        [(1, "a", T(1), 1.0), (1, "b", T(2), 2.0)],
        [(1, "c", T(3), 3.0), (2, "d", T(4), 4.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    expected = {
        (1, "data", 2), (1, "timeout", 2),
        (1, "data", 1), (1, "timeout", 1),
        (2, "data", 1), (2, "timeout", 1),
    }
    with scoped_conf(spark, {**STATE_V2_CONF, "spark.sql.shuffle.partitions": "2"}):
        q = (
            expiring_counts(stream, "user_id", delay_ms=-1000)
            .writeStream.format("memory")
            .queryName("v2timer")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        deadline = time.time() + 180
        rows = set()
        while time.time() < deadline:
            rows = {(r.key, r.kind, r.cnt) for r in spark.table("v2timer").collect()}
            if expected <= rows:
                break
            time.sleep(1)
        q.stop()
    # batch 1: key 1 sees 2 rows, then its timer evicts; batch 2: the
    # count RESTARTS at 1 (not 3) proving the eviction, key 2 appears
    assert expected <= rows, rows
    assert (1, "data", 3) not in rows  # state did NOT fold through the timer


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_event_time_timer_closes_idle_session(spark, tmp_path):
    """EventTime time mode: the inactivity timer fires when the
    WATERMARK passes last_ts + gap — deterministic under availableNow
    (watermark advances with data, terminates when it stops). Two-batch
    staging per SPARK-42376: the watermark visible to batch N is batch
    N-1's max event time."""
    from stream_processing_platform_spark.streaming.stateful_v2 import session_timeouts

    src = str(tmp_path / "src")
    batches = [
        [(1, "a", T(0), 1.0), (1, "b", T(5), 2.0)],   # session: last_ts=5s, gap 10s -> expiry 15s
        [(9, "wm", T(100), 0.0)],                      # max event 100s
        [(9, "wm2", T(200), 0.0)],                     # watermark now 98s > 15s: key 1 closes
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    with scoped_conf(spark, {**STATE_V2_CONF, "spark.sql.shuffle.partitions": "2"}):
        q = (
            session_timeouts(stream, "user_id", "ts", gap_ms=10_000)
            .writeStream.format("memory")
            .queryName("v2evt")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        terminated = q.awaitTermination(180)
    assert terminated, "event-time mode should drain under availableNow"
    rows = {(r.key, r.kind, r.cnt) for r in spark.table("v2evt").collect()}
    assert (1, "open", 2) in rows
    assert (1, "session_closed", 2) in rows  # watermark passed 15s -> closed with both events
    # the watermark driver's own session stays OPEN (watermark never passes it)
    assert not any(k == 9 and kind == "session_closed" for k, kind, _ in rows)


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_ewma_state_folds_across_batches_in_order(spark, tmp_path):
    """The EWMA ValueState must CARRY across micro-batches and fold each
    batch in (ts, seq) order: cents 400, 800 (batch 1, staged out of
    order) then 1600 (batch 2) with alpha=.25 give 400 -> 500 -> 775."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.streaming.stateful_v2 import ewma_state

    src = str(tmp_path / "src")
    batches = [
        [(1, "b", T(2), 8.0), (1, "a", T(1), 4.0)],  # within-batch disorder
        [(1, "c", T(3), 16.0), (2, "d", T(4), 12.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1).select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100, 0).alias("value_cents"),
    )
    with scoped_conf(spark, STATE_V2_CONF):
        q = (
            ewma_state(stream, "user_id", alpha=0.25)
            .writeStream.format("memory")
            .queryName("v2ewma")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    latest = {r.key: (r.n, r.ewma_c) for r in spark.table("v2ewma").collect()}
    assert latest[1] == (3, 775.0)  # 400 -> .75*400+.25*800=500 -> .75*500+.25*1600=775
    assert latest[2] == (1, 1200.0)


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_holt_state_folds_across_batches_with_trend(spark, tmp_path):
    """Level AND trend must carry across micro-batches: cents 100, 200
    (batch 1) then 300 (batch 2) with alpha=.5 beta=.25 give
    l=231.25, b=29.6875 — identical to the single-batch batch fold."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.streaming.stateful_v2 import holt_state

    src = str(tmp_path / "src")
    batches = [
        [(1, "a", T(1), 1.0), (1, "b", T(2), 2.0)],
        [(1, "c", T(3), 3.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1).select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100, 0).alias("value_cents"),
    )
    with scoped_conf(spark, STATE_V2_CONF):
        q = (
            holt_state(stream, "user_id", alpha=0.5, beta=0.25)
            .writeStream.format("memory")
            .queryName("v2holt")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    latest = {r.key: (r.n, r.level_c, r.trend_c) for r in spark.table("v2holt").collect()}
    assert latest[1] == (3, 231.25, 29.6875)


@pytest.mark.skipif(
    not requires_state_v2_runtime(),
    reason="no protobuf runtime (installed or vendored minipb shim)",
)
def test_holt_winters_state_init_spans_batches(spark, tmp_path):
    """The m-point warm-up buffer, the init, AND the seasonal rotation
    must all survive micro-batch boundaries: with m=3, batch 1 delivers
    only 2 points (key stays silent — still buffering), batch 2
    delivers 4 more (init fires mid-batch, then 3 steps). The final
    row must be bit-equal to the pure-Python recurrence, and no row may
    be emitted before n > m."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.streaming.stateful_v2 import (
        holt_winters_state,
    )

    a, bb, g, m = 0.5, 0.25, 0.25, 3
    vals = [1.0, 2.0, 3.0, 2.5, 1.5, 3.5]
    src = str(tmp_path / "src_hw")
    batches = [
        [(1, f"e{i}", T(i + 1), v) for i, v in enumerate(vals[:2])],
        [(1, f"e{i + 2}", T(i + 3), v) for i, v in enumerate(vals[2:])],
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1).select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100, 0).alias("value_cents"),
    )
    with scoped_conf(spark, STATE_V2_CONF):
        q = (
            holt_winters_state(stream, "user_id", alpha=a, beta=bb, gamma=g, period=m)
            .writeStream.format("memory")
            .queryName("v2hw")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = spark.table("v2hw").collect()
    # batch 1 (2 points, still buffering) must emit NOTHING
    assert all(r.n > m for r in rows)
    x = [v * 100.0 for v in vals]
    l = sum(x[:m]) / m
    b = 0.0
    s = [xi - l for xi in x[:m]]
    for xi in x[m:]:
        new_l = (xi - s[0]) * a + (l + b) * (1.0 - a)
        b = (new_l - l) * bb + b * (1.0 - bb)
        s = s[1:] + [(xi - new_l) * g + s[0] * (1.0 - g)]
        l = new_l
    latest = {r.key: r for r in rows}
    r = latest[1]
    assert (r.n, r.level_c, r.trend_c, r.season_1_c) == (len(vals), l, b, s[0])
    assert r.forecast_1_c == l + b + s[0]


def test_cusum_processor_batch_boundary_invariance(spark, sf_dir):
    """The streaming CUSUM fold must be bit-identical whatever the
    batch boundaries — run the same 10 rows as one batch and as the
    pure-Python two-half fold; exact integers make them equal."""
    vals = [10.00, 10.50, 9.50, 10.20, 14.00, 14.30, 13.80, 14.10, 9.90, 10.05]
    target = 1000

    def fold(rows, state=None):
        p, minp, smax, at = state or (0, 0, None, None)
        for seq, v in rows:
            d = 1000 * (round(v * 100) - target)
            p += d
            minp = min(minp, p)
            s = p - min(0, minp)
            if smax is None or s > smax:
                smax, at = s, seq
        return p, minp, smax, at

    rows = list(enumerate(vals))
    one = fold(rows)
    split = fold(rows[5:], fold(rows[:5]))
    assert one == split
    # and the prefix-sum identity gives the same s_max
    import itertools

    d = [1000 * (round(v * 100) - target) for v in vals]
    P = list(itertools.accumulate(d))
    smax_closed = max(p - min(0, min(P[: i + 1])) for i, p in enumerate(P))
    assert one[2] == smax_closed


def test_weighted_reservoir_merge_is_order_invariant():
    """The k-capped sorted merge must yield the same reservoir whatever
    the batch split or arrival order — pure integer keys."""
    items = [(37, 5), (11, 2), (90, 9), (11, 7), (4, 1), (55, 3), (20, 8)]
    k = 3

    def run(batches):
        cur = []
        for b in batches:
            cur.extend(b)
            cur.sort()
            cur = cur[:k]
        return cur

    import itertools

    want = sorted(items)[:k]
    assert run([items]) == want
    assert run([items[:3], items[3:]]) == want
    for perm in itertools.permutations(items, len(items)):
        assert run([list(perm[:2]), list(perm[2:5]), list(perm[5:])]) == want
        break  # one shuffled split is enough alongside the two above
    assert run([list(reversed(items))]) == want


def test_kmv_processor_merge_is_batch_invariant():
    """min-k over a set union is a semilattice: any batch split or
    arrival order must leave the same sketch (and estimate)."""
    import itertools

    from stream_processing_platform_spark.streaming.stateful_v2 import (
        KmvDistinctProcessor,
    )

    k, mod = 4, 2147483647
    hashes = [500, 90, 90, 7, 1200, 33, 7, 850, 2, 610]

    class _H:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    def run(batches):
        p = KmvDistinctProcessor(k, mod)
        p._s = _H()
        last = None
        for b in batches:
            if not b:
                continue
            out = list(
                p.handleInputRows(("k",), iter([pd.DataFrame({"h": b})]), None)
            )
            last = out[-1]
        return (
            int(last["approx_distinct"].iloc[0]),
            int(last["kth_hash"].iloc[0]),
            tuple(p._s.get()[0]),
        )

    want = run([hashes])
    assert want[2] == tuple(sorted(set(hashes))[:k])
    assert want[0] == (k - 1) * mod // want[2][-1]
    assert run([hashes[:3], hashes[3:7], hashes[7:]]) == want
    assert run([list(reversed(hashes))]) == want
    perm = list(itertools.permutations(hashes))[1]
    assert run([list(perm[:5]), list(perm[5:])]) == want
    # below-k group: the estimate IS the exact distinct count
    small = run([[42, 17, 42]])
    assert small[0] == 2 and small[2] == (17, 42)
