"""Streaming-semantics tests (SURVEY.md §5 plan): deterministic file-
source micro-batches (maxFilesPerTrigger=1 so the watermark advances
between batches), memory sinks, explicit event-time control. Each test
reproduces one reference streaming operator's semantics end-to-end.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from stream_processing_platform_spark.sources.streaming import file_source
from stream_processing_platform_spark.streaming import windows as W
from stream_processing_platform_spark.streaming.dedup import dedup_stream
from stream_processing_platform_spark.streaming.joins import stream_interval_join
from stream_processing_platform_spark.streaming.keyed_process import (
    dedup_process_function,
    keyed_process,
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
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=seconds)


def stage(spark, tmp_path, batches):
    """Write each batch as one parquet file; returns the source dir."""
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    return src


def run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture
def qname():
    return "t" + uuid.uuid4().hex[:8]


def test_tumbling_window_append_fires_at_watermark(spark, tmp_path, qname):
    """WindowOperator reduce mode: window [0,10s) fires once the
    watermark (max_ts - 5s) passes its end; flush record advances it."""
    batches = [
        [(1, "a", T(1), 10.0), (1, "b", T(3), 20.0), (2, "c", T(5), 5.0)],
        [(1, "flush", T(60), 0.0)],
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    windowed = W.tumbling_agg(
        stream, "ts", "10 seconds", ["user_id"], [F.sum("value").alias("total")]
    )
    run_to_memory(windowed, qname)
    rows = {(r.user_id, r.total) for r in spark.table(qname).collect()}
    assert (1, 30.0) in rows and (2, 5.0) in rows


def test_running_agg_update_mode(spark, tmp_path, qname):
    """AggregateOperator: per-key running aggregate in update mode — the
    latest emission per key is the final state."""
    batches = [
        [(1, "a", T(1), 10.0), (2, "b", T(2), 1.0)],
        [(1, "c", T(3), 5.0)],
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    agg = W.running_agg(stream, ["user_id"], [F.sum("value").alias("total"), F.count("*").alias("n")])
    run_to_memory(agg, qname, mode="update")
    latest = {}
    for r in spark.table(qname).collect():
        latest[r.user_id] = (r.total, r.n)  # update mode appends to memory sink; last write wins
    assert latest[1] == (15.0, 2)
    assert latest[2] == (1.0, 1)


def test_session_window_streaming(spark, tmp_path, qname):
    """SessionWindow(gap=10s): two events 5s apart merge; a 30s gap
    starts a new session (the operator the reference documented but
    never implemented)."""
    batches = [
        [(1, "a", T(0), 1.0), (1, "b", T(5), 1.0), (1, "c", T(40), 1.0)],
        [(1, "flush", T(200), 0.0)],
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    sess = W.session_agg(stream, "ts", "10 seconds", ["user_id"], [F.count("*").alias("n")])
    run_to_memory(sess, qname)
    sessions = sorted((r.session_start, r.n) for r in spark.table(qname).collect() if r.n > 0)
    # first session covers a+b (n=2), second covers c (n=1); flush session may also fire
    assert (T(0), 2) in sessions
    assert any(s == T(40) and n == 1 for s, n in sessions)


def test_session_window_drops_late_data(spark, tmp_path, qname):
    """Late-data semantics pinned for session windows (VERDICT r3 #7):
    once the watermark has passed a session's gap and the session fired,
    a record arriving with an event time below the watermark is DROPPED
    — it neither reopens the emitted session nor starts a new one. The
    reference silently loses late rows inside its stateful operator
    (taskmanager/operators/stateful.py:213-242); this engine makes the
    same outcome an explicit watermark contract, asserted here.

    Staging subtlety: since SPARK-42376 the LATE-ROW FILTER uses the
    previous micro-batch's watermark while EVICTION uses the current
    one, so the watermark must advance two batches before the late
    record arrives — one batch is enough to fire the session but the
    late row would still be admitted and silently merged."""
    batches = [
        [(1, "a", T(0), 1.0), (1, "b", T(5), 1.0)],  # session [0, 15)
        [(1, "wm", T(100), 1.0)],  # eviction watermark -> 95
        [(1, "wm2", T(120), 1.0)],  # late-filter watermark now 95 too
        [(1, "late", T(3), 1.0)],  # event time 3 << watermark: dropped
        [(1, "flush", T(300), 1.0)],  # watermark -> 295: wm sessions fire
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    sess = W.session_agg(stream, "ts", "10 seconds", ["user_id"], [F.count("*").alias("n")])
    run_to_memory(sess, qname)
    sessions = [(r.session_start, r.n) for r in spark.table(qname).collect()]
    # the a+b session fired exactly once, with exactly 2 events — the
    # late row at T(3) did not extend, reopen, or duplicate it
    assert sessions.count((T(0), 2)) == 1
    assert not any(s == T(3) for s, _ in sessions)  # no session born from the late row
    assert (T(100), 1) in sessions and (T(120), 1) in sessions
    # every emitted event is accounted for WITHOUT the late row:
    # a+b (2) + wm (1) + wm2 (1); flush's session stays open at stream end
    assert sum(n for _, n in sessions) == 4


def test_session_window_allowed_lateness_admits_late_row(spark, tmp_path, qname):
    """The other half of the late-data contract: watermark_delay is the
    ALLOWED-LATENESS knob. The exact arrival pattern that
    test_session_window_drops_late_data proves is DROPPED under a tight
    watermark (5 s) is ADMITTED and merged into its original session
    under a 200 s delay — the session simply stays open (and unfired)
    until the watermark finally passes it. Same staging, opposite
    outcome, so the knob's semantics are pinned from both sides."""
    batches = [
        [(1, "a", T(0), 1.0), (1, "b", T(5), 1.0)],  # session [0, 15)
        [(1, "wm", T(100), 1.0)],   # watermark -> -100 (still admits everything)
        [(1, "wm2", T(120), 1.0)],  # late-filter watermark still below 0
        [(1, "late", T(3), 1.0)],   # 3 > watermark: ADMITTED, merges into [0, 15)
        [(1, "flush", T(300), 1.0)],   # watermark -> 100
        [(1, "flush2", T(515), 1.0)],  # watermark -> 315: all closed sessions fire
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    sess = W.session_agg(
        stream, "ts", "10 seconds", ["user_id"], [F.count("*").alias("n")],
        watermark_delay="200 seconds",
    )
    run_to_memory(sess, qname)
    sessions = [(r.session_start, r.n) for r in spark.table(qname).collect()]
    # the late row at T(3) EXTENDED the a+b session: fired once with 3 events
    assert sessions.count((T(0), 3)) == 1
    assert not any(s == T(3) for s, _ in sessions)  # merged, not a new session
    # wm/wm2/flush sessions fired as singletons; flush2's stays open
    assert (T(100), 1) in sessions and (T(120), 1) in sessions and (T(300), 1) in sessions
    assert sum(n for _, n in sessions) == 6


def test_dedup_stream_drops_duplicates(spark, tmp_path, qname):
    """dropDuplicates with watermark: same event_id in later batch is
    dropped (stateful_deduplication.py semantics, minus the lossy cap)."""
    batches = [
        [(1, "e1", T(1), 1.0), (1, "e2", T(2), 2.0)],
        [(1, "e1", T(1), 1.0), (1, "e3", T(3), 3.0)],  # e1 duplicate
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    deduped = dedup_stream(stream, ["user_id", "event_id"], ts_col="ts")
    run_to_memory(deduped, qname)
    ids = sorted(r.event_id for r in spark.table(qname).collect())
    assert ids == ["e1", "e2", "e3"]


def test_stream_stream_interval_join(spark, tmp_path, qname):
    """JoinOperator: clicks joined to purchases within [0, 30s] after the
    click; pair outside bound excluded; once per pair."""
    clicks = [
        [(1, "c1", T(0), 0.0), (2, "c2", T(0), 0.0)],
        [(1, "flush_c", T(500), 0.0)],
    ]
    purchases = [
        [(1, "p1", T(10), 9.0), (2, "p2", T(100), 9.0)],  # p2 outside 30s bound
        [(2, "flush_p", T(500), 0.0)],
    ]
    csrc = stage(spark, tmp_path / "c", clicks)
    psrc = stage(spark, tmp_path / "p", purchases)
    cs = file_source(spark, str(csrc), EVENT_SCHEMA, max_files_per_trigger=1)
    ps = file_source(spark, str(psrc), EVENT_SCHEMA, max_files_per_trigger=1)
    joined = stream_interval_join(
        cs,
        ps,
        "c",
        "p",
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower="0 seconds",
        upper="30 seconds",
        projection=[
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        ],
    )
    run_to_memory(joined, qname)
    pairs = {(r.click_id, r.purchase_id) for r in spark.table(qname).collect()}
    assert ("c1", "p1") in pairs
    assert all(p != ("c2", "p2") for p in pairs)


def test_keyed_process_dedup(spark, tmp_path, qname):
    """KeyedProcessOperator shim: the reference's dedup process_func over
    applyInPandasWithState — per-key seen-set state across micro-batches."""
    batches = [
        [(1, "e1", T(1), 1.0), (1, "e2", T(2), 2.0)],
        [(1, "e1", T(1), 1.0), (2, "e1", T(3), 3.0)],  # dup for user 1; new key 2
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    out = keyed_process(
        stream.withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))).drop("ts"),
        ["user_id"],
        dedup_process_function(),
        "user_id long, event_id string, ts_ms long, value double",
        order_by="ts_ms",
        output_mode="update",
    )
    run_to_memory(out, qname, mode="update")
    got = sorted((r.user_id, r.event_id) for r in spark.table(qname).collect())
    assert got == [(1, "e1"), (1, "e2"), (2, "e1")]


def test_rate_source_builds(spark):
    from stream_processing_platform_spark.sources.streaming import rate_source

    df = rate_source(spark, rows_per_second=10)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_sliding_window_streaming(spark, tmp_path, qname):
    """SlidingWindow (stateful.py:59-85): a record at t=12s with a
    10s/5s window belongs to [5,15) and [10,20) — both fire at
    watermark; overlap factor = size/slide = 2."""
    batches = [
        [(1, "a", T(12), 7.0)],
        [(1, "flush", T(90), 0.0)],
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    windowed = W.sliding_agg(
        stream, "ts", "10 seconds", "5 seconds", ["user_id"],
        [F.sum("value").alias("total")],
    )
    run_to_memory(windowed, qname)
    fired = {
        (r.window_start.second, r.window_end.second)
        for r in spark.table(qname).collect()
        if r.total == 7.0
    }
    assert fired == {(5, 15), (10, 20)}


def test_exactly_once_parquet_sink_restart_no_duplicates(spark, tmp_path):
    """The exactly-once contract across a restart: run → stop → stage
    more data → run again with the SAME checkpoint. Old batches are not
    re-emitted (offsets), and a replayed batch would overwrite its own
    batch_id directory rather than append (idempotency). Total sink rows
    == total staged rows, each exactly once."""
    from stream_processing_platform_spark.sinks import exactly_once_parquet_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(1, "a", T(1), 1.0), (2, "b", T(2), 2.0)]
    spark.createDataFrame(b1, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = file_source(spark, src, EVENT_SCHEMA)
    q = exactly_once_parquet_sink(stream, out, ckpt)
    q.awaitTermination(120)
    assert {r.event_id for r in spark.read.option("recursiveFileLookup", "true").parquet(out).collect()} == {"a", "b"}

    # restart with the same checkpoint after staging one more file
    b2 = [(3, "c", T(3), 3.0)]
    spark.createDataFrame(b2, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream2 = file_source(spark, src, EVENT_SCHEMA)
    q2 = exactly_once_parquet_sink(stream2, out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.option("recursiveFileLookup", "true").parquet(out).collect()
    assert sorted(r.event_id for r in rows) == ["a", "b", "c"]  # no duplicates


def test_url_dedup_within_watermark_bounds_state(spark, tmp_path, qname):
    """Politeness-window URL dedup (r11 verdict #4): the bounded-state
    companion of q_stream_url_dedup. Raw URL VARIANTS canonicalize on
    the stream, then dropDuplicatesWithinWatermark on the canonical key:

    - two raw spellings of one resource inside the window -> ONE row
      (canonicalize-before-dedup, state per canonical key);
    - a re-crawl of the same canonical URL AFTER its state expired ->
      re-admitted (that re-emission IS the proof the state is bounded
      by the watermark window, not by the corpus URL count).

    Watermark staging per SPARK-42376: the late-row filter uses the
    PREVIOUS batch's watermark, so the expiry is driven two batches
    ahead of the re-crawl.
    """
    from stream_processing_platform_spark.operators.webcur import canonical_url
    from stream_processing_platform_spark.streaming.dedup import (
        dedup_stream_within_watermark,
    )

    batches = [
        # event_id carries the RAW url spelling
        [(1, "https://www.a.com/p?utm_source=x", T(0), 1.0)],
        [(1, "HTTPS://WWW.A.COM/p", T(10), 1.0)],  # same resource, in-window: DROP
        [(1, "https://b.com/q", T(30), 1.0)],      # watermark -> 30 - 20 = 10
        [(1, "https://c.com/r", T(200), 1.0)],     # watermark -> 180 at batch end
        [(1, "https://e.com/t", T(205), 1.0)],     # second mover: eviction sees 180
        [(1, "https://www.a.com/p/", T(210), 1.0)],  # re-crawl after expiry: ADMIT
        [(1, "https://d.com/s", T(400), 1.0)],     # flush
    ]
    src = stage(spark, tmp_path, batches)
    stream = file_source(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    canon = stream.select(
        canonical_url(F.col("event_id")).alias("canonical_url"), F.col("ts")
    )
    deduped = dedup_stream_within_watermark(
        canon, ["canonical_url"], "ts", watermark_delay="20 seconds"
    )
    run_to_memory(deduped, qname)
    urls = [r.canonical_url for r in spark.table(qname).collect()]
    # canonicalization collapsed case/tracking variants to one key
    assert urls.count("https://www.a.com/p") == 2  # batch 1 + post-expiry re-crawl
    assert "https://b.com/q" in urls and "https://c.com/r" in urls
    assert len(urls) == 6  # 1 dup dropped out of 7 arrivals
