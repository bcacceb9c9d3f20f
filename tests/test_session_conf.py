"""Session-conf scoping: ``session.scoped_conf`` restores what it
changed, ``get_spark`` returns a running session without re-applying
its defaults, and building a state-v2 operator leaves the shared session's
conf alone (the state store is chosen per query, under
``scoped_conf(spark, STATE_V2_CONF)``)."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from stream_processing_platform_spark.session import get_spark, scoped_conf
from stream_processing_platform_spark.streaming import stateful_v2 as V2

_SET_KEY = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.maxMetadataStringLength"


@pytest.mark.parametrize("body_raises", [False, True])
def test_scoped_conf_restores_set_key_and_unsets_new_key(spark, body_raises):
    before = spark.conf.get(_SET_KEY)
    assert spark.conf.get(_UNSET_KEY, None) is None
    with contextlib.suppress(RuntimeError):
        with scoped_conf(spark, {_SET_KEY: "3", _UNSET_KEY: "1234"}):
            assert spark.conf.get(_SET_KEY) == "3"
            assert spark.conf.get(_UNSET_KEY) == "1234"
            if body_raises:
                raise RuntimeError("body failed")
    assert spark.conf.get(_SET_KEY) == before
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_get_spark_returns_running_session_unchanged(spark):
    conf = {_SET_KEY: "3", "spark.sql.adaptive.enabled": "false"}
    with scoped_conf(spark, conf):
        assert get_spark(app_name="another-app") is spark
        assert {k: spark.conf.get(k) for k in conf} == conf


_BUILDERS = {
    "running_stats": lambda s: V2.running_stats(s, "user_id", "value"),
    "map_state_counts": lambda s: V2.map_state_counts(s, "user_id", "cat"),
    "recent_events": lambda s: V2.recent_events(s, "user_id", "ts_ms", "event_id"),
    "reducing_state": lambda s: V2.reducing_state(s, "user_id", max, "value"),
    "ewma_state": lambda s: V2.ewma_state(s, "user_id", alpha=0.25),
    "cusum_state": lambda s: V2.cusum_state(s, "user_id", target_cents=1000),
    "weighted_reservoir_state": lambda s: V2.weighted_reservoir_state(s, "cat", k=3),
    "kmv_distinct_state": lambda s: V2.kmv_distinct_state(s, "cat", k=4, mod=2147483647),
    "holt_state": lambda s: V2.holt_state(s, "user_id", alpha=0.5, beta=0.25),
    "holt_winters_state": lambda s: V2.holt_winters_state(
        s, "user_id", alpha=0.5, beta=0.25, gamma=0.25, period=3
    ),
    "expiring_counts": lambda s: V2.expiring_counts(s, "user_id"),
    "session_timeouts": lambda s: V2.session_timeouts(s, "user_id", "ts", gap_ms=1000),
}


@pytest.mark.parametrize("name", sorted(_BUILDERS))
def test_state_v2_builder_leaves_session_conf_unchanged(spark, name):
    (key,) = V2.STATE_V2_CONF
    before = spark.conf.get(key, None)
    stream = spark.readStream.format("rate").load().select(
        (F.col("value") % 5).alias("user_id"),
        F.col("value").cast("string").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.unix_millis(F.col("timestamp")).alias("ts_ms"),
        F.col("value").cast("double").alias("value"),
        (F.col("value") * 100).cast("double").alias("value_cents"),
        (F.col("value") % 3).cast("string").alias("cat"),
        F.col("value").alias("key_nano"),
        F.col("value").alias("doc_id"),
        F.col("value").alias("h"),
    )
    out = _BUILDERS[name](stream)
    assert out.isStreaming and out.schema.fields
    assert spark.conf.get(key, None) == before
