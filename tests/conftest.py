"""Shared pytest fixtures: one SparkSession per test session, a duckdb
connection with a view per fixture table (``oracle.duck_views``, as
``scripts/driver_sim.py`` builds it), and ``assert_matches_oracle``,
which applies the driver's compare (``oracle.mismatches``: sorted
columns, unordered rows, column types) to a Spark DataFrame.
"""

from __future__ import annotations

import os

import pytest

from stream_processing_platform_spark.oracle import duck_views, mismatches
from stream_processing_platform_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spp-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_views(sf_dir)
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql: str):
    """Spark result == duckdb result under the driver's oracle compare."""
    errs = mismatches(spark_df.schema, spark_df.collect(), duck_con.sql(sql))
    assert not errs, "oracle mismatch:\n" + "\n".join(errs)


def pytest_collection_modifyitems(config, items):
    """r15 verify-window tiering: the q_stream_* oracle-parity rows run
    staged micro-batches (10-25 s each, ~3.5 min total) — slow tier,
    like the streaming test files (pytest.ini). Their batch twins and
    the driver's own correctness sample keep covering them in the
    default window.

    One row stays in the default tier: q_stream_state_v2 runs a live
    transformWithState query under ``scoped_conf(spark, STATE_V2_CONF)``,
    so every default run gates the state-v2 runtime and the conf scope
    around it."""
    for it in items:
        if it.name.startswith("test_query_matches_oracle[q_stream_") and (
            it.name != "test_query_matches_oracle[q_stream_state_v2]"
        ):
            it.add_marker(pytest.mark.slow)
