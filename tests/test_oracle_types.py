"""The oracle contract (``stream_processing_platform_spark/oracle.py``).

The driver's correctness hash is TYPE-sensitive: a duckdb HUGEINT
(``sum(BIGINT)`` propagates through ``//``) or DECIMAL column hashes
unlike Spark's BIGINT/DOUBLE even when every value is equal.

- The whitelist sweep binds EVERY registered oracle on duckdb (type
  inference only, no execution) and asserts each output column's type
  is in ``DUCK_TYPE_WHITELIST``; wrap offenders in
  ``CAST(... AS BIGINT/DOUBLE)``.
- The ``mismatches`` cases pin the compare itself without a Spark
  session. Per-column type EQUALITY against the Spark schema is checked
  for every oracled query by ``test_query_matches_oracle`` and
  ``scripts/driver_sim.py``, which share ``oracle.mismatches``.
"""

from __future__ import annotations

import importlib.util
import os
import re

from pyspark.sql import types as ST

from stream_processing_platform_spark import oracle
from stream_processing_platform_spark.oracle import duck_type_ok, mismatches
from stream_processing_platform_spark.registry import oracle_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_hugeint_canary(duck):
    """The exact r8 failure shape: integer-div over sum(BIGINT) binds to
    HUGEINT on duckdb, and the whitelist rejects it."""
    rel = duck.sql(
        "SELECT sum(CAST(o_orderkey AS BIGINT)) // 2 AS picks FROM orders"
    )
    assert str(rel.types[0]) == "HUGEINT"
    assert not duck_type_ok("HUGEINT")
    assert not duck_type_ok("DECIMAL(18,3)")
    assert not duck_type_ok("HUGEINT[]")


def test_bare_decimal_literal_canary(duck):
    """Bare decimal literals bind to exact DECIMAL (the q_rank_select
    0.95 class) — whitelist rejects them at the output."""
    rel = duck.sql("SELECT 0.95 AS frac")
    assert str(rel.types[0]).startswith("DECIMAL")
    assert not duck_type_ok(str(rel.types[0]))


def test_every_oracle_output_type_whitelisted(duck):
    offenders = []
    oracles = oracle_sql()
    assert oracles
    for name, sql in sorted(oracles.items()):
        try:
            rel = duck.sql(sql)
            pairs = list(zip(list(rel.columns), [str(t) for t in rel.types]))
        except Exception as e:  # bind failure is its own offense
            offenders.append(f"{name}: bind error {e}")
            continue
        for col, dt in pairs:
            if not duck_type_ok(dt):
                offenders.append(f"{name}.{col}: {dt}")
    assert not offenders, (
        "oracle outputs with non-whitelisted duckdb types (CAST them to "
        "BIGINT/DOUBLE at the SELECT): " + "; ".join(offenders)
    )


def _schema(**cols):
    return ST.StructType([ST.StructField(n, t) for n, t in cols.items()])


def test_mismatches_reports_spark_double_vs_duck_bigint(duck):
    rel = duck.sql("SELECT CAST(3 AS BIGINT) AS n")
    assert mismatches(_schema(n=ST.DoubleType()), [(3.0,)], rel) == [
        "n: spark DOUBLE vs duck BIGINT"
    ]


def test_mismatches_reports_unwhitelisted_hugeint(duck):
    rel = duck.sql("SELECT CAST(3 AS HUGEINT) AS n")
    errs = mismatches(_schema(n=ST.LongType()), [(3,)], rel)
    assert "n: duck type HUGEINT not whitelisted" in errs


def test_mismatches_reports_column_names(duck):
    rel = duck.sql("SELECT CAST(3 AS BIGINT) AS m")
    assert mismatches(_schema(n=ST.LongType()), [(3,)], rel) == [
        "cols: spark=['n'] duck=['m']"
    ]


def test_mismatches_names_row_diff(duck):
    rel = duck.sql(
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, 'b')) t(k, v)"
    )
    schema = _schema(k=ST.LongType(), v=ST.StringType())
    (err,) = mismatches(schema, [(1, "a"), (3, "c")], rel)
    assert "spark-only: [('3', 'c')]" in err and "duck-only: [('2', 'b')]" in err


def test_mismatches_empty_on_match(duck):
    rel = duck.sql(
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 0.5::DOUBLE), (2, NULL)) t(k, x)"
    )
    schema = _schema(x=ST.DoubleType(), k=ST.LongType())
    assert mismatches(schema, [(None, 2), (0.5, 1)], rel) == []


def test_driver_sim_reexports_what_perfbench_reads():
    """perfbench/worker.py::compare reads the oracle functions as
    ``driver_sim`` attributes; they must be the oracle module's own."""
    with open(os.path.join(REPO, "perfbench", "worker.py")) as fh:
        names = set(re.findall(r"\bD\.(\w+)", fh.read()))
    assert names
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(REPO, "scripts", "driver_sim.py")
    )
    driver_sim = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(driver_sim)
    assert {n: getattr(driver_sim, n, None) for n in names} == {
        n: getattr(oracle, n) for n in names
    }
