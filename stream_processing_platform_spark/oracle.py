"""The oracle compare: a Spark result against its duckdb twin.

A registered query matches its oracle when, after sorting columns by
name, both engines return the same column names, the same multiset of
canonical rows (``canon``: floats to 9 significant digits, NaN and
nested lists made comparable, everything else ``str``), and the same
column types. Types count because the driver hashes TYPED values: a
duckdb HUGEINT (any arithmetic over ``sum(BIGINT)``) or DECIMAL (any
bare decimal literal) hashes unlike Spark's BIGINT/DOUBLE even when
every value is equal. So every duckdb output type must be in
``DUCK_TYPE_WHITELIST`` (wrap others in ``CAST(... AS BIGINT/DOUBLE)``
at the SELECT), and per column ``canon_spark_type`` and
``canon_duck_type`` must agree.

``mismatches`` applies the whole contract; ``scripts/driver_sim.py``
and the pytest gate (``tests/conftest.py::assert_matches_oracle``) both
call it over views from ``duck_views``.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from .tables import TABLE_NAMES

# duckdb type names an oracle result column is allowed to have.  Keep
# this tight: every entry is a type whose value hashing is known to
# agree with the matching Spark type in the driver compare.
DUCK_TYPE_WHITELIST = {
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",
    "BLOB",
}
# ...plus one level of LIST over any whitelisted element type.
_LIST_RE = re.compile(r"^(.*)\[\]$")


def duck_type_ok(type_str: str) -> bool:
    """True iff a duckdb output type is allowed by the oracle contract."""
    m = _LIST_RE.match(type_str)
    if m:
        return duck_type_ok(m.group(1))
    return type_str in DUCK_TYPE_WHITELIST


def canon_duck_type(type_str: str) -> str:
    """Canonical name for a duckdb output type (e.g. 'BIGINT[]')."""
    m = _LIST_RE.match(type_str)
    if m:
        return canon_duck_type(m.group(1)) + "[]"
    return {
        "TINYINT": "INT",
        "SMALLINT": "INT",
        "INTEGER": "INT",
        "BIGINT": "BIGINT",
        "HUGEINT": "HUGEINT",
        "FLOAT": "FLOAT",
        "DOUBLE": "DOUBLE",
        "VARCHAR": "VARCHAR",
        "BOOLEAN": "BOOLEAN",
        "DATE": "DATE",
        "BLOB": "BINARY",
        "TIMESTAMP": "TIMESTAMP",
        "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    }.get(type_str, type_str)


def canon_spark_type(dt) -> str:
    """Canonical name for a Spark DataType, same name space as duckdb."""
    from pyspark.sql import types as ST

    if isinstance(dt, ST.ArrayType):
        return canon_spark_type(dt.elementType) + "[]"
    if isinstance(dt, (ST.ByteType, ST.ShortType, ST.IntegerType)):
        return "INT"
    if isinstance(dt, ST.LongType):
        return "BIGINT"
    if isinstance(dt, ST.FloatType):
        return "FLOAT"
    if isinstance(dt, ST.DoubleType):
        return "DOUBLE"
    if isinstance(dt, ST.StringType):
        return "VARCHAR"
    if isinstance(dt, ST.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, ST.DateType):
        return "DATE"
    if isinstance(dt, ST.BinaryType):
        return "BINARY"
    if isinstance(dt, (ST.TimestampType, ST.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, ST.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return dt.simpleString().upper()


# Canonical pairs (spark, duck) that the driver compare is known to
# hash equally even though the names differ: Spark INT columns hash as
# Python ints just like duckdb INTEGER/BIGINT values do.
_COMPATIBLE = {("INT", "BIGINT"), ("BIGINT", "INT")}


def types_agree(spark_canon: str, duck_canon: str) -> bool:
    return spark_canon == duck_canon or (spark_canon, duck_canon) in _COMPATIBLE


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    return names, sorted(tuple(canon(r[i]) for i in order) for r in rows)


def duck_views(sf_dir: str):
    """A duckdb connection with one view per fixture table under sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def mismatches(schema, rows, rel) -> list[str]:
    """Why Spark ``rows`` (with StructType ``schema``) differ from the
    duckdb relation ``rel`` under the oracle contract; [] on a match."""
    d_names, d_rows = canon_rows(list(rel.columns), rel.fetchall())
    s_names, s_rows = canon_rows(schema.names, rows)
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    spark_types = {f.name: f.dataType for f in schema.fields}
    errs = []
    for col in d_names:
        dt = duck_types[col]
        if not duck_type_ok(dt):
            errs.append(f"{col}: duck type {dt} not whitelisted")
        if col in spark_types:
            sc, dc = canon_spark_type(spark_types[col]), canon_duck_type(dt)
            if not types_agree(sc, dc):
                errs.append(f"{col}: spark {sc} vs duck {dc}")
    if s_names != d_names:
        errs.append(f"cols: spark={s_names} duck={d_names}")
    elif s_rows != d_rows:
        s_count, d_count = Counter(s_rows), Counter(d_rows)
        s_only = list((s_count - d_count).elements())[:3]
        d_only = list((d_count - s_count).elements())[:3]
        errs.append(
            f"rows: {len(s_rows)} spark vs {len(d_rows)} duck; "
            f"spark-only: {s_only}; duck-only: {d_only}"
        )
    return errs
