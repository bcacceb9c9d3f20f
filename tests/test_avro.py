"""From-scratch Avro OCF codec + spp_avro DataSource tests: binary
round-trips the sf oracles can't isolate (union branch order, negative
varints, multi-block streaming, manifest-gated reads, truncation)."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from stream_processing_platform_spark.sources.avrocodec import (
    read_header,
    read_ocf,
    write_ocf,
)

_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "v", "type": "double"},
    ],
}


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_multiblock_roundtrip_both_codecs(tmp_path, codec):
    rows = [(i - 5, None if i % 3 == 0 else f"n{i}", i * 0.5) for i in range(25)]
    p = str(tmp_path / "t.avro")
    assert write_ocf(p, _SCHEMA, rows, codec=codec, block_rows=7) == 25
    assert list(read_ocf(p)) == rows


def test_reversed_union_branch_order(tmp_path):
    """[T, "null"] unions put null at branch 1 — the codec must honor
    the schema's branch order, not assume null-first."""
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "s", "type": ["string", "null"]}],
    }
    p = str(tmp_path / "u.avro")
    write_ocf(p, schema, [("x",), (None,), ("y",)], codec="null")
    assert list(read_ocf(p)) == [("x",), (None,), ("y",)]


def test_arrays_bytes_booleans_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "emb", "type": {"type": "array", "items": "double"}},
            {"name": "blob", "type": "bytes"},
            {"name": "ok", "type": "boolean"},
            {"name": "small", "type": "int"},
        ],
    }
    rows = [([0.25, -1.5], b"\x00\xff\x80", True, -2147483648),
            ([], b"", False, 2147483647)]
    p = str(tmp_path / "a.avro")
    write_ocf(p, schema, rows)
    assert list(read_ocf(p)) == rows


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.one_of(st.none(), st.text(max_size=40)),
            st.floats(allow_nan=False),
        ),
        max_size=30,
    )
)
def test_property_roundtrip_longs_strings_doubles(tmp_path_factory, rows):
    p = str(tmp_path_factory.mktemp("avro") / "p.avro")
    write_ocf(p, _SCHEMA, rows, block_rows=5)
    assert list(read_ocf(p)) == rows


def test_columnar_block_decode_pins_row_path(tmp_path):
    """read_ocf_column_blocks (the compiled columnar decoder behind the
    DataSource's Arrow batches, r15) must yield exactly the row path's
    values on a nesting-heavy schema — nullable arrays of nullable
    strings, floats, every primitive."""
    from stream_processing_platform_spark.sources.avrocodec import (
        read_ocf_column_blocks,
    )

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": "double"},
            {"name": "d", "type": {"type": "array", "items": "long"}},
            {"name": "e", "type": ["null",
                                   {"type": "array", "items": ["null", "string"]}]},
            {"name": "f", "type": "boolean"},
            {"name": "g", "type": "bytes"},
            {"name": "h", "type": "float"},
            {"name": "i", "type": "int"},
        ],
    }
    rows = []
    for k in range(500):
        rows.append((
            (k * 2654435761) % (2**63) - 2**62,
            None if k % 7 == 0 else f"s{k}é",
            k * 0.37 - 11.0,
            list(range(k % 5)),
            None if k % 3 == 0 else [None if j % 2 else f"x{j}" for j in range(k % 4)],
            k % 2 == 0,
            bytes([k % 256]),
            float(k) / 4,  # exactly representable in float32
            k - 250,
        ))
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"cmp_{codec}.avro")
        write_ocf(p, schema, rows, codec=codec, block_rows=64)
        got: list[tuple] = []
        for _n, cols in read_ocf_column_blocks(p):
            got.extend(zip(*cols))
        assert got == list(read_ocf(p)) == rows


def test_decoder_cache_evicts_oldest_at_cap():
    """At its 64-entry cap the compiled-decoder cache drops only the
    oldest decoder: after 65 distinct schemas it holds 64, and the 64
    most recently compiled are all still cached."""
    from stream_processing_platform_spark.sources import avrocodec

    avrocodec._DEC_CACHE.clear()
    keys = []
    for i in range(65):
        fields = [(f"c{j}", "long") for j in range(i + 1)]
        avrocodec._block_column_decoder(fields)
        keys.append(tuple(typ for _, typ in fields))
    assert len(avrocodec._DEC_CACHE) == 64
    assert keys[0] not in avrocodec._DEC_CACHE
    assert all(k in avrocodec._DEC_CACHE for k in keys[1:])


def test_bad_magic_and_corrupt_sync_raise(tmp_path):
    p = str(tmp_path / "bad.avro")
    with open(p, "wb") as f:
        f.write(b"PAR1whatever")
    with pytest.raises(ValueError, match="not an Avro"):
        with open(p, "rb") as f:
            read_header(f)

    good = str(tmp_path / "good.avro")
    write_ocf(good, _SCHEMA, [(1, "a", 1.0)])
    data = bytearray(open(good, "rb").read())
    data[-1] ^= 0xFF  # flip a sync byte
    open(good, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sync marker"):
        list(read_ocf(good))


def test_spark_roundtrip_and_manifest_hides_stale_parts(spark, tmp_path):
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, None, [])],
        "id bigint, name string, emb array<double>",
    )
    df.repartition(2).write.format("spp_avro").mode("overwrite").save(out)
    back = spark.read.format("spp_avro").load(out)
    assert back.schema.fieldNames() == ["id", "name", "emb"]
    assert sorted(map(tuple, back.collect())) == [(1, "a", [1.0, 2.0]), (2, None, [])]

    # drop a stale orphan part file next to the manifest: reads must
    # ignore it (two-phase commit contract)
    stale = os.path.join(out, "part-deadbeef.avro")
    write_ocf(
        stale,
        {"type": "record", "name": "row", "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "name", "type": ["null", "string"]},
            {"name": "emb", "type": ["null", {"type": "array", "items": ["null", "double"]}]},
        ]},
        [(99, "stale", None)],
    )
    assert spark.read.format("spp_avro").load(out).count() == 2

    # without a manifest (foreign-written dir) listing falls back to *.avro
    os.remove(os.path.join(out, "_spp_avro_manifest.json"))
    assert spark.read.format("spp_avro").load(out).count() == 3


def test_manifest_is_atomic_json(spark, tmp_path):
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    out = str(tmp_path / "o2")
    spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) v").write.format(
        "spp_avro"
    ).mode("overwrite").save(out)
    mf = json.load(open(os.path.join(out, "_spp_avro_manifest.json")))
    assert set(mf) == {"files"} and all(n.endswith(".avro") for n in mf["files"])
    on_disk = {e for e in os.listdir(out) if e.endswith(".avro")}
    assert set(mf["files"]) == on_disk


def test_stream_reader_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Two availableNow runs over a growing avro directory: run 2 must
    emit ONLY the file that landed after run 1's committed offset — the
    file-log offset contract, no loss, no dupes."""
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "v", "type": "double"}]}

    def run() -> None:
        s = spark.readStream.format("spp_avro").load(src)
        q = (
            s.writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    write_ocf(os.path.join(src, "b0001.avro"), schema, [(i, i * 0.5) for i in range(10)])
    run()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(10))
    write_ocf(os.path.join(src, "b0002.avro"), schema, [(i, 0.0) for i in range(10, 15)])
    run()
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == list(range(15))  # no loss, no dupes across the restart


def test_append_mode_unions_manifest_and_overwrite_retires_parts(spark, tmp_path):
    """append must UNION with the committed set (a manifest listing only
    the new job's files would silently hide prior data); overwrite must
    retire the replaced job's part files so the manifest-less listing
    fallback can never resurface them."""
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    out = str(tmp_path / "am")
    spark.range(0, 5).coalesce(1).write.format("spp_avro").mode("overwrite").save(out)
    spark.range(5, 8).coalesce(1).write.format("spp_avro").mode("append").save(out)
    got = sorted(r.id for r in spark.read.format("spp_avro").load(out).collect())
    assert got == list(range(8))

    spark.range(100, 102).coalesce(1).write.format("spp_avro").mode(
        "overwrite"
    ).save(out)
    assert sorted(
        r.id for r in spark.read.format("spp_avro").load(out).collect()
    ) == [100, 101]
    # the replaced parts are GONE from disk, not just from the manifest
    n_parts = len([e for e in os.listdir(out) if e.endswith(".avro")])
    assert n_parts == 1


def test_append_into_foreign_dir_seeds_manifest_from_listing(spark, tmp_path):
    """Appending into a directory of *.avro files written WITHOUT a
    manifest (a foreign writer): readers previously saw that data via
    the listing fallback, so the first manifest this job writes must
    seed its committed set from the listing — not list only its own
    parts and silently hide the pre-existing data."""
    from stream_processing_platform_spark.sources.avrocodec import write_ocf
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    out = tmp_path / "foreign"
    out.mkdir()
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    write_ocf(str(out / "foreign-000.avro"), schema, [(0,), (1,)])

    spark.range(2, 4).coalesce(1).write.format("spp_avro").mode("append").save(str(out))
    got = sorted(r.id for r in spark.read.format("spp_avro").load(str(out)).collect())
    assert got == [0, 1, 2, 3]  # foreign rows survive the first manifest


def test_orphan_task_attempt_never_committed(spark, tmp_path):
    """r8 advice: tasks write dot-prefixed temps and commit() renames
    only the ACKNOWLEDGED set — an orphan part from a failed/retried
    attempt (on disk but absent from the commit messages) must not be
    swept into the manifest by the foreign-dir listing seed, and must
    stay invisible to readers."""
    import json as _json

    from stream_processing_platform_spark.sources.avrocodec import write_ocf
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    out = tmp_path / "orphans"
    out.mkdir()
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    write_ocf(str(out / "foreign-000.avro"), schema, [(0,), (1,)])
    # plant an orphan the way a dead task attempt now leaves one:
    # dot-temp named, never renamed
    write_ocf(str(out / ".part-deadbeef.avro.tmp"), schema, [(99,)])

    spark.range(2, 4).coalesce(1).write.format("spp_avro").mode("append").save(str(out))
    mf = _json.load(open(out / "_spp_avro_manifest.json"))
    assert "foreign-000.avro" in mf["files"]
    assert not any(n.startswith(".") or n.endswith(".tmp") for n in mf["files"])
    got = sorted(r.id for r in spark.read.format("spp_avro").load(str(out)).collect())
    assert got == [0, 1, 2, 3]  # foreign + appended rows; never 99
