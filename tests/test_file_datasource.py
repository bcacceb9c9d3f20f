"""The file-source chassis (sources/file_datasource.py) shared by
spp_avro, spp_warc and spp_wds: path handling, and the two-phase
manifest commit driven without Spark through each format's writer and
read back through the shared listing plus the format's per-file
reader."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from stream_processing_platform_spark.sources.avro_datasource import (
    AvroDataSource,
    register_avro_source,
)
from stream_processing_platform_spark.sources.file_datasource import (
    FilePartition,
    list_files,
)
from stream_processing_platform_spark.sources.warc_datasource import (
    WarcDataSource,
    register_warc_source,
)
from stream_processing_platform_spark.sources.wds_datasource import (
    WdsDataSource,
    register_wds_source,
)


def _avro_rows(ids):
    return [(i,) for i in ids]


def _avro_ids(batch):
    return batch.column("id").to_pylist()


def _warc_rows(ids):
    return [("conversion", "", "", f"https://t/{i}", "text/plain", str(i).encode()) for i in ids]


def _warc_ids(batch):
    d = batch.to_pydict()
    return [int(p) for t, p in zip(d["warc_type"], d["payload"]) if t == "conversion"]


def _wds_rows(ids):
    return [(f"{i:04d}", {"txt": str(i).encode()}) for i in ids]


def _wds_ids(batch):
    return [int(k) for k in batch.column("key").to_pylist()]


_S = StringType()
# format -> (DataSource, register, writer schema, rows(ids), ids(batch))
FORMATS = {
    "spp_avro": (
        AvroDataSource,
        register_avro_source,
        StructType([StructField("id", LongType(), False)]),
        _avro_rows,
        _avro_ids,
    ),
    "spp_warc": (
        WarcDataSource,
        register_warc_source,
        StructType(
            [StructField(n, _S) for n in ("warc_type", "record_id", "warc_date", "target_uri", "content_type")]
            + [StructField("payload", BinaryType())]
        ),
        _warc_rows,
        _warc_ids,
    ),
    "spp_wds": (
        WdsDataSource,
        register_wds_source,
        StructType([StructField("key", _S), StructField("files", MapType(_S, BinaryType()))]),
        _wds_rows,
        _wds_ids,
    ),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_commit_protocol_without_spark(tmp_path, fmt):
    cls, _, schema, rows, ids_of = FORMATS[fmt]
    d = str(tmp_path)
    ds = cls({"path": d})
    ext = ds.part_ext()

    def read_ids():
        return sorted(
            i
            for p in list_files(d, ds.MANIFEST, ds.EXTS)
            for b in ds.read_file(FilePartition(p), schema)
            for i in ids_of(b)
        )

    def manifest():
        with open(os.path.join(d, ds.MANIFEST)) as fh:
            return json.load(fh)["files"]

    def job(ids, overwrite):
        w = ds.writer(schema, overwrite)
        w.commit([w.write(iter(rows(ids)))])

    # a foreign-written part (no manifest), and an orphan left by a dead
    # task attempt of a job: dot-temp named, never renamed
    ds.write_file(os.path.join(d, f"foreign-000{ext}"), f"foreign-000{ext}", rows([0, 1]), schema)
    ds.write_file(os.path.join(d, f".part-deadbeef{ext}.tmp"), f"part-deadbeef{ext}", rows([99]), schema)

    # append into the foreign directory seeds the manifest from the
    # listing; the orphan is never committed
    job([2, 3], overwrite=False)
    assert read_ids() == [0, 1, 2, 3]
    assert f"foreign-000{ext}" in manifest()
    assert not any(n.startswith(".") or n.endswith(".tmp") for n in manifest())

    # append unions with the existing manifest, which keeps hiding a
    # stale part that is on disk but was never committed
    ds.write_file(os.path.join(d, f"stale-000{ext}"), f"stale-000{ext}", rows([98]), schema)
    job([4], overwrite=False)
    assert read_ids() == [0, 1, 2, 3, 4]
    assert len(manifest()) == 3

    # overwrite retires every unlisted part from disk
    job([7], overwrite=True)
    assert read_ids() == [7]
    on_disk = [e for e in os.listdir(d) if e.endswith(ds.EXTS)]
    assert on_disk == manifest() and len(on_disk) == 1

    # abort removes the temp name, and the final name of a part whose
    # rename a partially-run commit already made
    w = ds.writer(schema, False)
    staged, renamed = w.write(iter(rows([8]))), w.write(iter(rows([9])))
    os.replace(os.path.join(d, f".{renamed.name}.tmp"), os.path.join(d, renamed.name))
    w.abort([staged, renamed])
    for m in (staged, renamed):
        assert not os.path.exists(os.path.join(d, f".{m.name}.tmp"))
        assert not os.path.exists(os.path.join(d, m.name))
    assert read_ids() == [7]


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_missing_path_raises_and_single_file_loads(spark, tmp_path, fmt):
    cls, register, schema, rows, _ = FORMATS[fmt]
    register(spark)
    with pytest.raises(Exception, match=f"{fmt} requires a path"):
        spark.read.format(fmt).load().collect()

    ds = cls({"path": str(tmp_path)})
    one = str(tmp_path / f"part-one{ds.part_ext()}")
    ds.write_file(one, os.path.basename(one), rows([1, 2, 3]), schema)
    assert spark.read.format(fmt).load(one).count() == 3 + (fmt == "spp_warc")  # + warcinfo
