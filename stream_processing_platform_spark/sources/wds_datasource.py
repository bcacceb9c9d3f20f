"""``spp_wds`` — WebDataset tar shards as a Spark 4 Python DataSource.

WebDataset (the webdataset/tarp convention used by most large-scale
multimodal training runs: LAION, OpenCLIP, video/audio corpora) stores
one training sample as CONSECUTIVE members of a POSIX tar archive that
share a key: ``000123.jpg`` + ``000123.txt`` + ``000123.json`` is one
sample with three fields. Shards are plain ``.tar`` (or ``.tar.gz``),
which makes them dumb-storage-friendly and sequentially streamable —
exactly the property this reader exploits.

The reference platform has no archive-shard surface at all (sources are
Kafka/CSV/JSON/collection — taskmanager/operators/sources.py); this is
north-star LLM-pipeline capability. The tar container itself is
read/written with the stdlib ``tarfile`` module (tar is a stdlib-covered format — nothing to
re-implement, unlike WARC/Avro/FLAC where the codec layer was built
from scratch).

Read schema (fixed — WDS is self-describing per member name):

    shard string, key string, files map<string,binary>,
    n_files int, total_bytes bigint

Scale shape: ONE input partition per shard file — the honest unit for
(optionally gzipped) tar streams, which are not block-splittable;
real WDS corpora are sharded into many ~100 MB-1 GB tars precisely so
per-shard parallelism saturates the cluster. Within a task the shard
streams member by member (``tarfile`` stream mode — the working set is
one member, never the shard) and consecutive members sharing a key fold
into one row. Keys repeating NON-contiguously yield separate samples —
faithful to the WebDataset contract, which requires samples to be
stored contiguously.

Write side: input columns ``(key string, files map<string,binary>)``;
one ``part-<uuid>.tar[.gz]`` per task (the ``gzip`` option, default
false) with deterministic member metadata (mtime 0, uid/gid 0, mode
644, USTAR, extensions in sorted order).

Listing, the two-phase manifest commit and the shard-per-batch stream
reader come from file_datasource.py.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql.types import StructType

from stream_processing_platform_spark.sources.file_datasource import (
    FileDataSource,
    FilePartition,
)

MANIFEST = "_spp_wds_manifest.json"

WDS_SCHEMA_DDL = (
    "shard string, key string, files map<string,binary>, "
    "n_files int, total_bytes bigint"
)


def split_member_name(name: str) -> tuple[str, str]:
    """WebDataset member-name convention: strip directories, then the
    key is everything before the FIRST dot and the field extension is
    everything after it (so ``a/b/0001.seg.txt`` -> ('0001',
    'seg.txt') — multi-dot extensions stay whole, as in webdataset)."""
    base = name.rsplit("/", 1)[-1]
    key, _, ext = base.partition(".")
    return key, ext


def _read_shard_batches(path: str):
    """Decode one shard into ONE pyarrow.RecordBatch, a row per sample
    (measured the dominant cost of q_wds_multimodal's read side when
    rows crossed the worker boundary one by one)."""
    import pyarrow as pa

    shard = os.path.basename(path)
    mode = "r|gz" if path.endswith(".gz") else "r|"
    cur_key: str | None = None
    cur: dict[str, bytes] = {}
    shards: list[str] = []
    keys: list[str] = []
    files_col: list[list[tuple[str, bytes]]] = []
    n_files: list[int] = []
    total_bytes: list[int] = []

    def row(key: str, files: dict[str, bytes]) -> None:
        shards.append(shard)
        keys.append(key)
        files_col.append(list(files.items()))
        n_files.append(len(files))
        total_bytes.append(sum(len(v) for v in files.values()))

    with open(path, "rb") as raw, tarfile.open(fileobj=raw, mode=mode) as tf:
        for member in tf:
            if not member.isreg():
                continue
            key, ext = split_member_name(member.name)
            if not ext:
                continue  # extension-less members carry no field name
            data = tf.extractfile(member).read()
            if key != cur_key:
                if cur_key is not None:
                    row(cur_key, cur)
                cur_key, cur = key, {}
            cur[ext] = data
    if cur_key is not None:
        row(cur_key, cur)
    if keys:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(shards, pa.string()),
                pa.array(keys, pa.string()),
                pa.array(files_col, pa.map_(pa.string(), pa.binary())),
                pa.array(n_files, pa.int32()),
                pa.array(total_bytes, pa.int64()),
            ],
            names=["shard", "key", "files", "n_files", "total_bytes"],
        )


def _write_shard(tmp: str, rows, gz: bool) -> None:
    mode = "w:gz" if gz else "w"
    with tarfile.open(tmp, mode=mode, format=tarfile.USTAR_FORMAT) as tf:
        for key, files in rows:
            if files is None:
                continue
            # The reader's split_member_name takes everything before
            # the FIRST dot as the sample key, so a key containing
            # '.' (or a path separator) would round-trip to a
            # DIFFERENT key and silently splinter/merge samples
            # (r11 ADVICE) — reject it at the datasource boundary.
            if "." in key or "/" in key or "\\" in key:
                raise ValueError(
                    f"spp_wds sample key {key!r} must not contain "
                    "'.', '/' or '\\\\' — the member name is "
                    "'<key>.<ext>' and the reader splits on the "
                    "first dot"
                )
            for fext in sorted(files):
                data = bytes(files[fext])
                ti = tarfile.TarInfo(name=f"{key}.{fext}")
                ti.size = len(data)
                ti.mtime = 0
                ti.uid = ti.gid = 0
                ti.uname = ti.gname = ""
                ti.mode = 0o644
                tf.addfile(ti, io.BytesIO(data))


class WdsDataSource(FileDataSource):
    """``spark.read.format("spp_wds").load(path)`` — path may be a
    shard file or a directory; ``df.write.format("spp_wds")`` with
    columns (key, files); ``spark.readStream.format("spp_wds")``
    (shard-per-batch log: shards land, samples stream out)."""

    MANIFEST = MANIFEST
    EXTS = (".tar", ".tar.gz")

    @classmethod
    def name(cls) -> str:
        return "spp_wds"

    def schema(self) -> str:
        return WDS_SCHEMA_DDL

    def writer(self, schema: StructType, overwrite: bool):
        names = [f.name for f in schema.fields]
        if names != ["key", "files"]:
            raise ValueError(
                f"spp_wds writer needs columns ['key', 'files'], got {names}"
            )
        return super().writer(schema, overwrite)

    def _gzip(self) -> bool:
        return str(self.options.get("gzip", "false")).lower() == "true"

    def part_ext(self) -> str:
        return ".tar.gz" if self._gzip() else ".tar"

    def read_file(self, part: FilePartition, schema: StructType):
        return _read_shard_batches(part.path)

    def write_file(self, tmp: str, name: str, rows, schema: StructType) -> None:
        _write_shard(tmp, rows, self._gzip())


def register_wds_source(spark) -> None:
    """Idempotent registration."""
    spark.dataSource.register(WdsDataSource)
