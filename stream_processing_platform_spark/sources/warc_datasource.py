"""``spp_warc`` — WARC/WET files as a Spark 4 Python DataSource, backed
by the from-scratch ISO 28500 codec (sources/warccodec.py).

The canonical LLM-pipeline input: Common Crawl ships ``.warc.gz`` /
``.wet.gz`` segments, and the curation stages this engine already has
(q_html_extract's strip chain, Gopher rules, dedup, mixture) all start
from these records. The reference platform has no WARC surface
(sources are Kafka/CSV/JSON/collection — taskmanager/operators/
sources.py), so this is north-star capability.

Read schema (fixed — WARC is self-describing per record, not per file):

    warc_file string, warc_type string, record_id string,
    warc_date string, target_uri string, content_type string,
    content_length bigint, payload binary

Scale shape: ONE input partition per file — the honest parallelism unit
for member-gzipped archives (gzip is not block-splittable without a
side index; Common Crawl segments are ~1 GB each and a 100 TB crawl is
~100k files, far above any executor count, so per-file parallelism
saturates the cluster). Within a task the codec streams record by
record: the working set is one record, never the file. ``pushFilters``
accepts ``warc_type`` equality (e.g. ``response`` only) — records of
other types are skipped right after their header block parses, before
any row materializes (a CPU/allocation prune; the bytes still stream
past, as they must under gzip).

Write side (fixture/export path): each task writes one member-gzipped
``part-<uuid>.warc.gz`` led by a ``warcinfo`` record (the standard
file-level provenance convention). Listing, the two-phase manifest
commit and the archive-per-batch stream reader come from
file_datasource.py; batch and stream reads decode through the same
per-file reader (record-type pruning is a post-scan filter in a stream
DataFrame — pushFilters is a batch-read surface).

Input rows for the writer: (warc_type, record_id, warc_date,
target_uri, content_type, payload) — record_id/warc_date/target_uri
may be empty strings, in which case the writer fills a deterministic
UUIDv5 id and omits the URI header.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql.datasource import EqualTo, Filter
from pyspark.sql.types import StructType

from stream_processing_platform_spark.sources.file_datasource import (
    FileBatchReader,
    FileDataSource,
    FilePartition,
)
from stream_processing_platform_spark.sources.warccodec import (
    decode_records,
    record_id_from,
    write_warc,
)

MANIFEST = "_spp_warc_manifest.json"

WARC_SCHEMA_DDL = (
    "warc_file string, warc_type string, record_id string, warc_date string, "
    "target_uri string, content_type string, content_length bigint, payload binary"
)

_WRITE_COLUMNS = ["warc_type", "record_id", "warc_date", "target_uri", "content_type", "payload"]
# WARC-Date of the warcinfo record, and of rows whose warc_date is empty
_WARC_DATE = "2024-01-01T00:00:00Z"


def _read_warc_batches(path: str, warc_type: str | None):
    """Decode one WARC/WET file into pyarrow.RecordBatches; when
    ``warc_type`` is set, records of other types are skipped right after
    their header block parses."""
    import pyarrow as pa

    base = os.path.basename(path)
    cols: list[list] = [[] for _ in range(8)]

    def flush():
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.string()),
                pa.array(cols[2], pa.string()),
                pa.array(cols[3], pa.string()),
                pa.array(cols[4], pa.string()),
                pa.array(cols[5], pa.string()),
                pa.array(cols[6], pa.int64()),
                pa.array(cols[7], pa.binary()),
            ],
            names=[
                "warc_file", "warc_type", "record_id", "warc_date",
                "target_uri", "content_type", "content_length", "payload",
            ],
        )
        for c in cols:
            c.clear()
        return batch

    pending = 0
    with open(path, "rb") as fh:
        for headers, body in decode_records(fh):
            rtype = headers.get("WARC-Type", "")
            if warc_type is not None and rtype != warc_type:
                continue
            cols[0].append(base)
            cols[1].append(rtype)
            cols[2].append(headers.get("WARC-Record-ID", ""))
            cols[3].append(headers.get("WARC-Date", ""))
            cols[4].append(headers.get("WARC-Target-URI", ""))
            cols[5].append(headers.get("Content-Type", ""))
            cols[6].append(len(body))
            cols[7].append(body)
            pending += len(body) + 256
            # cap batch payload (binary Arrow arrays hold 2 GiB max;
            # stay far below to bound worker memory)
            if pending >= 64 << 20:
                yield flush()
                pending = 0
    if cols[0]:
        yield flush()


def _warc_records(name: str, rows):
    info = b"software: stream-processing-platform-spark\r\nformat: WARC file version 1.0\r\n"
    yield (
        {
            "WARC-Type": "warcinfo",
            "WARC-Record-ID": record_id_from(f"warcinfo:{name}"),
            "WARC-Date": _WARC_DATE,
            "Content-Type": "application/warc-fields",
        },
        info,
    )
    for wtype, rid, wdate, uri, ctype, payload in rows:
        headers = {
            "WARC-Type": wtype,
            "WARC-Record-ID": rid or record_id_from(f"{wtype}:{uri}"),
            "WARC-Date": wdate or _WARC_DATE,
            "Content-Type": ctype,
        }
        if uri:
            headers["WARC-Target-URI"] = uri
        yield headers, bytes(payload)


class WarcBatchReader(FileBatchReader):
    """Batch reader with ADVISORY warc_type pushdown.

    Spark reuses ONE reader instance across every scan of the same
    ``load()`` relation, and pushFilters for ALL branches runs before
    any partitions() call — so two branches filtering on different
    warc_type values would overwrite a single pushed slot and the
    last filter would silently apply to both scans (caught live by
    q_warc_pair_capture's request/response self-join: the request
    branch read response records). The safe contract: every filter is
    YIELDED BACK so Spark always re-applies it post-scan, and the
    source prunes only when exactly one distinct warc_type was pushed
    (the single-branch case — q_warc_extract keeps its warcinfo
    prune); conflicting pushdowns disable pruning, never correctness."""

    def __init__(self, options):
        super().__init__(WarcDataSource(options), None)
        self._pushed_types: set[str] = set()

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr else None
            if isinstance(f, EqualTo) and col == "warc_type" and isinstance(f.value, str):
                self._pushed_types.add(f.value)
            yield f  # ALWAYS re-evaluated by Spark (advisory pushdown)

    def partitions(self):
        wt = next(iter(self._pushed_types)) if len(self._pushed_types) == 1 else None
        return [replace(p, pushed=wt) for p in super().partitions()]


class WarcDataSource(FileDataSource):
    """``spark.read.format("spp_warc").load(path)`` — path may be a
    file or a directory; ``df.write.format("spp_warc")``;
    ``spark.readStream.format("spp_warc")`` (archive-per-batch log)."""

    MANIFEST = MANIFEST
    EXTS = (".warc", ".warc.gz", ".wet", ".wet.gz")

    @classmethod
    def name(cls) -> str:
        return "spp_warc"

    def schema(self) -> str:
        return WARC_SCHEMA_DDL

    def reader(self, schema: StructType) -> WarcBatchReader:
        return WarcBatchReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        names = [f.name for f in schema.fields]
        if names != _WRITE_COLUMNS:
            raise ValueError(f"spp_warc writer needs columns {_WRITE_COLUMNS}, got {names}")
        return super().writer(schema, overwrite)

    def part_ext(self) -> str:
        return ".warc.gz"

    def read_file(self, part: FilePartition, schema: StructType):
        return _read_warc_batches(part.path, part.pushed)

    def write_file(self, tmp: str, name: str, rows, schema: StructType) -> None:
        write_warc(tmp, _warc_records(name, rows), gzip_members=True)


def register_warc_source(spark) -> None:
    """Idempotent registration (and enable Python-source filter
    pushdown, off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)
