"""The chassis shared by the file-format DataSources — ``spp_avro``
(avro_datasource.py), ``spp_warc`` (warc_datasource.py) and
``spp_wds`` (wds_datasource.py). A format subclasses
``FileDataSource`` and supplies only what is its own: a schema, one
per-file reader yielding Arrow batches, and one per-file writer. The
listing, the commit protocol and the stream offsets live here, once.

Listing: ``load(path)`` takes a single file or a directory. In a
directory the format's manifest, when present, lists exactly the
committed files — stale part files from a failed or overwritten job
are invisible. Without one (a foreign-written directory) every file
with one of the format's extensions is listed, sorted by name.

Write + commit protocol (the same two-phase contract as the
``spp_manifest`` streaming sink, custom_datasource.py): each write
task produces one ``part-<uuid><ext>`` file under a dot-prefixed temp
name and returns the name as a commit message. The driver's
``commit`` renames the acknowledged parts into place and writes the
manifest ATOMICALLY (tmp + rename); ``abort`` deletes the orphans.
Commit cost is O(files) at the driver — the same asymptotics as
Spark's own file commit protocol.

Stream offsets (files-are-the-log, the model of Spark's own file
stream source): a micro-batch is a slice of the listing, and the
offset is ``{"index": n}`` — files [0, n) consumed. The directory
contract is append-only with lexicographically increasing names (the
staging harnesses write ``b0001_…``-prefixed files), the standard
file-stream assumption. ``latestOffset`` reports everything currently
listed, which is correct for availableNow (it calls it once) and for
continuous polling (files landing later surface in the next
trigger). ``commit`` is the base class's no-op: the checkpointed
offset log is the source of truth.

Scale shape: one input partition per file — the unit of a streamed
container (OCF blocks, member-gzipped WARC, tar) that is not
block-splittable; within a task the per-file reader streams, so the
working set is a bounded batch, never the file.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _named(path: str, exts: tuple[str, ...]) -> list[str]:
    return [e for e in os.listdir(path) if e.endswith(exts)]


def list_files(path: str, manifest: str, exts: tuple[str, ...]) -> list[str]:
    """The files a read of ``path`` covers (see the module docstring).
    A path that is neither a file nor a directory lists nothing."""
    if os.path.isfile(path):
        return [path]
    mf = os.path.join(path, manifest)
    if os.path.exists(mf):
        with open(mf) as fh:
            return [os.path.join(path, n) for n in json.load(fh)["files"]]
    if not os.path.isdir(path):
        return []
    return sorted(os.path.join(path, e) for e in _named(path, exts))


@dataclass
class FilePartition(InputPartition):
    path: str
    # advisory pushed-down value the per-file reader may prune by
    # (spp_warc's single WARC-Type equality); Spark re-applies every
    # filter after the scan regardless
    pushed: str | None = None


@dataclass
class PartFile(WriterCommitMessage):
    name: str


class FileDataSource(DataSource):
    """Base of a file-format DataSource. A subclass sets ``MANIFEST``
    and ``EXTS`` (the extensions a manifest-less directory lists) and
    defines ``name``, ``schema``, ``part_ext``, ``read_file`` and
    ``write_file``."""

    MANIFEST: str
    EXTS: tuple[str, ...]

    def path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.name()} requires a path")
        return path

    def files(self) -> list[str]:
        return list_files(self.path(), self.MANIFEST, self.EXTS)

    def part_ext(self) -> str:
        """Extension of the part files this format's writer produces."""
        raise NotImplementedError

    def read_file(self, part: FilePartition, schema: StructType) -> Iterator:
        """Decode one file into pyarrow.RecordBatches. Arrow batches
        cross the Python worker boundary columnar; the row path would
        pickle every row, payload bytes included."""
        raise NotImplementedError

    def write_file(self, tmp: str, name: str, rows, schema: StructType) -> None:
        """Encode one task's ``rows`` into the file ``tmp``, which
        commit renames to ``name``."""
        raise NotImplementedError

    def reader(self, schema: StructType) -> DataSourceReader:
        return FileBatchReader(self, schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return FileWriter(self, schema, overwrite)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return FileStreamReader(self, schema)


class FileBatchReader(DataSourceReader):
    def __init__(self, ds: FileDataSource, schema: StructType):
        ds.path()  # a missing path fails at planning, typed
        self._ds = ds
        self._schema = schema

    def partitions(self):
        files = self._ds.files()
        if not files:
            raise ValueError(f"no {self._ds.name()} files under {self._ds.path()!r}")
        return [FilePartition(p) for p in files]

    def read(self, partition: FilePartition):
        return self._ds.read_file(partition, self._schema)


class FileStreamReader(DataSourceStreamReader):
    """Files-are-the-log stream reader (offset model in the module
    docstring); batches decode through the same per-file reader as
    batch reads."""

    def __init__(self, ds: FileDataSource, schema: StructType):
        ds.path()
        self._ds = ds
        self._schema = schema

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        return {"index": len(self._ds.files())}

    def partitions(self, start: dict, end: dict):
        files = self._ds.files()[start["index"]:end["index"]]
        return [FilePartition(p) for p in files]

    def read(self, partition: FilePartition):
        return self._ds.read_file(partition, self._schema)


class FileWriter(DataSourceWriter):
    """One part file per task, two-phase manifest commit."""

    def __init__(self, ds: FileDataSource, schema: StructType, overwrite: bool):
        self._ds = ds
        self._path = ds.path()
        self._schema = schema
        self._overwrite = overwrite
        os.makedirs(self._path, exist_ok=True)

    def _tmp(self, name: str) -> str:
        return os.path.join(self._path, "." + name + ".tmp")

    def write(self, iterator) -> PartFile:
        # Tasks write DOT-PREFIXED temp names (invisible to the
        # extension listing fallback and to the foreign-dir manifest
        # seeding below); commit() renames the acknowledged set into
        # place. Without this, an orphan part from a failed/retried
        # attempt of THIS job — final-named on disk but absent from the
        # commit messages — would be indistinguishable from foreign
        # data and get committed, surfacing uncommitted/duplicate rows.
        name = f"part-{uuid.uuid4().hex}{self._ds.part_ext()}"
        self._ds.write_file(self._tmp(name), name, iterator, self._schema)
        return PartFile(name)

    def commit(self, messages) -> None:
        exts = self._ds.EXTS
        files = [m.name for m in messages if m is not None]
        for name in files:
            os.replace(self._tmp(name), os.path.join(self._path, name))
        mf_path = os.path.join(self._path, self._ds.MANIFEST)
        if not self._overwrite:
            if os.path.exists(mf_path):
                # append mode UNIONS with the committed set — a manifest
                # listing only the new job's files would silently hide
                # all previously committed data from manifest-trusting
                # readers
                with open(mf_path) as fh:
                    files = json.load(fh)["files"] + files
            else:
                # appending into a FOREIGN-written directory (part files,
                # no manifest): readers previously saw that data via
                # the listing fallback — seed the committed set from
                # the listing so the first manifest doesn't hide it.
                # Safe against this job's own parts: they were renamed
                # from dot-temps just above, so subtract them; orphans
                # from failed attempts never got final names.
                new = set(files)
                files = sorted(
                    e for e in _named(self._path, exts) if e not in new
                ) + files
        tmp = os.path.join(self._path, f".{self._ds.MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"files": files}, fh)
        os.replace(tmp, mf_path)
        if self._overwrite:
            # overwrite retires the replaced job's part files — left on
            # disk they would resurface through the manifest-less
            # extension listing fallback for foreign-written directories
            keep = set(files)
            for e in _named(self._path, exts):
                if e not in keep:
                    try:
                        os.remove(os.path.join(self._path, e))
                    except FileNotFoundError:
                        pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                # temp name normally; final name too, in case abort
                # raced a partially-run commit's renames
                for path in (self._tmp(m.name), os.path.join(self._path, m.name)):
                    try:
                        os.remove(path)
                    except FileNotFoundError:
                        pass
