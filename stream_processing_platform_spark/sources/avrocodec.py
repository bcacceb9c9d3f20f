"""From-scratch Avro Object Container File codec (pure Python, stdlib
only — the container ships no Avro bindings, same doctrine as the
multimodal JFIF/PPM/WAV codecs: implement the public spec, gate nothing
on absent libraries).

Implements the Avro 1.x OCF layout from the published specification:
``Obj\\x01`` magic, file-metadata map (``avro.schema`` JSON +
``avro.codec``), 16-byte sync marker, then data blocks of
``(row count, byte size, payload, sync)`` — payload raw or raw-deflate
(zlib wbits=-15) compressed. Binary encoding: zigzag-varint ints/longs,
little-endian IEEE float/double, length-prefixed bytes/strings,
union-index-prefixed unions, count-block arrays.

Supported schema subset (asserted, not silently mangled): a top-level
``record`` whose fields are primitives (null/boolean/int/long/float/
double/bytes/string), nullable unions ``["null", P]``, and arrays of
either. Logical types (timestamp-millis etc.) pass through as their
underlying primitive — the honest treatment when the engine's tables
already carry epoch numbers.

Scale shape: the codec is streaming on both sides — the writer buffers
one block (``block_rows`` rows) at a time, the reader yields row by
row from one decompressed block at a time — so a task never holds a
file in memory. File-level parallelism is the DataSource's job
(sources/avro_datasource.py: one input partition per file).
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from collections.abc import Iterable, Iterator

MAGIC = b"Obj\x01"
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------- varints

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _write_long(buf: bytearray, n: int) -> None:
    u = _zigzag(n)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(r: io.BufferedIOBase) -> int:
    u = 0
    shift = 0
    while True:
        raw = r.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            return u
        shift += 7


def _read_long(r: io.BufferedIOBase) -> int:
    return _unzigzag(_read_varint(r))


# ---------------------------------------------------------------- schema

def _norm(sch):
    """Normalize a schema node to one of: primitive str,
    ('nullable', prim), ('array', item-node)."""
    if isinstance(sch, dict):
        t = sch.get("type")
        if t == "array":
            return ("array", _norm(sch["items"]))
        if t in _PRIMITIVES:
            return t  # logical types ride on their underlying primitive
        raise ValueError(f"unsupported Avro schema node: {sch!r}")
    if isinstance(sch, list):
        if len(sch) == 2 and "null" in sch:
            null_idx = sch.index("null")
            other = sch[1 - null_idx]
            return ("nullable", _norm(other), null_idx)
        raise ValueError(f"only [null, T] unions supported: {sch!r}")
    if sch in _PRIMITIVES:
        return sch
    raise ValueError(f"unsupported Avro type: {sch!r}")


def record_fields(schema: dict) -> list[tuple[str, object]]:
    """(name, normalized-type) per field of a top-level record schema."""
    if schema.get("type") != "record":
        raise ValueError("top-level schema must be a record")
    return [(f["name"], _norm(f["type"])) for f in schema["fields"]]


# ---------------------------------------------------------------- encode

def _encode_value(buf: bytearray, typ, v) -> None:
    if isinstance(typ, tuple) and typ[0] == "nullable":
        null_idx = typ[2]
        if v is None:
            _write_long(buf, null_idx)
            return
        _write_long(buf, 1 - null_idx)
        typ = typ[1]
    if isinstance(typ, tuple) and typ[0] == "array":
        if v:
            _write_long(buf, len(v))
            for item in v:
                _encode_value(buf, typ[1], item)
        _write_long(buf, 0)
        return
    if typ == "null":
        if v is not None:
            raise ValueError("non-None value for null type")
        return
    if typ == "boolean":
        buf.append(1 if v else 0)
    elif typ in ("int", "long"):
        _write_long(buf, int(v))
    elif typ == "float":
        buf += struct.pack("<f", float(v))
    elif typ == "double":
        buf += struct.pack("<d", float(v))
    elif typ == "bytes":
        b = bytes(v)
        _write_long(buf, len(b))
        buf += b
    elif typ == "string":
        b = str(v).encode("utf-8")
        _write_long(buf, len(b))
        buf += b
    else:  # pragma: no cover — _norm rejects these up front
        raise ValueError(f"unsupported type {typ!r}")


def write_ocf(
    path: str,
    schema: dict,
    rows: Iterable[tuple],
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Write ``rows`` (tuples in field order) as one OCF file; returns
    the row count. ``codec``: ``null`` or ``deflate``. The sync marker
    is derived from the schema + path (unique per file, reproducible —
    the spec only requires in-file consistency)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    fields = record_fields(schema)
    schema_json = json.dumps(schema, separators=(",", ":")).encode()
    sync = hashlib.md5(schema_json + b"\x00" + path.encode()).digest()

    def meta_map() -> bytes:
        buf = bytearray()
        entries = [(b"avro.schema", schema_json), (b"avro.codec", codec.encode())]
        _write_long(buf, len(entries))
        for k, v in entries:
            _write_long(buf, len(k))
            buf += k
            _write_long(buf, len(v))
            buf += v
        _write_long(buf, 0)
        return bytes(buf)

    n_total = 0
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(meta_map())
        f.write(sync)
        block = bytearray()
        n_block = 0

        def flush() -> None:
            nonlocal block, n_block, n_total
            if not n_block:
                return
            payload = bytes(block)
            if codec == "deflate":
                c = zlib.compressobj(wbits=-15)  # raw deflate per spec
                payload = c.compress(payload) + c.flush()
            head = bytearray()
            _write_long(head, n_block)
            _write_long(head, len(payload))
            f.write(bytes(head))
            f.write(payload)
            f.write(sync)
            n_total += n_block
            block = bytearray()
            n_block = 0

        for row in rows:
            for (_, typ), v in zip(fields, row):
                _encode_value(block, typ, v)
            n_block += 1
            if n_block >= block_rows:
                flush()
        flush()
    return n_total


# ---------------------------------------------------------------- decode

def _decode_value(r: io.BufferedIOBase, typ):
    if isinstance(typ, tuple) and typ[0] == "nullable":
        branch = _read_long(r)
        if branch == typ[2]:
            return None
        return _decode_value(r, typ[1])
    if isinstance(typ, tuple) and typ[0] == "array":
        out = []
        while True:
            cnt = _read_long(r)
            if cnt == 0:
                return out
            if cnt < 0:  # spec: negative count precedes a block byte-size
                cnt = -cnt
                _read_long(r)
            for _ in range(cnt):
                out.append(_decode_value(r, typ[1]))
    if typ == "null":
        return None
    if typ == "boolean":
        return r.read(1)[0] != 0
    if typ in ("int", "long"):
        return _read_long(r)
    if typ == "float":
        return struct.unpack("<f", r.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", r.read(8))[0]
    if typ == "bytes":
        return r.read(_read_long(r))
    if typ == "string":
        return r.read(_read_long(r)).decode("utf-8")
    raise ValueError(f"unsupported type {typ!r}")  # pragma: no cover


def read_header(f: io.BufferedIOBase) -> tuple[dict, str, bytes]:
    """Parse the OCF header → (schema, codec, sync marker)."""
    if f.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        cnt = _read_long(f)
        if cnt == 0:
            break
        if cnt < 0:
            cnt = -cnt
            _read_long(f)
        for _ in range(cnt):
            k = f.read(_read_long(f)).decode("utf-8")
            meta[k] = f.read(_read_long(f))
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = f.read(16)
    if len(sync) != 16:
        raise ValueError("truncated header sync marker")
    return schema, codec, sync


def read_ocf(path: str) -> Iterator[tuple]:
    """Yield rows (tuples in field order), one decompressed block in
    memory at a time."""
    with open(path, "rb") as f:
        schema, codec, sync = read_header(f)
        fields = record_fields(schema)
        while True:
            try:
                n = _read_long(f)
            except EOFError:
                return
            size = _read_long(f)
            payload = f.read(size)
            if len(payload) != size:
                raise ValueError("truncated block")
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            r = io.BytesIO(payload)
            for _ in range(n):
                yield tuple(_decode_value(r, typ) for _, typ in fields)
            if f.read(16) != sync:
                raise ValueError("sync marker mismatch (corrupt block)")


# ------------------------------------------- columnar block decode
#
# The generic row path above dispatches isinstance checks per VALUE and
# pays an io.BytesIO method call per varint byte — measured as the floor
# of the spp_avro read path once rows crossed the worker boundary as
# Arrow batches. The columnar decoder compiles ONE specialized function
# per normalized record schema (exec-codegen, cached) that walks a
# decompressed block with a local integer cursor, inlined varint reads
# and zero per-value dispatch, appending straight into per-field column
# lists — the shape pyarrow.array consumes. Equality with the row path
# is pytest-pinned (tests/test_avro.py).

_DEC_CACHE: dict[tuple, object] = {}


def _emit_value(typ, dst: str, depth: int, ind: int, lines: list[str]) -> None:
    """Append source lines that decode one value of normalized type
    ``typ`` from ``data``/``pos`` locals into variable ``dst``."""
    pad = " " * ind

    def varint(into: str) -> None:
        # zigzag varint, single-byte fast path
        lines.append(f"{pad}b = data[pos]; pos += 1")
        lines.append(f"{pad}if b < 128:")
        lines.append(f"{pad}    u = b")
        lines.append(f"{pad}else:")
        lines.append(f"{pad}    u = b & 127; s = 7")
        lines.append(f"{pad}    b = data[pos]; pos += 1")
        lines.append(f"{pad}    while b >= 128:")
        lines.append(f"{pad}        u += (b & 127) << s; s += 7")
        lines.append(f"{pad}        b = data[pos]; pos += 1")
        lines.append(f"{pad}    u += b << s")
        lines.append(f"{pad}{into} = (u >> 1) ^ -(u & 1)")

    if isinstance(typ, tuple) and typ[0] == "nullable":
        varint(f"_br{depth}")
        lines.append(f"{pad}if _br{depth} == {typ[2]}:")
        lines.append(f"{pad}    {dst} = None")
        lines.append(f"{pad}else:")
        _emit_value(typ[1], dst, depth + 1, ind + 4, lines)
        return
    if isinstance(typ, tuple) and typ[0] == "array":
        lines.append(f"{pad}{dst} = []")
        lines.append(f"{pad}_ap{depth} = {dst}.append")
        lines.append(f"{pad}while True:")
        varint_ind = ind + 4
        pad2 = " " * varint_ind
        _emit_value("long", f"_cnt{depth}", depth + 1, varint_ind, lines)
        lines.append(f"{pad2}if _cnt{depth} == 0: break")
        lines.append(f"{pad2}if _cnt{depth} < 0:")
        lines.append(f"{pad2}    _cnt{depth} = -_cnt{depth}")
        _emit_value("long", f"_sz{depth}", depth + 2, varint_ind + 4, lines)
        lines.append(f"{pad2}for _ in range(_cnt{depth}):")
        _emit_value(typ[1], f"_it{depth}", depth + 3, varint_ind + 4, lines)
        lines.append(f"{pad2}    _ap{depth}(_it{depth})")
        return
    if typ == "null":
        lines.append(f"{pad}{dst} = None")
    elif typ == "boolean":
        lines.append(f"{pad}{dst} = data[pos] != 0; pos += 1")
    elif typ in ("int", "long"):
        varint(dst)
    elif typ == "float":
        lines.append(f"{pad}{dst} = _upf(data, pos)[0]; pos += 4")
    elif typ == "double":
        lines.append(f"{pad}{dst} = _upd(data, pos)[0]; pos += 8")
    elif typ == "bytes":
        varint(f"_ln{depth}")
        lines.append(f"{pad}{dst} = data[pos : pos + _ln{depth}]; pos += _ln{depth}")
    elif typ == "string":
        varint(f"_ln{depth}")
        lines.append(
            f"{pad}{dst} = data[pos : pos + _ln{depth}].decode('utf-8'); "
            f"pos += _ln{depth}"
        )
    else:  # pragma: no cover — _norm rejects these up front
        raise ValueError(f"unsupported type {typ!r}")


def _block_column_decoder(fields: list[tuple[str, object]]):
    """Compile (and cache) ``decode(data, n, cols) -> pos`` for one
    normalized field list: appends ``n`` decoded values per field into
    ``cols[i]`` and returns the cursor after the last row."""
    key = tuple(typ for _, typ in fields)
    fn = _DEC_CACHE.get(key)
    if fn is not None:
        return fn
    lines = [
        "def _decode(data, n, cols):",
        "    pos = 0",
    ]
    for i in range(len(fields)):
        lines.append(f"    _a{i} = cols[{i}].append")
    lines.append("    for _ in range(n):")
    for i, (_, typ) in enumerate(fields):
        _emit_value(typ, f"_v{i}", 0, 8, lines)
        lines.append(f"        _a{i}(_v{i})")
    lines.append("    return pos")
    ns: dict[str, object] = {
        "_upf": struct.Struct("<f").unpack_from,
        "_upd": struct.Struct("<d").unpack_from,
    }
    exec("\n".join(lines), ns)  # noqa: S102 — schema-derived codegen
    fn = ns["_decode"]
    if len(_DEC_CACHE) >= 64:
        del _DEC_CACHE[next(iter(_DEC_CACHE))]  # evict the oldest
    _DEC_CACHE[key] = fn
    return fn


def read_ocf_column_blocks(path: str) -> Iterator[tuple[int, list[list]]]:
    """Yield ``(n_rows, columns)`` per OCF block, decoded columnar by
    the schema-specialized compiled decoder — the fast path behind the
    spp_avro DataSource's Arrow batches."""
    with open(path, "rb") as f:
        schema, codec, sync = read_header(f)
        fields = record_fields(schema)
        decode = _block_column_decoder(fields)
        k = len(fields)
        while True:
            try:
                n = _read_long(f)
            except EOFError:
                return
            size = _read_long(f)
            payload = f.read(size)
            if len(payload) != size:
                raise ValueError("truncated block")
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            cols: list[list] = [[] for _ in range(k)]
            end = decode(payload, n, cols)
            if end != len(payload):
                raise ValueError("block decode cursor mismatch (corrupt block)")
            if f.read(16) != sync:
                raise ValueError("sync marker mismatch (corrupt block)")
            yield n, cols
