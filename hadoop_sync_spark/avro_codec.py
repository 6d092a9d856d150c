"""Apache Avro binary codec + Object Container File reader/writer, from
the PUBLIC Avro 1.11 specification (avro.apache.org/docs/1.11.1/specification)
— pure stdlib, no ``avro``/``fastavro`` dependency (neither ships in this
container).

Why it exists: Apache Iceberg stores its manifest lists and manifest
files as Avro OCF — a lakehouse-interop reader (iceberg_meta.py, the
Iceberg sibling of delta_log.py) cannot exist without one.  The module is
a general codec, not an Iceberg-shaped subset: the full primitive set,
records, arrays, maps, unions, enums and fixed, nested to any depth, with
ALL SIX spec block codecs: ``null``, ``deflate`` (raw RFC-1951, per
spec), ``snappy`` (raw snappy block + 4-byte big-endian CRC32 of the
UNCOMPRESSED data, per spec), ``zstandard`` (RFC 8878 frame),
``bzip2`` (.bz2 stream, stdlib), and ``xz`` (.xz container, stdlib
lzma pinned to FORMAT_XZ so a raw lzma-alone stream refuses rather
than silently decoding a non-conforming file).  Snappy/zstd bytes go
through pyarrow's bundled compressors; snappy's decompressed size
comes from the format's own LE-varint preamble (never trusted
blindly — the decompressor checks the output length), and zstd reads
as a stream so frames without Frame_Content_Size (Avro Java's
streaming writer) decode too.

Encoding rules implemented (spec §Binary encoding / §Object Container
Files):

- int/long: zigzag then unsigned varint (7 bits per byte, LSB first);
- float/double: IEEE-754 little-endian; boolean: one byte; null: zero
  bytes; bytes/string: long length prefix + raw/UTF-8 payload;
- record: field values in schema order, no framing;
- array/map: blocks — nonzero item count, items, repeated, then a zero
  count terminator; a NEGATIVE count means abs(count) items follow a
  long byte-size (writers may emit either; the reader handles both);
- union: zigzag branch index + the branch's value; enum: int index;
  fixed: raw bytes of declared size;
- OCF: magic ``Obj\\x01``, a file-metadata map (``avro.schema``,
  ``avro.codec``), a 16-byte sync marker, then blocks of
  ``(row count, compressed byte length, payload, sync marker)`` — the
  sync marker is verified per block, so truncation or splice corruption
  is detected at read time.

Reading uses the file's own writer schema (spec-compliant: a reader that
interprets exactly the writer schema needs no resolution pass); named
types may be referenced by name after first definition.  The codec
surface is complete per the spec's registry; an unknown ``avro.codec``
name still raises ``NotImplementedError`` — the honest-refusal policy
the BMP/PNG/JPEG codecs follow — rather than guessing a decompressor.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

from hadoop_sync_spark.commit import replace_file

_MAGIC = b"Obj\x01"


# ----------------------------------------------------------------- primitives
def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    if not -(2**63) <= n < 2**63:
        raise ValueError(f"{n} outside the signed 64-bit Avro long range")
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise ValueError("truncated Avro varint")
        b = raw[0]
        # the 10th byte (shift 63) may contribute only its low bit; any
        # higher payload bits would push past 64 bits and, unmasked,
        # decode corrupt varints to huge wrong integers (ADVICE r7)
        if shift == 63 and b & 0x7E:
            raise ValueError("Avro varint overflows the 64-bit range")
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("Avro varint longer than 64 bits")
    return _zigzag_decode(acc)


def _write_bytes(out: io.BytesIO, data: bytes) -> None:
    write_long(out, len(data))
    out.write(data)


def _read_n(buf: io.BytesIO, n: int) -> bytes:
    data = buf.read(n)
    if len(data) != n:
        raise ValueError("truncated Avro payload")
    return data


# ------------------------------------------------------------------- schemas
def _named(schema) -> str | None:
    if isinstance(schema, dict) and schema.get("type") in (
        "record",
        "enum",
        "fixed",
    ):
        return schema["name"]
    return None


class _Types:
    """Registry of named types seen so far (records may self/forward
    reference by name, e.g. Iceberg's nested struct reuse)."""

    def __init__(self) -> None:
        self.by_name: dict[str, dict] = {}

    def resolve(self, schema):
        if isinstance(schema, str) and schema in self.by_name:
            return self.by_name[schema]
        return schema

    def remember(self, schema) -> None:
        name = _named(schema)
        if name is not None:
            self.by_name[name] = schema


# ------------------------------------------------------------------- encoder
def _encode(out: io.BytesIO, schema, value, types: _Types) -> None:
    schema = types.resolve(schema)
    types.remember(schema)
    if isinstance(schema, list):  # union
        for idx, branch in enumerate(schema):
            if _matches(types.resolve(branch), value, types):
                write_long(out, idx)
                _encode(out, branch, value, types)
                return
        raise ValueError(f"value {value!r} matches no union branch {schema}")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        if value is not None:
            raise ValueError(f"non-null {value!r} for null schema")
    elif t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", float(value)))
    elif t == "double":
        out.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        _write_bytes(out, bytes(value))
    elif t == "string":
        _write_bytes(out, value.encode("utf-8"))
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] not in value and "default" in f:
                _encode(out, f["type"], f["default"], types)
            else:
                _encode(out, f["type"], value[f["name"]], types)
    elif t == "array":
        if value:
            write_long(out, len(value))
            for item in value:
                _encode(out, schema["items"], item, types)
        write_long(out, 0)
    elif t == "map":
        if value:
            write_long(out, len(value))
            for k, v in value.items():
                _write_bytes(out, k.encode("utf-8"))
                _encode(out, schema["values"], v, types)
        write_long(out, 0)
    elif t == "enum":
        write_long(out, schema["symbols"].index(value))
    elif t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("fixed-size mismatch")
        out.write(bytes(value))
    else:
        raise NotImplementedError(f"Avro type {t!r}")


def _matches(schema, value, types: _Types) -> bool:
    """Pick the union branch for a Python value (writer-side only)."""
    schema = types.resolve(schema)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, (list, tuple))
    if t == "map":
        return isinstance(value, dict)
    return False


# ------------------------------------------------------------------- decoder
def _decode(buf: io.BytesIO, schema, types: _Types):
    schema = types.resolve(schema)
    types.remember(schema)
    if isinstance(schema, list):  # union
        idx = read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} out of range")
        return _decode(buf, schema[idx], types)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t == "boolean":
        return _read_n(buf, 1) != b"\x00"
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        return struct.unpack("<f", _read_n(buf, 4))[0]
    if t == "double":
        return struct.unpack("<d", _read_n(buf, 8))[0]
    if t == "bytes":
        return _read_n(buf, read_long(buf))
    if t == "string":
        return _read_n(buf, read_long(buf)).decode("utf-8")
    if t == "record":
        return {
            f["name"]: _decode(buf, f["type"], types)
            for f in schema["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                read_long(buf)
            for _ in range(n):
                out.append(_decode(buf, schema["items"], types))
    if t == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                k = _read_n(buf, read_long(buf)).decode("utf-8")
                out[k] = _decode(buf, schema["values"], types)
    if t == "enum":
        return schema["symbols"][read_long(buf)]
    if t == "fixed":
        return _read_n(buf, schema["size"])
    raise NotImplementedError(f"Avro type {t!r}")


# ------------------------------------------------------- object container file
_OCF_CODECS = ("null", "deflate", "snappy", "zstandard", "bzip2", "xz")


def _snappy_uncompressed_len(b: bytes) -> int:
    """Raw snappy format preamble: the uncompressed length as a
    little-endian base-128 varint (format description §1) — at most 5
    bytes for the 32-bit lengths the format allows."""
    n = shift = 0
    for i in range(min(5, len(b))):
        byte = b[i]
        n |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return n
        shift += 7
    raise ValueError("invalid snappy length preamble")


def _compress_block(payload: bytes, codec: str) -> bytes:
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        return comp.compress(payload) + comp.flush()
    if codec == "snappy":
        import struct as _s

        import pyarrow as _pa

        body = _pa.Codec("snappy").compress(payload, asbytes=True)
        return body + _s.pack(">I", zlib.crc32(payload))
    if codec == "zstandard":
        import pyarrow as _pa

        return _pa.Codec("zstd").compress(payload, asbytes=True)
    if codec == "bzip2":
        import bz2 as _bz2

        return _bz2.compress(payload, 9)
    if codec == "xz":
        import lzma as _lzma

        return _lzma.compress(payload, format=_lzma.FORMAT_XZ)
    return payload  # null


def _decompress_block(payload: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(payload, -15)
    if codec == "snappy":
        import struct as _s

        import pyarrow as _pa

        if len(payload) < 4:
            raise ValueError("snappy block shorter than its checksum")
        body, crc = payload[:-4], _s.unpack(">I", payload[-4:])[0]
        out = _pa.Codec("snappy").decompress(
            body, decompressed_size=_snappy_uncompressed_len(body),
            asbytes=True,
        )
        if zlib.crc32(out) != crc:
            raise ValueError("snappy block CRC32 mismatch")
        return out
    if codec == "zstandard":
        import pyarrow as _pa

        # streaming read: zstd frames from streaming writers (Avro
        # Java's ZstdOutputStream path) omit Frame_Content_Size, so a
        # header-declared-size decompress can't cover conforming files
        return _pa.input_stream(
            _pa.py_buffer(payload), compression="zstd"
        ).read()
    if codec == "bzip2":
        import bz2 as _bz2

        # stdlib handles concatenated .bz2 streams, which the format
        # permits inside one block
        return _bz2.decompress(payload)
    if codec == "xz":
        import lzma as _lzma

        # FORMAT_XZ: integrity-checked .xz container only — a raw
        # lzma-alone stream in an 'xz' block is non-conforming and
        # refuses; concatenated xz streams decode per stdlib semantics
        return _lzma.decompress(payload, format=_lzma.FORMAT_XZ)
    return payload  # null


def write_ocf(
    path: str,
    schema: dict,
    records: list[dict],
    codec: str = "deflate",
    sync: bytes | None = None,
    block_rows: int = 1000,
    extra_meta: dict[str, bytes] | None = None,
) -> str:
    """Write records as an Avro Object Container File.  ``codec`` is
    any of the spec's six: ``null``, ``deflate`` (raw RFC-1951 stream,
    per spec), ``snappy`` (+ 4-byte BE CRC32 of the uncompressed block,
    per spec), ``zstandard``, ``bzip2``, or ``xz``.  ``extra_meta`` adds application keys to the
    file-metadata map — Iceberg manifests carry ``schema`` /
    ``partition-spec`` / ``content`` there.  The sync marker is
    deterministic from the content unless given — the repo has no
    ambient-randomness budget (driver re-runs must be byte-stable)."""
    if codec not in _OCF_CODECS:
        raise NotImplementedError(f"Avro codec {codec!r}")
    schema_json = json.dumps(schema)
    if sync is None:
        import hashlib

        sync = hashlib.md5(
            (schema_json + str(len(records))).encode()
        ).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = io.BytesIO()
    out.write(_MAGIC)
    meta_schema = {"type": "map", "values": "bytes"}
    _encode(
        out,
        meta_schema,
        {
            "avro.schema": schema_json.encode(),
            "avro.codec": codec.encode(),
            **(extra_meta or {}),
        },
        _Types(),
    )
    out.write(sync)
    for start in range(0, len(records), block_rows):
        chunk = records[start : start + block_rows]
        body = io.BytesIO()
        types = _Types()
        for rec in chunk:
            _encode(body, schema, rec, types)
        payload = _compress_block(body.getvalue(), codec)
        write_long(out, len(chunk))
        write_long(out, len(payload))
        out.write(payload)
        out.write(sync)
    return replace_file(path, out.getvalue())


def read_ocf(path: str) -> tuple[dict, list[dict], dict[str, bytes]]:
    """Read an Avro OCF → (writer schema, records, file-metadata map).
    Verifies the magic and the per-block sync markers; unknown codecs
    raise."""
    with open(path, "rb") as fh:
        data = fh.read()
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    buf = io.BytesIO(data[4:])
    meta = _decode(buf, {"type": "map", "values": "bytes"}, _Types())
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in _OCF_CODECS:
        raise NotImplementedError(f"Avro codec {codec!r}")
    sync = _read_n(buf, 16)
    records: list[dict] = []
    while buf.tell() < len(data) - 4:
        n_rows = read_long(buf)
        n_bytes = read_long(buf)
        payload = _read_n(buf, n_bytes)
        if _read_n(buf, 16) != sync:
            raise ValueError("Avro block sync-marker mismatch")
        payload = _decompress_block(payload, codec)
        body = io.BytesIO(payload)
        types = _Types()
        for _ in range(n_rows):
            records.append(_decode(body, schema, types))
        if body.read(1):
            raise ValueError("Avro block decoded short of its payload")
    return schema, records, meta
