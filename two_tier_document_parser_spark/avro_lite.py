"""From-scratch Apache Avro object-container codec (the subset
Iceberg manifests need), built off the public Avro 1.11 spec.

Iceberg's metadata tree is: table-metadata JSON -> manifest-LIST
(an Avro file) -> manifest files (Avro) -> parquet data files. The
sandbox has no iceberg-spark-runtime jar, so `iceberg_lite` writes
and reads that tree itself; this module is the Avro layer — a
schema-driven binary encoder/decoder plus the object-container
framing (header, metadata map, sync-marked data blocks, optional
deflate codec):

    header   = b"Obj\\x01" + map<string,bytes> file metadata
               (avro.schema JSON + avro.codec) + 16-byte sync marker
    block    = long record-count, long byte-size, records (possibly
               deflated), sync marker
    scalars  = zigzag varints for int/long, IEEE little-endian for
               float/double, length-prefixed bytes/string, 1-byte
               boolean, empty null
    complex  = records (fields in order), unions (branch index then
               value), arrays/maps (counted blocks, 0-terminated,
               negative count = abs(count) + block byte size)

The decoder is driven by the WRITER schema embedded in the file
header (real Avro behavior — a reader never guesses), so files this
module writes are decodable by any conforming Avro implementation
and vice versa for the supported type subset. Schema JSON carries
Iceberg's `field-id` attributes untouched, which is what makes the
emitted manifests spec-shaped rather than merely self-consistent.

Determinism: the 16-byte sync marker is derived from the md5 of the
schema + payload instead of a random value (the spec requires only
uniqueness within producers; deriving it keeps byte-identical
re-serialization, the engine-wide replay rule).

Scale: Avro here carries METADATA (file listings), never data rows —
all calls are driver-side and bounded by the snapshot's file count.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"


# ----------------------------------------------------------- scalars


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc)
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = read_long(buf)
    if n < 0:
        raise ValueError("negative byte length")
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


# ------------------------------------------------------ schema-driven


def _branches(schema: Any) -> list[Any]:
    if not isinstance(schema, list):
        raise TypeError("not a union")
    return schema


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def encode(buf: io.BytesIO, schema: Any, value: Any) -> None:
    t = _type_name(schema)
    if t == "union":
        for i, br in enumerate(_branches(schema)):
            # null matches the null branch; everything else takes the
            # first non-null branch (the Iceberg schemas are all
            # ["null", X] option types, so this is unambiguous)
            if (value is None) == (_type_name(br) == "null"):
                write_long(buf, i)
                encode(buf, br, value)
                return
        raise ValueError("no union branch for value")
    if t == "null":
        if value is not None:
            raise ValueError("non-null for null type")
        return
    if t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        write_long(buf, int(value))
    elif t == "float":
        buf.write(struct.pack("<f", value))
    elif t == "double":
        buf.write(struct.pack("<d", value))
    elif t == "bytes":
        _write_bytes(buf, bytes(value))
    elif t == "string":
        _write_bytes(buf, value.encode("utf-8"))
    elif t == "fixed":
        if len(value) != schema["size"]:
            raise ValueError("fixed size mismatch")
        buf.write(bytes(value))
    elif t == "record":
        for field in schema["fields"]:
            encode(buf, field["type"], value.get(field["name"]))
    elif t == "array":
        items = list(value or [])
        if items:
            write_long(buf, len(items))
            for it in items:
                encode(buf, schema["items"], it)
        write_long(buf, 0)
    elif t == "map":
        entries = dict(value or {})
        if entries:
            write_long(buf, len(entries))
            for k, v in entries.items():
                _write_bytes(buf, k.encode("utf-8"))
                encode(buf, schema["values"], v)
        write_long(buf, 0)
    else:
        raise TypeError(f"unsupported avro type {t!r}")


def decode(buf: io.BytesIO, schema: Any) -> Any:
    t = _type_name(schema)
    if t == "union":
        i = read_long(buf)
        return decode(buf, _branches(schema)[i])
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "record":
        return {
            f["name"]: decode(buf, f["type"]) for f in schema["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block-size variant: size precedes items
                n = -n
                read_long(buf)
            for _ in range(n):
                out.append(decode(buf, schema["items"]))
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
                k = _read_bytes(buf).decode("utf-8")
                out[k] = decode(buf, schema["values"])
    raise TypeError(f"unsupported avro type {t!r}")


# ------------------------------------------------- object container


def write_container(
    schema: Any,
    records: list[dict],
    codec: str = "deflate",
    extra_meta: dict[str, bytes] | None = None,
) -> bytes:
    """Records -> Avro object-container file bytes (one data block —
    manifests are metadata-sized; block splitting is a data-file
    concern Avro readers handle either way)."""
    payload = io.BytesIO()
    for rec in records:
        encode(payload, schema, rec)
    raw = payload.getvalue()
    if codec == "deflate":
        co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
        body = co.compress(raw) + co.flush()
    elif codec == "null":
        body = raw
    else:
        raise ValueError(f"unsupported codec {codec!r}")

    schema_json = json.dumps(schema, separators=(",", ":"))
    sync = hashlib.md5(schema_json.encode() + raw).digest()

    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": codec.encode(),
        **(extra_meta or {}),
    }
    write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    write_long(out, 0)
    out.write(sync)
    if records:
        write_long(out, len(records))
        write_long(out, len(body))
        out.write(body)
        out.write(sync)
    return out.getvalue()


def read_container(data: bytes) -> tuple[Any, list[dict], dict[str, bytes]]:
    """Avro file bytes -> (writer schema, records, file metadata)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = read_long(buf)
        size = read_long(buf)
        body = buf.read(size)
        if len(body) != size:
            raise EOFError("truncated block")
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        block = io.BytesIO(body)
        for _ in range(count):
            records.append(decode(block, schema))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records, meta
