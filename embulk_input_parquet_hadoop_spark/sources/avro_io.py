"""Minimal pure-Python Avro Object Container File reader/writer.

The sandbox has no avro/fastavro package, but Iceberg's table metadata
(manifest lists and manifests) is Avro — so the Iceberg-native source
(``iceberg_meta.py``) needs exactly this: decode records of the embedded
writer schema, and encode spec-valid fixture files for tests. Implements
the subset of the Avro 1.11 spec (https://avro.apache.org/docs/) those
files use:

- types: null, boolean, int, long, float, double, bytes, string, record,
  array, map, union, fixed, enum (logical types ride on these and need no
  special handling for decoding);
- container framing: magic ``Obj\\x01``, file-metadata map with
  ``avro.schema`` / ``avro.codec``, sync-marker-delimited blocks;
- codecs: null, deflate (raw zlib), snappy (via pyarrow, with the
  4-byte big-endian CRC32 suffix the Avro snappy codec specifies).

Not a general Avro implementation: no schema resolution (reader always
uses the writer schema embedded in the file — all an Iceberg metadata
reader needs), no aliases, no default-based field fill.
"""

from __future__ import annotations

import io
import json
import struct
import zlib


# --- varint / zigzag ---------------------------------------------------------

def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_long(out: bytearray, v: int) -> None:
    # zigzag: Python's arbitrary-precision >> keeps this exact for
    # negatives ((v >> 63) is 0 or -1, and x ^ -1 == ~x)
    u = (v << 1) ^ (v >> 63)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


# --- schema-driven decode ----------------------------------------------------

def _decode(schema, buf: io.BytesIO, named: dict):
    if isinstance(schema, str):
        schema = named.get(schema, schema)
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        return _decode(schema[idx], buf, named)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            named[schema["name"]] = schema
            return {f["name"]: _decode(f["type"], buf, named)
                    for f in schema["fields"]}
        if t == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    _read_long(buf)  # block byte size, unused
                for _ in range(n):
                    out.append(_decode(schema["items"], buf, named))
            return out
        if t == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    _read_long(buf)
                for _ in range(n):
                    klen = _read_long(buf)
                    k = buf.read(klen).decode()
                    out[k] = _decode(schema["values"], buf, named)
            return out
        if t == "fixed":
            named[schema["name"]] = schema
            return buf.read(schema["size"])
        if t == "enum":
            named[schema["name"]] = schema
            return schema["symbols"][_read_long(buf)]
        return _decode(t, buf, named)  # {"type": "long", ...} wrapper
    # primitive
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) != b"\x00"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return buf.read(_read_long(buf))
    if schema == "string":
        return buf.read(_read_long(buf)).decode()
    raise ValueError(f"unsupported avro type {schema!r}")


# --- schema-driven encode ----------------------------------------------------

def _encode(schema, v, out: bytearray, named: dict) -> None:
    if isinstance(schema, str):
        schema = named.get(schema, schema)
    if isinstance(schema, list):
        nulls = [i for i, b in enumerate(schema) if b == "null"]
        if v is None and nulls:
            _write_long(out, nulls[0])
            return
        if len(schema) == 2 and len(nulls) == 1:
            # the ["null", X] unions Iceberg metadata uses
            i = 1 - nulls[0]
            _write_long(out, i)
            _encode(schema[i], v, out, named)
            return
        # wider primitive-only unions (Hudi's delete-record orderingVal):
        # pick the branch by python type; anything schema-shaped enough
        # to be ambiguous stays refused
        want = ("boolean" if isinstance(v, bool)
                else "long" if isinstance(v, int)
                else "double" if isinstance(v, float)
                else "string" if isinstance(v, str)
                else "bytes" if isinstance(v, (bytes, bytearray))
                else None)
        fallback = {"long": "int", "double": "float"}.get(want)
        for cand in (want, fallback):
            if cand is not None and cand in schema:
                i = schema.index(cand)
                _write_long(out, i)
                _encode(cand, v, out, named)
                return
        raise ValueError(f"unsupported union for encode: {schema!r} "
                         f"value {type(v).__name__}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            named[schema["name"]] = schema
            for f in schema["fields"]:
                _encode(f["type"], v[f["name"]], out, named)
            return
        if t == "array":
            if v:
                _write_long(out, len(v))
                for item in v:
                    _encode(schema["items"], item, out, named)
            _write_long(out, 0)
            return
        if t == "map":
            if v:
                _write_long(out, len(v))
                for k, mv in v.items():
                    kb = k.encode()
                    _write_long(out, len(kb))
                    out.extend(kb)
                    _encode(schema["values"], mv, out, named)
            _write_long(out, 0)
            return
        if t == "fixed":
            named[schema["name"]] = schema
            if len(v) != schema["size"]:
                raise ValueError("fixed size mismatch")
            out.extend(v)
            return
        if t == "enum":
            named[schema["name"]] = schema
            _write_long(out, schema["symbols"].index(v))
            return
        _encode(t, v, out, named)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out.append(1 if v else 0)
        return
    if schema in ("int", "long"):
        _write_long(out, v)
        return
    if schema == "float":
        out.extend(struct.pack("<f", v))
        return
    if schema == "double":
        out.extend(struct.pack("<d", v))
        return
    if schema == "bytes":
        _write_long(out, len(v))
        out.extend(v)
        return
    if schema == "string":
        vb = v.encode()
        _write_long(out, len(vb))
        out.extend(vb)
        return
    raise ValueError(f"unsupported avro type {schema!r}")


# --- bare datums (no container) ----------------------------------------------
# Hudi log blocks carry schema-less Avro BINARY DATUMS (the writer
# schema travels out of band: data blocks in the block header's SCHEMA
# entry, delete blocks as the fixed public HoodieDeleteRecordList
# schema) — expose the schema-driven codec for them.

def decode_datum(schema, data: bytes):
    """Decode one Avro binary datum of ``schema`` from ``data``."""
    return _decode(schema, io.BytesIO(data), {})


def decode_datums(schema, blobs: list) -> list:
    """Decode many datums of one schema (named-type cache shared)."""
    named: dict = {}
    return [_decode(schema, io.BytesIO(b), named) for b in blobs]


def encode_datum(schema, value) -> bytes:
    """Encode one value as an Avro binary datum of ``schema``."""
    out = bytearray()
    _encode(schema, value, out, {})
    return bytes(out)


# --- container file ----------------------------------------------------------

_MAGIC = b"Obj\x01"
_SYNC = b"\xa5spark-graft-a5!"  # any 16 bytes; fixed for determinism
assert len(_SYNC) == 16


def _decompress(codec: str, data: bytes) -> bytes:
    if codec in ("null", ""):
        return data
    if codec == "deflate":
        return zlib.decompress(data, -15)
    if codec == "snappy":
        import pyarrow as pa
        body, crc = data[:-4], data[-4:]
        # pa.Codec.decompress needs the output size (CLAUDE.md); raw
        # snappy self-describes it as a leading uvarint — parse it
        size = 0
        shift = 0
        for i, b in enumerate(body):
            size |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if i > 9:
                raise ValueError("bad snappy length header")
        raw = bytes(pa.Codec("snappy").decompress(
            body, decompressed_size=size))
        if struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF) != crc:
            raise ValueError("avro snappy block CRC mismatch")
        return raw
    raise ValueError(f"unsupported avro codec {codec!r}")


def read_avro_bytes(data: bytes, name: str = "<bytes>") -> tuple[dict,
                                                                 list]:
    """Parse an Avro container from bytes -> (writer schema, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != _MAGIC:
        raise ValueError(f"not an avro container file: {name}")
    meta_schema = {"type": "map", "values": "bytes"}
    meta = _decode(meta_schema, buf, {})
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    records = []
    while buf.tell() < len(data):
        n = _read_long(buf)
        size = _read_long(buf)
        block = io.BytesIO(_decompress(codec, buf.read(size)))
        named: dict = {}
        for _ in range(n):
            records.append(_decode(schema, block, named))
        if buf.read(16) != sync:
            raise ValueError(f"sync marker mismatch in {name}")
    return schema, records


def write_avro_stream(fh, schema: dict, record_chunks,
                      codec: str = "deflate") -> int:
    """Stream a MULTI-BLOCK container to the open binary file ``fh``:
    one block per chunk from the iterator — peak memory is one chunk
    (one Arrow batch for the export path), never the whole file.
    Returns the record count written."""
    head = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    _encode({"type": "map", "values": "bytes"}, meta, head, {})
    head.extend(_SYNC)
    fh.write(bytes(head))
    named: dict = {}
    total = 0
    for chunk in record_chunks:
        if not chunk:
            continue
        body = bytearray()
        for r in chunk:
            _encode(schema, r, body, named)
        raw = bytes(body)
        if codec == "deflate":
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = comp.compress(raw) + comp.flush()
        elif codec == "null":
            payload = raw
        else:
            raise ValueError(f"write codec {codec!r} not supported")
        pre = bytearray()
        _write_long(pre, len(chunk))
        _write_long(pre, len(payload))
        fh.write(bytes(pre))
        fh.write(payload)
        fh.write(_SYNC)
        total += len(chunk)
    return total


def avro_record_count_ranged(path: str) -> int:
    """Record count via block-header hops with RANGED reads — each
    block prefix carries its record count, so the cost is O(blocks)
    tiny reads on any fsutil scheme, never the payload bytes. The
    readback gate for ``decode_job --format avro`` on large exports."""
    from ..plans import fsutil
    size = fsutil.file_size(path)
    pref = 1 << 16
    while True:
        head = fsutil.read_bytes_range(path, 0, min(pref, size))
        buf = io.BytesIO(head)
        if buf.read(4) != _MAGIC:
            raise ValueError(f"not an avro container file: {path}")
        try:
            _decode({"type": "map", "values": "bytes"}, buf, {})
            buf.read(16)  # sync marker
            # a short prefix can truncate silently (bytes values read
            # short): accept only if we demonstrably had slack left,
            # or the prefix was the whole file
            if buf.tell() < len(head) or len(head) == size:
                pos = buf.tell()
                break
        except EOFError:
            pass
        if pref >= size:
            raise ValueError(f"truncated avro container: {path}")
        pref *= 2
    total = 0
    while pos < size:
        head = fsutil.read_bytes_range(path, pos, min(24, size - pos))
        buf = io.BytesIO(head)
        n = _read_long(buf)
        blen = _read_long(buf)
        total += n
        pos += buf.tell() + blen + 16
    if pos != size:
        raise ValueError(f"trailing garbage after last block: {path}")
    return total


def write_avro(path: str, schema: dict, records: list,
               codec: str = "deflate") -> None:
    """Write records as a single-block Avro container file."""
    body = bytearray()
    named: dict = {}
    for r in records:
        _encode(schema, r, body, named)
    raw = bytes(body)
    if codec == "deflate":
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(raw) + comp.flush()
    elif codec == "null":
        payload = raw
    else:
        raise ValueError(f"write codec {codec!r} not supported")
    out = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    _encode({"type": "map", "values": "bytes"}, meta, out, {})
    out.extend(_SYNC)
    _write_long(out, len(records))
    _write_long(out, len(payload))
    out.extend(payload)
    out.extend(_SYNC)
    with open(path, "wb") as f:
        f.write(bytes(out))
