"""Test-side Avro helpers.

``read_avro`` reads a local container file through the package's
``avro_io.read_avro_bytes``. ``avro_record_count`` counts a whole
in-memory container from its block headers; it is the reference that
``avro_io.avro_record_count_ranged`` (ranged reads, any ``fsutil``
scheme) is checked against.
"""

from __future__ import annotations

import io

from embulk_input_parquet_hadoop_spark.sources.avro_io import (
    _MAGIC, _decode, _read_long, read_avro_bytes)


def read_avro(path: str) -> tuple[dict, list]:
    """Read a local Avro container file -> (writer schema, records)."""
    with open(path, "rb") as f:
        data = f.read()
    return read_avro_bytes(data, name=path)


def avro_record_count(data: bytes, name: str = "<bytes>") -> int:
    """Record count of a container from its block headers alone — no
    payload decompression or datum decode (each block prefix carries
    its record count)."""
    buf = io.BytesIO(data)
    if buf.read(4) != _MAGIC:
        raise ValueError(f"not an avro container file: {name}")
    _decode({"type": "map", "values": "bytes"}, buf, {})
    sync = buf.read(16)
    total = 0
    while buf.tell() < len(data):
        n = _read_long(buf)
        size = _read_long(buf)
        buf.seek(size, 1)
        if buf.read(16) != sync:
            raise ValueError(f"sync marker mismatch in {name}")
        total += n
    return total
