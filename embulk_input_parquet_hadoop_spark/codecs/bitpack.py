"""Bit-packing codec: pack non-negative integers at a fixed bit width.

This is the write-side inverse of the Parquet ``BIT_PACKED``/``RLE`` pages
the reference decodes (encodings visible in its fixture metadata, e.g.
``parquet-msgpack/src/test/resources/test-data/spark/
proto-struct-with-array.parquet.meta`` -> ``ENC:BIT_PACKED,PLAIN,RLE``).

Pure numpy, no per-value Python. Values are packed little-endian bit-order:
value i occupies bits [i*w, (i+1)*w) — i.e. the byte stream is the
little-endian representation of sum(v_i << (i*w)). Byte-aligned widths
(8/16/32/64) take a zero-copy-ish fast path; other widths use a
residue-grouped byte scatter/gather: values i ≡ r (mod 8) all share the same
in-byte bit offset ((r*w) % 8) and their start bytes are exactly w bytes
apart, so byte k of every value in a group is one basic strided slice
(``out[start + k::w]``) — per group one vector op per byte the values
touch, no fancy indexing, O(n·w/8) byte traffic and no (n, w) bit-matrix
blow-up.
"""

from __future__ import annotations

import numpy as np

MAX_WIDTH = 64
_ALIGNED = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}


def bit_width(max_value: int) -> int:
    """Bits needed for the non-negative value ``max_value`` (0 -> 0 bits)."""
    if max_value < 0:
        raise ValueError("bit_width requires non-negative input")
    return int(max_value).bit_length()


def _as_u64(values: np.ndarray) -> np.ndarray:
    # int64 -> uint64 is a bit-identical reinterpret for the non-negative
    # inputs this codec accepts; .view avoids a (lazily-initialized, slow)
    # signed->unsigned cast kernel
    if values.dtype == np.int64:
        return values.view(np.uint64)
    return values.astype(np.uint64, copy=False)


def pack(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative int values into ``width``-bit little-endian slots."""
    n = len(values)
    if width == 0 or n == 0:
        return b""
    if width > MAX_WIDTH:
        raise ValueError(f"width {width} > {MAX_WIDTH}")
    if width in _ALIGNED:
        # direct narrowing cast from the native dtype (no uint64 detour);
        # int64 views as uint64 first to dodge the slow signed->unsigned
        # kernel, everything else casts straight to the target width
        v = values.view(np.uint64) if values.dtype == np.int64 else values
        return np.ascontiguousarray(v).astype(_ALIGNED[width],
                                              copy=False).tobytes()
    v = _as_u64(np.ascontiguousarray(values))
    nbytes = (n * width + 7) // 8
    out = np.zeros(nbytes + 16, dtype=np.uint8)  # slack: full-u64 writes
    for r in range(min(8, n)):
        vv = v[r::8]
        cnt = len(vv)
        start_bit = r * width
        off = start_bit & 7
        base = start_bit >> 3
        # wraps mod 2^64; the high part is handled below
        lo = (vv << np.uint64(off)).astype("<u8", copy=False)
        lo_bytes = lo.view(np.uint8).reshape(cnt, 8)
        nb = min((width + off + 7) // 8, 8)
        for k in range(nb):
            out[base + k::width][:cnt] |= lo_bytes[:, k]
        if width + off > 64:
            out[base + 8::width][:cnt] |= (
                vv >> np.uint64(64 - off)).astype(np.uint8)
    return out[:nbytes].tobytes()


def unpack(payload: bytes, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns uint64 array of length ``n``."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if width in _ALIGNED:
        return np.frombuffer(payload, dtype=_ALIGNED[width])[:n].astype(
            np.uint64)
    buf = np.frombuffer(payload, dtype=np.uint8)
    need = ((n - 1) * width) // 8 + 16
    if len(buf) < need:
        buf = np.concatenate([buf, np.zeros(need - len(buf), dtype=np.uint8)])
    out = np.empty(n, dtype=np.uint64)
    mask = np.uint64((1 << width) - 1)
    for r in range(min(8, n)):
        cnt = len(range(r, n, 8))
        start_bit = r * width
        off = start_bit & 7
        base = start_bit >> 3
        acc = np.zeros((cnt, 8), dtype=np.uint8)
        nb = min((width + off + 7) // 8, 8)
        for k in range(nb):
            acc[:, k] = buf[base + k::width][:cnt]
        val = acc.view("<u8").reshape(cnt) >> np.uint64(off)
        if width + off > 64:
            val |= (buf[base + 8::width][:cnt].astype(np.uint64)
                    << np.uint64(64 - off))
        out[r::8] = val & mask
    return out


def _warmup() -> None:
    """Touch every lazily-initialized numpy cast kernel this module (and the
    codecs built on it) uses. numpy initializes cast loops on first use — the
    first int64->uint64 astype in a process can cost seconds — so each Spark
    Python worker pays this once here, on 16 values, instead of on its first
    multi-million-value chunk."""
    a = np.arange(16, dtype=np.int64)
    for dt in (np.uint64, np.uint32, np.uint16, np.uint8, np.int32,
               np.int16, np.int8, np.float64):
        a.astype(dt)
    u = a.view(np.uint64)
    for dt in (np.uint8, np.uint16, np.uint32, np.int64):
        u.astype(dt)
    a.astype(np.int32).astype(np.int64)
    for w in (3, 8, 13, 16, 21, 32, 40, 57, 63, 64):
        unpack(pack(a, w), w, len(a))


_warmup()
