"""Integer codec kernels: plain, frame-of-reference, delta, dictionary,
exception-plane.

Each codec has ``encode(arr) -> (payload, params)`` and
``decode(payload, params, n) -> np.ndarray(int64)``. All are pure numpy
(Arrow-batch friendly, no per-value Python), matching the codec vocabulary
the reference decodes from Parquet column chunks (PLAIN, PLAIN_DICTIONARY,
RLE, BIT_PACKED — see the ``ENC:`` lines in
``parquet-msgpack/src/test/resources/test-data/*/*.meta`` and the
dictionary-expansion decode path in
``parquet-msgpack/src/main/java/jp/co/cyberagent/parquet/msgpack/read/
converter/ParquetStringConverter.java:44-57``). ``rle`` and ``rans``
(``codecs/rans.py``) are decode-only: earlier builds wrote them. ``rle``
saved under 0.001% on the one corpus it won; the opt-in ``rans`` mode
saved 0–4% at a 40–50x slower encode.

Values are treated as signed 64-bit; the caller (column encoder) records the
original dtype and casts back after decode.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import _rans_c, bitpack
from .rans import rans_decode

_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)


def _as_i64(arr: np.ndarray) -> np.ndarray:
    return arr.astype(np.int64, copy=False)


def _range_ok(vmin: int, vmax: int) -> bool:
    """True when (vmax - vmin) fits an unsigned 63-bit shift-safe range."""
    return (int(vmax) - int(vmin)) < _I64_MAX


# --- plain (stores the array's native dtype, not widened int64) -------------

def plain_encode(arr: np.ndarray) -> tuple[bytes, dict]:
    return arr.tobytes(), {"dt": arr.dtype.str}


def plain_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    raw = np.frombuffer(payload, dtype=np.dtype(params["dt"]))[:n]
    return raw.astype(np.int64)


# --- frame-of-reference (FOR): subtract min, bit-pack the deltas ------------

def for_encode(arr: np.ndarray) -> tuple[bytes, dict]:
    if len(arr) == 0:
        return b"", {"min": 0, "w": 0}
    vmin = int(arr.min())
    vmax = int(arr.max())
    if not _range_ok(vmin, vmax):
        raise OverflowError("FOR range exceeds 63 bits")
    w = bitpack.bit_width(vmax - vmin)
    if arr.dtype == np.int32 and vmax - vmin < 2 ** 31:
        # int32 fast path: subtract in int32, reinterpret unsigned — half
        # the memory traffic of the int64 route on the hottest input shape
        deltas = (arr - np.int32(vmin)).view(np.uint32)
    else:
        deltas = (_as_i64(arr) - vmin).view(np.uint64)
    return bitpack.pack(deltas, w), {"min": vmin, "w": w}


def for_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    deltas = bitpack.unpack(payload, params["w"], n)
    return (deltas.view(np.int64) + np.int64(params["min"]))


# --- delta: zigzag(diff) bit-packed; ideal for sorted ids / offsets ----------

def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).view(np.int64)) ^ -((u & np.uint64(1)).view(np.int64))


def delta_encode(arr: np.ndarray) -> tuple[bytes, dict]:
    a = _as_i64(arr)
    if len(a) == 0:
        return b"", {"first": 0, "w": 0}
    first = int(a[0])
    diffs = np.diff(a)
    if len(diffs) == 0:
        return b"", {"first": first, "w": 0}
    zz = _zigzag(diffs)
    w = bitpack.bit_width(int(zz.max()))
    return bitpack.pack(zz, w), {"first": first, "w": w}


def delta_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    diffs = _unzigzag(bitpack.unpack(payload, params["w"], n - 1))
    out = np.empty(n, dtype=np.int64)
    out[0] = params["first"]
    np.cumsum(diffs, out=out[1:])
    out[1:] += params["first"]
    return out


# --- RLE: (value FOR-packed, run-length bit-packed) pairs; decode-only ------

def rle_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    runs = params["runs"]
    if runs == 0:
        return np.zeros(0, dtype=np.int64)
    vlen = params["vlen"]
    values = bitpack.unpack(payload[:vlen], params["vw"], runs).view(np.int64)
    values += np.int64(params["vmin"])
    lengths = bitpack.unpack(payload[vlen:], params["rw"], runs)
    return np.repeat(values, lengths.view(np.int64))[:n]


# --- dictionary: unique values FOR-packed + inverse indices bit-packed --------

def dict_encode(arr: np.ndarray) -> tuple[bytes, dict]:
    a = _as_i64(arr)
    if len(a) == 0:
        return b"", {"card": 0, "iw": 0, "dmin": 0, "dw": 0, "dlen": 0}
    uniq, inv = np.unique(a, return_inverse=True)
    card = len(uniq)
    dmin = int(uniq[0])
    dmax = int(uniq[-1])
    if not _range_ok(dmin, dmax):
        raise OverflowError("dict value range exceeds 63 bits")
    dw = bitpack.bit_width(dmax - dmin)
    dpay = bitpack.pack((uniq - dmin).view(np.uint64), dw)
    iw = bitpack.bit_width(card - 1)
    ipay = bitpack.pack(inv.astype(np.int64, copy=False).view(np.uint64), iw)
    params = {"card": card, "iw": iw, "dmin": dmin, "dw": dw, "dlen": len(dpay)}
    return dpay + ipay, params


def dict_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    card = params["card"]
    if card == 0:
        return np.zeros(0, dtype=np.int64)
    dlen = params["dlen"]
    uniq = bitpack.unpack(payload[:dlen], params["dw"], card).view(np.int64)
    uniq += np.int64(params["dmin"])
    inv = bitpack.unpack(payload[dlen:], params["iw"], n).view(np.int64)
    return uniq[inv]


# --- exception-plane: low byte dense, high byte only where value >= 256 ------
#
# For skewed distributions with a heavy head under 256 (Zipfian token ids —
# the north rule's dominant payload) bit-packing to the full range width
# wastes most high bits on mostly-zero values AND destroys byte alignment,
# which hurts the outer zstd stage's match finding. Storing three
# byte-aligned streams — [low bytes of all values][exception bitmap]
# [high bytes of the >=256 minority] — is both smaller after zstd and ~2x
# faster to encode than 16-bit pack + byte-plane transpose (measured on the
# bench corpus: 1.163 vs 1.232 B/token, 37 vs 75 ms per 2.8M values).
#
# When the C module is available (codecs/_rans_c.py), both directions
# run fused single-pass kernels:
# encode 27 -> 9 ms and decode 51 -> 12 ms per 4.4M values (measured,
# best-of-7). The numpy code below stays the byte-exact reference and
# the no-compiler fallback; SPARK_GRAFT_NO_RANS_C=1 forces it.

def xp_encode(arr: np.ndarray, vmin: int | None = None,
              vmax: int | None = None) -> tuple[bytes, dict]:
    if len(arr) == 0:
        return b"", {"min": 0}
    if vmin is None or vmax is None:
        # numpy's SIMD reductions; select.encode_best passes the exact
        # full-array min/max its stats pass already computed
        vmin, vmax = int(arr.min()), int(arr.max())
    if vmax - vmin >= (1 << 16):
        raise OverflowError("exception-plane range exceeds 16 bits")
    if _rans_c.LIB is not None:
        # fused single-pass C split (one read of arr, all three planes
        # written streaming) vs five full-array numpy passes below;
        # byte-identical output, equality-tested in tests/test_codecs.py
        n = len(arr)
        nbm = (n + 7) // 8
        # one buffer holding [lo][bm][hi...]: the C kernel writes the
        # planes in place and the payload is a single truncating copy
        # (hi gets worst-case n-byte capacity; only k bytes survive)
        buf = np.empty(n + nbm + n, np.uint8)
        lo, bm, hi = buf[:n], buf[n:n + nbm], buf[n + nbm:]
        u8 = ctypes.c_uint8
        if arr.dtype == np.int32:
            a = np.ascontiguousarray(arr)
            k = _rans_c.LIB.xp_split_i32(
                n, _rans_c.as_ptr(a, ctypes.c_int32), vmin,
                _rans_c.as_ptr(lo, u8), _rans_c.as_ptr(bm, u8),
                _rans_c.as_ptr(hi, u8))
        else:
            a = np.ascontiguousarray(_as_i64(arr))
            k = _rans_c.LIB.xp_split_i64(
                n, _rans_c.as_ptr(a, ctypes.c_int64), vmin,
                _rans_c.as_ptr(lo, u8), _rans_c.as_ptr(bm, u8),
                _rans_c.as_ptr(hi, u8))
        return buf[:n + nbm + k].tobytes(), {"min": vmin}
    if arr.dtype == np.int32:
        u = (arr - np.int32(vmin)).astype(np.uint16)
    else:
        u = (_as_i64(arr) - vmin).astype(np.uint16)
    lo = (u & np.uint16(0xFF)).astype(np.uint8)
    big = u >= 256
    hi = (u[big] >> np.uint16(8)).astype(np.uint8)
    bm = np.packbits(big)
    return lo.tobytes() + bm.tobytes() + hi.tobytes(), {"min": vmin}


def xp_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    nbm = (n + 7) // 8
    if _rans_c.LIB is not None:
        # one-pass branchless C reassembly (the hi byte is read
        # unconditionally and masked by the bitmap bit, so the hi plane
        # is copied with one byte of padding — the copy is <= 16% of n
        # on the chunks that pick xp). ~4x the numpy gather path.
        lo = np.frombuffer(payload, dtype=np.uint8, count=n)
        bm = np.frombuffer(payload, dtype=np.uint8, count=nbm, offset=n)
        nexc = len(payload) - n - nbm
        hi = np.empty(nexc + 1, np.uint8)
        hi[:nexc] = np.frombuffer(payload, dtype=np.uint8, count=nexc,
                                  offset=n + nbm)
        out = np.empty(n, np.int64)
        u8 = ctypes.c_uint8
        _rans_c.LIB.xp_decode_fill(
            n, _rans_c.as_ptr(lo, u8), _rans_c.as_ptr(bm, u8),
            _rans_c.as_ptr(hi, u8), int(params["min"]),
            _rans_c.as_ptr(out, ctypes.c_int64))
        return out
    lo = np.frombuffer(payload, dtype=np.uint8, count=n)
    bits = np.unpackbits(
        np.frombuffer(payload, dtype=np.uint8, count=nbm, offset=n),
        count=n)
    hi = np.frombuffer(payload, dtype=np.uint8, offset=n + nbm)
    # densify the exception plane by cumsum-rank GATHER, not boolean
    # scatter (mask assignment measured 15.7ms vs 2.1ms gather per 2.8M
    # values on this host — 2x on the whole decode)
    if len(hi):
        ranks = np.cumsum(bits, dtype=np.int64)
        ranks -= 1
        if ranks[0] < 0:
            ranks[0] = 0
        hid = hi[ranks] * bits
    else:
        hid = bits  # no exceptions: high plane is all zeros
    u = np.empty(n, dtype="<u2")
    planes = u.view(np.uint8).reshape(-1, 2)
    planes[:, 0] = lo
    planes[:, 1] = hid
    return u.astype(np.int64) + np.int64(params["min"])


# --- registry ----------------------------------------------------------------

INT_CODECS = {
    "plain": (plain_encode, plain_decode),
    "for": (for_encode, for_decode),
    "delta": (delta_encode, delta_decode),
    "dict": (dict_encode, dict_decode),
    "xp": (xp_encode, xp_decode),
}

# every int codec a frame may name: the written ones plus the decode-only
INT_DECODERS = {name: dec for name, (_, dec) in INT_CODECS.items()}
INT_DECODERS["rle"] = rle_decode
INT_DECODERS["rans"] = rans_decode
