"""Column encoders/decoders: pyarrow arrays <-> framed codec blobs.

One *column chunk* = one column of one Arrow batch, mirroring the
reference's row-group/column-chunk decode unit
(``ParquetRowReader.java:105-118`` pulls one row group at a time and decodes
it column chunk by column chunk). Encoders are zero-copy from Arrow buffers
into numpy and fully vectorized; the only Python-level iteration is over
frames (a handful per chunk), never over values.

Column kinds:
  int        frames: [validity?] [values]
  list_i32   frames: [offsets] [values]       (tokens: array<int32> not null)
  str_direct frames: [validity?] [offsets] [bytes]
  str_dict   frames: [validity?] [indices] [offsets] [bytes]   (dict strings)
  f32 / f64  frames: [validity?] [values]     values is a ``bytes``
             frame of raw floats (byte planes + zstd) or, when every
             value is a decimal at one exponent ``e`` <= 18 and it is
             smaller, a ``dec32``/``dec64`` int-cascade frame over the
             integers ``rint(v * 10**e)``, ``e`` in its params. The
             decoder also reads ``int32``/``int64`` cascade frames over
             the floats' bit patterns, which earlier builds wrote; builds
             that predate ``dec32``/``dec64`` raise on those

Any frame payload may additionally be zstd-compressed when that wins by
>4%: ``params["z"]`` is ``"zs"`` for zstd over the payload or ``"zp"``
for zstd over its byte-plane transposition (stride ``params["ps"]``) —
a general-purpose outer stage on top of the lightweight codec, analogous
to Parquet's SNAPPY/GZIP/ZSTD block compression on top of PLAIN/RLE/DICT
pages (the reference reads such files:
``compat/TestParquetCompatibility.java:52-57``).

Written codecs: int frames plain/for/delta/dict/xp, byte frames
``bytes_plain``. Read only, for frames earlier builds wrote: ``rle`` and
``rans`` int frames, ``fsst`` byte frames, the zlib outer stage
(``"z": 1``) and the ``int32``/``int64`` float bit-pattern frames.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from ..codecs import framing
from ..codecs.intcodecs import INT_DECODERS
from .select import encode_best

_COMPRESS_GAIN = 0.96
# level 1, not 3: measured on the bench corpus (interleaved best-of-4,
# 2.8M-token batches) level 1 is BOTH ~27% faster and slightly smaller
# than level 3 on bit-packed plane-transposed payloads (1.2529 vs 1.2764
# B/token) — zstd's higher levels buy nothing on already-packed entropy
_ZSTD = pa.Codec("zstd", compression_level=1)

def _plane_transpose(payload: bytes, stride: int) -> bytes:
    """Byte-plane shuffle: [v0b0 v0b1 v1b0 v1b1 ...] -> all b0s, all b1s.

    For fixed-stride packed integers this groups the near-constant high
    bytes together, which a general-purpose compressor then squeezes far
    better — the same trick as Parquet's BYTE_STREAM_SPLIT encoding, on
    the write side of the codecs the reference decodes."""
    a = np.frombuffer(payload, dtype=np.uint8)
    usable = (len(a) // stride) * stride
    return (a[:usable].reshape(-1, stride).T.tobytes()
            + a[usable:].tobytes())


def _plane_untranspose(data: bytes, stride: int) -> bytes:
    a = np.frombuffer(data, dtype=np.uint8)
    usable = (len(a) // stride) * stride
    return (a[:usable].reshape(stride, -1).T.tobytes()
            + a[usable:].tobytes())


def _maybe_compress(payload: bytes, params: dict,
                    stride: int = 1) -> tuple[bytes, dict]:
    """Optional outer general-purpose stage on top of the lightweight codec
    (analogous to Parquet's SNAPPY/GZIP block compression, which the
    reference reads: ``compat/TestParquetCompatibility.java:52-57``).
    Tries zstd on the raw payload and, for byte-aligned fixed-stride
    payloads, on its byte-plane transposition; keeps the best if it wins
    by >4%."""
    if len(payload) <= 256:
        return payload, params
    best_tag, best = None, payload
    if stride > 1:
        # planes beat raw zstd on aligned integer payloads essentially
        # always (measured on the bench corpus); don't pay for both
        zp = bytes(_ZSTD.compress(_plane_transpose(payload, stride)))
        if len(zp) < len(best):
            best_tag, best = "zp", zp
    else:
        z = bytes(_ZSTD.compress(payload))
        if len(z) < len(best):
            best_tag, best = "zs", z
    if best_tag is None or len(best) >= _COMPRESS_GAIN * len(payload):
        return payload, params
    params = dict(params)
    params["z"] = best_tag
    params["zn"] = len(payload)  # pyarrow decompress needs the size
    if best_tag == "zp":
        params["ps"] = stride
    return best, params


def _decompress(frame: framing.Frame) -> bytes:
    z = frame.params.get("z")
    if not z:
        return frame.payload
    if z == 1:  # legacy zlib frames
        return zlib.decompress(frame.payload)
    data = bytes(_ZSTD.decompress(frame.payload, frame.params["zn"]))
    if z == "zp":
        data = _plane_untranspose(data, frame.params["ps"])
    return data


def _codec_stride(codec: str, params: dict) -> int:
    """Bytes per value of the packed payload, when byte-aligned."""
    if codec in ("for", "delta"):
        w = params.get("w", 0)
        if w in (16, 32, 64):
            return w // 8
    elif codec == "plain":
        dt = params.get("dt")
        if dt:
            return np.dtype(dt).itemsize
    return 1


def _int_frame(a: np.ndarray, dtype_name: str,
               extra: dict | None = None) -> bytes:
    """``extra`` params ride in the frame next to the codec's own."""
    codec, payload, params = encode_best(a)
    payload, params = _maybe_compress(payload, params,
                                      _codec_stride(codec, params))
    params.update(extra or {})
    return framing.write_frame(codec, dtype_name, len(a), params, payload)


def _decode_int_frame(frame: framing.Frame) -> np.ndarray:
    payload = _decompress(frame)
    vals = INT_DECODERS[frame.codec](payload, frame.params, frame.n)
    np_dtype = {"int8": np.int8, "int16": np.int16, "int32": np.int32,
                "int64": np.int64}[frame.dtype]
    return vals.astype(np_dtype)


def _bytes_frame(data: bytes) -> bytes:
    """Byte-payload frame: the raw bytes with the optional zstd stage."""
    payload, params = _maybe_compress(data, {})
    return framing.write_frame("bytes_plain", "bytes", len(data), params,
                               payload)


def _fsst_decode(payload: bytes, params: dict) -> bytes:
    """Decode an ``fsst`` frame (earlier builds wrote them): each code
    byte stands for one symbol, and codes never occur in a symbol."""
    for sym_hex, code in zip(params["syms"], params["codes"]):
        payload = payload.replace(bytes([code]), bytes.fromhex(sym_hex))
    return payload


def _decode_bytes_frame(frame: framing.Frame) -> bytes:
    payload = _decompress(frame)
    if frame.codec == "fsst":
        # bytes.replace needs bytes; frames may carry zero-copy views
        return _fsst_decode(bytes(payload), frame.params)
    return payload


def _validity_frame(mask_valid: np.ndarray) -> bytes:
    packed = np.packbits(mask_valid.astype(np.uint8), bitorder="little")
    payload, params = _maybe_compress(packed.tobytes(), {})
    return framing.write_frame("plain", "uint1", len(mask_valid), params,
                               payload)


def _decode_validity(frame: framing.Frame) -> np.ndarray:
    payload = _decompress(frame)
    bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8),
                         bitorder="little")
    return bits[: frame.n].astype(bool)


# --- public: per-column encode/decode ----------------------------------------

_INT_DTYPES = {pa.int8(): "int8", pa.int16(): "int16",
               pa.int32(): "int32", pa.int64(): "int64"}


def encode_int_column(arr: pa.Array) -> tuple[str, bytes]:
    dtype_name = _INT_DTYPES[arr.type]
    blob = b""
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        blob += _validity_frame(valid)
        arr = arr.fill_null(0)
    a = arr.to_numpy(zero_copy_only=False)
    blob += _int_frame(a, dtype_name)
    return "int", blob


def _decode_int_frames(frames: list[framing.Frame]) -> pa.Array:
    valid = None
    if frames[0].dtype == "uint1":
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    vals = _decode_int_frame(frames[0])
    if valid is None:
        return pa.array(vals)
    return pa.array(np.ma.masked_array(vals, mask=~valid))


def decode_int_column(blob) -> pa.Array:
    return _decode_int_frames(framing.read_frames(blob))


# --- temporal (date/time/timestamp/duration) via the int cascade ------------

def _temporal_token(t: pa.DataType) -> dict:
    if pa.types.is_timestamp(t):
        return {"t": "timestamp", "u": t.unit, "tz": t.tz}
    if pa.types.is_date32(t):
        return {"t": "date32"}
    if pa.types.is_date64(t):
        return {"t": "date64"}
    if pa.types.is_time32(t):
        return {"t": "time32", "u": t.unit}
    if pa.types.is_time64(t):
        return {"t": "time64", "u": t.unit}
    if pa.types.is_duration(t):
        return {"t": "duration", "u": t.unit}
    raise TypeError(f"not a temporal type: {t}")


def _temporal_type(tok: dict) -> pa.DataType:
    k = tok["t"]
    if k == "timestamp":
        return pa.timestamp(tok["u"], tz=tok.get("tz"))
    if k == "date32":
        return pa.date32()
    if k == "date64":
        return pa.date64()
    if k == "time32":
        return pa.time32(tok["u"])
    if k == "time64":
        return pa.time64(tok["u"])
    if k == "duration":
        return pa.duration(tok["u"])
    raise ValueError(f"bad temporal token: {tok}")


def _temporal_storage(t: pa.DataType) -> pa.DataType:
    return (pa.int32() if pa.types.is_date32(t) or pa.types.is_time32(t)
            else pa.int64())


def temporal_int_view(arr: pa.Array) -> pa.Array:
    """Zero-copy reinterpretation of a temporal array as storage ints
    (also used for zone-map stats on temporal columns)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.view(_temporal_storage(arr.type))


def encode_temporal_column(arr: pa.Array) -> tuple[str, bytes]:
    """Dates/timestamps/durations are epoch integers under the hood: route
    them through the int codec cascade (FOR/delta compress time-ordered
    data heavily) instead of the opaque IPC fallback, with the exact Arrow
    type in a leading descriptor frame. Write-side inversion of the
    reference's dedicated temporal decode paths
    (``ParquetValueConverter.java:170-234``, INT96 handling included —
    pyarrow surfaces INT96 as ``timestamp[ns]``, which lands here)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    tok = _temporal_token(arr.type)
    head = framing.write_frame("plain", "bytes", 0, {"tt": tok}, b"")
    _, int_blob = encode_int_column(temporal_int_view(arr))
    return "temporal", head + int_blob


def decode_temporal_column(blob) -> pa.Array:
    frames = framing.read_frames(blob)
    tok = frames[0].params["tt"]
    return _decode_int_frames(frames[1:]).view(_temporal_type(tok))


# --- decimal128 with int64-range unscaled values via the int cascade --------

def encode_decimal_column(arr: pa.Array) -> tuple[str, bytes]:
    """decimal128 through the int cascade, (precision, scale) in a
    descriptor frame — the write-side inversion of
    ``ParquetDecimalConverter.java:34-177`` (int32/int64/binary-backed
    decimal decode, arbitrary-precision sign extension at ``:89-126``).
    When every unscaled value fits 64 bits (hi word is lo's sign
    extension) only the low plane is stored (``dec64``); otherwise both
    planes encode separately (``dec128``) — the hi plane of realistic
    wide-decimal data is still low-entropy (near the sign extension), so
    FOR/delta + zstd crush it where the r2 IPC fallback stored raw 16-byte
    values (VERDICT r2 #8)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    valid = None
    work = arr
    if arr.null_count:
        import decimal as _dec
        valid = np.asarray(arr.is_valid())
        work = arr.fill_null(_dec.Decimal(0))
    # decimal128 storage: per value 16 bytes little-endian two's complement
    # -> int64 pairs (lo, hi); the value fits 64 bits iff hi is lo's sign
    # extension
    buf = np.frombuffer(work.buffers()[1], dtype=np.int64)
    lo = buf[2 * work.offset::2][: len(work)]
    hi = buf[2 * work.offset + 1::2][: len(work)]
    narrow = np.array_equal(hi, lo >> 63)
    blob = framing.write_frame("plain", "bytes", 0,
                               {"p": t.precision, "s": t.scale}, b"")
    if valid is not None:
        blob += _validity_frame(valid)
    blob += _int_frame(np.ascontiguousarray(lo), "int64")
    if narrow:
        return "dec64", blob
    blob += _int_frame(np.ascontiguousarray(hi), "int64")
    return "dec128", blob


def decode_decimal_column(blob) -> pa.Array:
    frames = framing.read_frames(blob)
    p, s = frames[0].params["p"], frames[0].params["s"]
    frames = frames[1:]
    valid = None
    if frames[0].dtype == "uint1":
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    lo = _decode_int_frame(frames[0])
    inter = np.empty(2 * len(lo), dtype=np.int64)
    inter[0::2] = lo
    inter[1::2] = (_decode_int_frame(frames[1]) if len(frames) > 1
                   else lo >> 63)
    vbuf = None
    if valid is not None:
        vbuf = pa.py_buffer(np.packbits(valid.astype(np.uint8),
                                        bitorder="little").tobytes())
    return pa.Array.from_buffers(pa.decimal128(p, s), len(lo),
                                 [vbuf, pa.py_buffer(inter.tobytes())])


def encode_list_i32_column(arr: pa.Array) -> tuple[str, bytes]:
    if arr.null_count:
        raise ValueError("list_i32 encoder requires non-null lists "
                         "(input_hint: tokens array<int32> not null)")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)
    vals = vals[offs[0]: offs[-1]]
    offs = offs - offs[0]
    blob = _int_frame(offs, "int64") + _int_frame(
        np.ascontiguousarray(vals, dtype=np.int32), "int32")
    return "list_i32", blob


def decode_list_i32_column(blob: bytes) -> pa.Array:
    off_frame, val_frame = framing.read_frames(blob)
    offs = _decode_int_frame(off_frame).astype(np.int32)
    vals = _decode_int_frame(val_frame)
    return pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()),
                                    pa.array(vals, type=pa.int32()))


def encode_string_column(arr: pa.Array) -> tuple[str, bytes]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    blob = b""
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        blob += _validity_frame(valid)
        arr = arr.fill_null("")
    darr = arr.dictionary_encode()
    card = len(darr.dictionary)
    n = len(arr)
    if card < 0.6 * n:
        indices = darr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        sub_offs, sub_bytes = _string_buffers(darr.dictionary)
        blob += _int_frame(indices, "int64")
        blob += _int_frame(sub_offs, "int64")
        blob += _bytes_frame(sub_bytes)
        return "str_dict", blob
    offs, data = _string_buffers(arr)
    blob += _int_frame(offs, "int64") + _bytes_frame(data)
    return "str_direct", blob


def _string_buffers(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    arr = arr.cast(pa.large_string())
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    data = data_buf.to_pybytes()[offs[0]: offs[-1]] if data_buf else b""
    return offs - offs[0], data


def decode_string_column(kind: str, blob: bytes) -> pa.Array:
    frames = framing.read_frames(blob)
    valid = None
    if frames[0].dtype == "uint1":
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    if kind == "str_dict":
        idx_f, off_f, bytes_f = frames
        indices = _decode_int_frame(idx_f)
        offs = _decode_int_frame(off_f)
        data = _decode_bytes_frame(bytes_f)
        dictionary = pa.Array.from_buffers(
            pa.large_string(), len(offs) - 1,
            [None, pa.py_buffer(offs.astype(np.int64).tobytes()),
             pa.py_buffer(data)])
        out = dictionary.take(pa.array(indices)).cast(pa.string())
    else:
        off_f, bytes_f = frames
        offs = _decode_int_frame(off_f)
        data = _decode_bytes_frame(bytes_f)
        out = pa.Array.from_buffers(
            pa.large_string(), len(offs) - 1,
            [None, pa.py_buffer(offs.astype(np.int64).tobytes()),
             pa.py_buffer(data)]).cast(pa.string())
    if valid is not None:
        out = pa.compute.if_else(pa.array(valid), out,
                                 pa.nulls(len(out), type=out.type))
    return out


_FLOAT_DTYPES = {pa.float32(): ("f32", np.float32),
                 pa.float64(): ("f64", np.float64)}

# decimal-scaled float frames (ALP, Afroozeh et al., SIGMOD 2023): a value
# v is stored as the integer rint(v * 10**e). Every 10**e here is exact
# in float64, and |rint(v * 10**e)| <= 2**53 keeps the integer exact as
# a float64 on decode.
_DEC_POW10 = 10.0 ** np.arange(19)
_DEC_MAX_INT = 2.0 ** 53
_DEC_SAMPLE = 32


def _dec_unscale(ints: np.ndarray, e, np_dtype) -> np.ndarray:
    """The decimal frame's decode: float64 division, then the column's
    width. The encoder keeps a chunk only if this gives back its bits."""
    return (ints / _DEC_POW10[e]).astype(np_dtype, copy=False)


def _dec_round(v: np.ndarray, e) -> np.ndarray:
    """rint(v * 10**e), computed in float64 for either width."""
    with np.errstate(over="ignore", invalid="ignore"):  # inf and NaN
        x = np.multiply(v, _DEC_POW10[e], dtype=np.float64)
    return np.rint(x, out=x)


def _dec_exact(v: np.ndarray, e) -> tuple[np.ndarray, np.ndarray]:
    """(ok, ints): ``ints = rint(v * 10**e)``, and ``ok`` where a value
    decodes from its integer bit for bit. ``e`` is an exponent or a slice
    of them, broadcast against ``v`` (a column of values for a slice)."""
    x = _dec_round(v, e)
    ok = np.abs(x) <= _DEC_MAX_INT
    ints = np.where(ok, x, 0.0).astype(np.int64)
    ubits = v.dtype.str.replace("f", "u")
    ok &= _dec_unscale(ints, e, v.dtype).view(ubits) == v.view(ubits)
    return ok, ints


def _decimal_ints(a: np.ndarray) -> tuple[int, np.ndarray] | None:
    """(e, ints) for the smallest e in 0..18 at which every value of ``a``
    decodes bit for bit from ``ints = rint(a * 10**e)``, else None.

    Every e is tried at once on an evenly spaced sample, so a non-decimal
    chunk costs one small matrix, not 19 passes over the chunk. The whole
    chunk is checked at the smallest e the sample passes; up to 32 values
    that fail there are tried at every e at once, and the next check is
    at the smallest e that they and the sample pass. NaN and +-inf fail the
    range check; -0.0 and subnormals fail the bit check, as the integer 0
    decodes to +0.0."""
    s = a[::max(1, len(a) // _DEC_SAMPLE), None]
    passing = _dec_exact(s, slice(None))[0].all(axis=0)
    while passing.any():
        e = int(np.argmax(passing))
        ok, ints = _dec_exact(a, e)
        if ok.all():
            return e, ints
        failed = a[~ok][:_DEC_SAMPLE, None]
        passing &= _dec_exact(failed, slice(None))[0].all(axis=0)
    return None


def encode_float_column(arr: pa.Array) -> tuple[str, bytes]:
    """float32/float64: the byte-plane frame, or a smaller decimal frame.

    The byte-plane frame (dtype ``bytes``) is the BYTE_STREAM_SPLIT trade
    for floating point: exponent/sign bytes compress, mantissa bytes
    don't. A chunk whose every value is a decimal at some exponent
    e <= 18 (prices, balances, rates: ``v == rint(v * 10**e) / 10**e``
    bit for bit, see ``_decimal_ints``) competes with a decimal frame
    (dtype ``dec32``/``dec64``, ``e`` in its params): the integers
    ``rint(v * 10**e)`` through the int codec cascade, kept by actual
    bytes. Both are bit-exact: NaN payloads and -0.0 survive as bits in
    the byte planes, and a chunk holding one (or an infinity) never
    takes a decimal frame."""
    kind, np_dtype = _FLOAT_DTYPES[arr.type]
    blob = b""
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        blob += _validity_frame(valid)
        arr = arr.fill_null(0.0)
    a = np.ascontiguousarray(arr.to_numpy(zero_copy_only=False),
                             dtype=np_dtype)
    payload, params = _maybe_compress(a.tobytes(), {"dt": a.dtype.str},
                                      a.dtype.itemsize)
    frame = framing.write_frame("plain", "bytes", len(a), params, payload)
    decimal = _decimal_ints(a)
    if decimal is not None:
        e, ints = decimal
        cascade = _int_frame(ints, f"dec{8 * a.itemsize}", extra={"e": e})
        if len(cascade) < len(frame):
            frame = cascade
    return kind, blob + frame


def _decode_decimal_frame(frame: framing.Frame) -> np.ndarray:
    e = frame.params.get("e")
    # the CRC covers the payload only: a bad exponent must not scale
    if type(e) is not int or not 0 <= e < len(_DEC_POW10):
        raise framing.FrameError(f"bad decimal exponent {e!r}")
    dec = INT_DECODERS[frame.codec]
    ints = dec(_decompress(frame), frame.params, frame.n).astype(
        np.int64, copy=False)
    return _dec_unscale(ints, e, np.float32 if frame.dtype == "dec32"
                        else np.float64)


def decode_float_column(kind: str, blob: bytes) -> pa.Array:
    frames = framing.read_frames(blob)
    valid = None
    if frames[0].dtype == "uint1":
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    if frames[0].dtype == "bytes":
        data = _decompress(frames[0])
        vals = np.frombuffer(data, dtype=np.dtype(frames[0].params["dt"]))
    elif frames[0].dtype in ("dec32", "dec64"):
        vals = _decode_decimal_frame(frames[0])
    else:  # int32/int64 over the bit patterns, as earlier builds wrote
        bits = _decode_int_frame(frames[0])
        vals = bits.view(f"<f{bits.itemsize}")
    if valid is None:
        return pa.array(vals)
    return pa.array(np.ma.masked_array(vals, mask=~valid))


def encode_list_f32_column(arr: pa.Array) -> tuple[str, bytes]:
    """list<float> (embedding columns): offsets frame + float payload."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("list_f32 encoder requires non-null lists")
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False)
    vals = np.ascontiguousarray(vals[offs[0]: offs[-1]], dtype=np.float32)
    offs = offs - offs[0]
    payload, params = _maybe_compress(vals.tobytes(), {"dt": "<f4"}, 4)
    blob = _int_frame(offs, "int64") + framing.write_frame(
        "plain", "bytes", len(vals), params, payload)
    return "list_f32", blob


def decode_list_f32_column(blob: bytes) -> pa.Array:
    off_frame, val_frame = framing.read_frames(blob)
    offs = _decode_int_frame(off_frame).astype(np.int32)
    vals = np.frombuffer(_decompress(val_frame), dtype=np.float32)
    return pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()),
                                    pa.array(vals, type=pa.float32()))


def encode_bool_column(arr: pa.Array) -> tuple[str, bytes]:
    """Booleans: bit-packed values (+ validity), both through the optional
    zstd stage — 1 bit/value before compression, like Parquet's BOOLEAN
    PLAIN encoding on the write side."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    blob = b""
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        blob += _validity_frame(valid)
        arr = arr.fill_null(False)
    vals = np.asarray(arr)  # bool ndarray, offset-correct
    packed = np.packbits(vals.astype(np.uint8), bitorder="little")
    payload, params = _maybe_compress(packed.tobytes(), {})
    blob += framing.write_frame("plain", "uint1", len(vals), params, payload)
    return "bool", blob


def decode_bool_column(blob) -> pa.Array:
    frames = framing.read_frames(blob)
    valid = None
    if len(frames) == 2:
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    vals = _decode_validity(frames[0])  # same unpackbits shape
    if valid is None:
        return pa.array(vals)
    return pa.array(np.ma.masked_array(vals, mask=~valid))


def encode_binary_column(arr: pa.Array) -> tuple[str, bytes]:
    """binary/large_binary: offsets + byte payload, the string encoder's
    machinery without utf-8 semantics (no dictionary probe — opaque blobs
    rarely repeat; the bytes stage is the plain frame + optional zstd)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    blob = b""
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        blob += _validity_frame(valid)
        arr = arr.fill_null(b"")
    larr = arr.cast(pa.large_binary())
    offs = np.frombuffer(larr.buffers()[1], dtype=np.int64)[
        larr.offset: larr.offset + len(larr) + 1].astype(np.int64)
    data_buf = larr.buffers()[2]
    data = data_buf.to_pybytes()[offs[0]: offs[-1]] if data_buf else b""
    blob += _int_frame(offs - offs[0], "int64") + _bytes_frame(data)
    return "bin", blob


def decode_binary_column(blob) -> pa.Array:
    frames = framing.read_frames(blob)
    valid = None
    if frames[0].dtype == "uint1":
        valid = _decode_validity(frames[0])
        frames = frames[1:]
    offs = _decode_int_frame(frames[0])
    data = _decode_bytes_frame(frames[1])
    out = pa.Array.from_buffers(
        pa.large_binary(), len(offs) - 1,
        [None, pa.py_buffer(offs.astype(np.int64).tobytes()),
         pa.py_buffer(data)]).cast(pa.binary())
    if valid is not None:
        out = pa.compute.if_else(pa.array(valid), out,
                                 pa.nulls(len(out), type=out.type))
    return out


_UINT_DTYPES = {pa.uint8(): "uint8", pa.uint16(): "uint16",
                pa.uint32(): "uint32", pa.uint64(): "uint64"}


def encode_uint_column(arr: pa.Array) -> tuple[str, bytes]:
    """Unsigned ints ride the signed int cascade: uint8/16/32 widen
    losslessly to int64; uint64 reinterprets bit-wise (the cascade
    round-trips any int64 exactly, so wraparound is harmless). Original
    type in a descriptor frame."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    tname = _UINT_DTYPES[arr.type]
    head = framing.write_frame("plain", "bytes", 0, {"ut": tname}, b"")
    work = arr.view(pa.int64()) if arr.type == pa.uint64() \
        else arr.cast(pa.int64())
    _, int_blob = encode_int_column(work)
    return "uint", head + int_blob


def decode_uint_column(blob) -> pa.Array:
    frames = framing.read_frames(blob)
    tname = frames[0].params["ut"]
    target = {v: k for k, v in _UINT_DTYPES.items()}[tname]
    vals = _decode_int_frames(frames[1:])
    if tname == "uint64":
        return vals.view(pa.uint64())
    return vals.cast(target)


# --- nested types: recursive shred through the codec cascade -----------------

def _type_blob(t: pa.DataType) -> bytes:
    return pa.schema([pa.field("c", t)]).serialize().to_pybytes()


def _type_from_blob(buf) -> pa.DataType:
    return pa.ipc.read_schema(pa.py_buffer(bytes(buf))).field(0).type


def encode_nested_column(arr: pa.Array) -> tuple[str, bytes]:
    """struct / list / large_list / map / fixed_size_list, decomposed
    field-wise: validity + offsets + each child recursively through
    ``encode_column`` — so the leaves of an arbitrarily nested column get
    the same lightweight codecs as top-level columns (FOR/delta ints,
    dictionary strings, floats as byte planes or through the int cascade
    on their decimal integers), where the r2 Arrow-IPC
    fallback got zero codec wins. Write-side inversion of the reference's
    field-by-field nested decode (``ParquetValueConverter.java:282-337``
    struct, ``:513-596`` lists incl. legacy layouts, ``:598-679`` maps,
    ``:685-835`` repeated; VERDICT r2 #1).

    Blob layout: descriptor frame (payload = serialized single-field
    schema for exact type reconstruction; params carry child kinds +
    blob lengths), optional validity frame, then the child blobs.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    parts: list[tuple[str, bytes]] = []
    if pa.types.is_struct(t):
        for i in range(t.num_fields):
            parts.append(encode_column(arr.field(i)))
    elif (pa.types.is_list(t) or pa.types.is_large_list(t)
          or pa.types.is_map(t)):
        offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        values = arr.values[int(offs[0]): int(offs[-1])]
        _, off_blob = encode_int_column(
            pa.array(offs - offs[0], type=pa.int64()))
        parts.append(("int", off_blob))
        parts.append(encode_column(values))
    elif pa.types.is_fixed_size_list(t):
        ls = t.list_size
        values = arr.values[arr.offset * ls: (arr.offset + len(arr)) * ls]
        parts.append(encode_column(values))
    else:
        raise TypeError(f"not a nested type: {t}")
    has_validity = arr.null_count > 0
    head = framing.write_frame(
        "plain", "bytes", len(arr),
        {"nk": [k for k, _ in parts], "nl": [len(b) for _, b in parts],
         "nv": int(has_validity)},
        _type_blob(t))
    blob = head
    if has_validity:
        blob += _validity_frame(np.asarray(arr.is_valid()))
    for _, child_blob in parts:
        blob += child_blob
    return "nested", blob


def decode_nested_column(blob) -> pa.Array:
    if not isinstance(blob, bytes):
        blob = memoryview(blob)
    head, pos = framing.read_frame(blob, 0)
    t = _type_from_blob(head.payload)
    n = head.n
    kinds, lens = head.params["nk"], head.params["nl"]
    vbuf = None
    if head.params["nv"]:
        vframe, pos = framing.read_frame(blob, pos)
        valid = _decode_validity(vframe)
        vbuf = pa.py_buffer(np.packbits(valid.astype(np.uint8),
                                        bitorder="little").tobytes())
    children = []
    for kind, ln in zip(kinds, lens):
        children.append(decode_column(kind, blob[pos: pos + ln]))
        pos += ln
    if pa.types.is_struct(t):
        fields = [c.cast(t.field(i).type) if c.type != t.field(i).type else c
                  for i, c in enumerate(children)]
        return pa.Array.from_buffers(t, n, [vbuf], children=fields)
    if pa.types.is_list(t) or pa.types.is_map(t):
        offs = children[0].cast(pa.int32())
        values = children[1]
        if not pa.types.is_map(t) and values.type != t.value_type:
            values = values.cast(t.value_type)
        obuf = pa.py_buffer(offs.to_numpy(zero_copy_only=False)
                            .astype(np.int32).tobytes())
        return pa.Array.from_buffers(t, n, [vbuf, obuf], children=[values])
    if pa.types.is_large_list(t):
        values = children[1]
        if values.type != t.value_type:
            values = values.cast(t.value_type)
        obuf = pa.py_buffer(children[0].to_numpy(zero_copy_only=False)
                            .astype(np.int64).tobytes())
        return pa.Array.from_buffers(t, n, [vbuf, obuf], children=[values])
    if pa.types.is_fixed_size_list(t):
        values = children[0]
        if values.type != t.value_type:
            values = values.cast(t.value_type)
        return pa.Array.from_buffers(t, n, [vbuf], children=[values])
    raise TypeError(f"not a nested type: {t}")


def encode_arrow_ipc_column(arr: pa.Array) -> tuple[str, bytes]:
    """Universal fallback: any Arrow type (structs, maps, nested lists,
    decimals, timestamps — the reference's full §1.2 type matrix) as a
    zstd-compressed Arrow IPC stream. Bit-exact round-trip for every type
    Arrow can represent; no lightweight-codec wins, but never a refusal."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    sink = pa.BufferOutputStream()
    batch = pa.RecordBatch.from_arrays([arr], names=["c"])
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    data = sink.getvalue().to_pybytes()
    payload, params = _maybe_compress(data, {})
    return "arrow", framing.write_frame("plain", "bytes", len(arr), params,
                                        payload)


def decode_arrow_ipc_column(blob) -> pa.Array:
    frame = framing.read_frames(blob)[0]
    data = _decompress(frame)
    with pa.ipc.open_stream(pa.py_buffer(data)) as r:
        batches = list(r)
    return pa.concat_arrays([b.column(0) for b in batches])


ENCODERS = {
    "int": encode_int_column,
    "list_i32": encode_list_i32_column,
    "str": encode_string_column,
    "f32": encode_float_column,
    "f64": encode_float_column,
    "list_f32": encode_list_f32_column,
    "temporal": encode_temporal_column,
    "dec64": encode_decimal_column,
    "dec128": encode_decimal_column,
    "bool": encode_bool_column,
    "bin": encode_binary_column,
    "uint": encode_uint_column,
    "nested": encode_nested_column,
    "arrow": encode_arrow_ipc_column,
}

_NESTED_CHECK = (pa.types.is_struct, pa.types.is_list, pa.types.is_large_list,
                 pa.types.is_map, pa.types.is_fixed_size_list)


def encode_column(arr: pa.Array) -> tuple[str, bytes]:
    """Dispatch on Arrow type; returns (kind, blob).

    Covers the reference's type matrix (§1.2 of SURVEY.md): specialized
    lightweight-codec paths for the shapes that dominate token corpora;
    nested types (struct/map/list-of-anything — the converter families at
    ``ParquetValueConverter.java:282-835``) shred recursively so their
    leaves reach the same codecs, with the bit-exact Arrow IPC stream kept
    as a per-chunk *competitor* (smaller of the two wins — the same
    pick-best philosophy as the int-codec cascade, so pathological nested
    shapes can never regress below the r2 fallback); IPC alone for the
    long tail (unions, dictionaries, ...)."""
    t = arr.type
    if t in _INT_DTYPES:
        return encode_int_column(arr)
    # the flat list codecs keep no validity, of lists or of elements
    flat_list = (pa.types.is_list(t) and arr.null_count == 0
                 and arr.flatten().null_count == 0)
    if flat_list and t.value_type == pa.int32():
        return encode_list_i32_column(arr)
    if flat_list and t.value_type == pa.float32():
        return encode_list_f32_column(arr)
    if t in _FLOAT_DTYPES:
        return encode_float_column(arr)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return encode_string_column(arr)
    if (pa.types.is_date(t) or pa.types.is_time(t)
            or pa.types.is_timestamp(t) or pa.types.is_duration(t)):
        return encode_temporal_column(arr)
    if pa.types.is_boolean(t):
        return encode_bool_column(arr)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return encode_binary_column(arr)
    if t in _UINT_DTYPES:
        return encode_uint_column(arr)
    if pa.types.is_decimal128(t):
        return encode_decimal_column(arr)
    if any(chk(t) for chk in _NESTED_CHECK):
        kind, blob = encode_nested_column(arr)
        ipc_kind, ipc_blob = encode_arrow_ipc_column(arr)
        return (kind, blob) if len(blob) <= len(ipc_blob) \
            else (ipc_kind, ipc_blob)
    return encode_arrow_ipc_column(arr)


def decode_column(kind: str, blob: bytes) -> pa.Array:
    if kind == "int":
        return decode_int_column(blob)
    if kind in ("f32", "f64"):
        return decode_float_column(kind, blob)
    if kind == "list_f32":
        return decode_list_f32_column(blob)
    if kind == "arrow":
        return decode_arrow_ipc_column(blob)
    if kind == "list_i32":
        return decode_list_i32_column(blob)
    if kind in ("str_direct", "str_dict"):
        return decode_string_column(kind, blob)
    if kind == "temporal":
        return decode_temporal_column(blob)
    if kind in ("dec64", "dec128"):
        return decode_decimal_column(blob)
    if kind == "bool":
        return decode_bool_column(blob)
    if kind == "bin":
        return decode_binary_column(blob)
    if kind == "uint":
        return decode_uint_column(blob)
    if kind == "nested":
        return decode_nested_column(blob)
    raise NotImplementedError(f"no decoder for kind {kind}")
