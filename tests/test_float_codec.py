"""f32/f64 chunks: the smaller of the byte-plane frame and the int-codec
cascade over the values' bit patterns, bit-exact either way."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from embulk_input_parquet_hadoop_spark.codecs import framing
from embulk_input_parquet_hadoop_spark.operators import encode as E

_UINT = {32: (np.uint32, pa.uint32(), np.float32, pa.float32()),
         64: (np.uint64, pa.uint64(), np.float64, pa.float64())}

# bit patterns equality-by-value gets wrong: quiet and signalling NaNs
# with payload bits, both zeros, both infinities, subnormals
_SPECIAL = {
    32: [0x7FC00000, 0x7FC00123, 0xFF800001, 0x80000000, 0x00000000,
         0x7F800000, 0xFF800000, 0x00000001, 0x007FFFFF, 0x807FFFFF],
    64: [0x7FF8000000000000, 0x7FF8000000000123, 0xFFF0000000000001,
         0x8000000000000000, 0x0000000000000000, 0x7FF0000000000000,
         0xFFF0000000000000, 0x0000000000000001, 0x000FFFFFFFFFFFFF,
         0x800FFFFFFFFFFFFF],
}


def _legacy_blob(arr: pa.Array) -> bytes:
    """The byte-plane layout every float chunk had before the cascade:
    [validity] + one ``plain``/``bytes`` frame."""
    np_dtype = _UINT[arr.type.bit_width][2]
    blob = b""
    if arr.null_count:
        blob += E._validity_frame(np.asarray(arr.is_valid()))
        arr = arr.fill_null(0.0)
    a = np.ascontiguousarray(arr.to_numpy(zero_copy_only=False),
                             dtype=np_dtype)
    payload, params = E._maybe_compress(a.tobytes(), {"dt": a.dtype.str},
                                        a.dtype.itemsize)
    return blob + framing.write_frame("plain", "bytes", len(a), params,
                                      payload)


def _bits_equal(decoded: pa.Array, original: pa.Array) -> bool:
    """Same type, same validity, same bits in every valid slot."""
    ubits = _UINT[original.type.bit_width][1]
    return (decoded.type == original.type
            and decoded.view(ubits).equals(original.view(ubits)))


@st.composite
def float_chunks(draw):
    width = draw(st.sampled_from([32, 64]))
    n = draw(st.integers(0, 3000))
    shape = draw(st.sampled_from(
        ["constant", "lowcard", "sorted", "random", "special"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    udt, _, fdt, patype = _UINT[width]
    special = np.array(_SPECIAL[width], dtype=udt)
    if shape == "random":
        bits = rng.integers(0, np.iinfo(udt).max, n, dtype=udt,
                            endpoint=True)
    elif shape == "sorted":
        bits = np.sort(rng.random(n) * 10.0 ** rng.integers(-3, 9)
                       ).astype(fdt).view(udt)
    elif shape == "special":
        bits = special[rng.integers(0, len(special), n)]
    else:
        card = 1 if shape == "constant" else int(rng.integers(2, 13))
        pool = np.concatenate([(rng.integers(0, 100, card) / 100.0)
                               .astype(fdt).view(udt), special])
        bits = rng.choice(pool[rng.permutation(len(pool))[:card]], n)
    if n and draw(st.booleans()):
        at = rng.integers(0, n, 1 + n // 100)
        bits[at] = special[rng.integers(0, len(special), len(at))]
    null_frac = draw(st.sampled_from([0.0, 0.0, 0.1, 0.5]))
    mask = rng.random(n) < null_frac if null_frac else None
    return pa.array(bits.view(fdt), type=patype, mask=mask)


@settings(max_examples=150, deadline=None)
@given(float_chunks())
def test_float_roundtrip_bit_exact_and_never_larger(arr):
    kind, blob = E.encode_column(arr)
    assert kind == ("f32" if arr.type == pa.float32() else "f64")
    assert _bits_equal(E.decode_column(kind, blob), arr)
    assert len(blob) <= len(_legacy_blob(arr))


def test_low_cardinality_floats_take_the_cascade():
    # an l_discount-shaped chunk: 11 distinct values
    rng = np.random.default_rng(11)
    for dt in (pa.float32(), pa.float64()):
        arr = pa.array(rng.integers(0, 11, 3000) / 100.0, type=dt)
        kind, blob = E.encode_column(arr)
        (frame,) = framing.read_frames(blob)
        assert frame.dtype == ("int32" if dt == pa.float32() else "int64")
        assert frame.codec == "dict"
        assert len(blob) * 3 < len(_legacy_blob(arr))
        assert _bits_equal(E.decode_column(kind, blob), arr)


def test_byte_plane_frame_kept_when_the_cascade_is_larger():
    # p_retailprice's TPC-H formula: the cascade picks dict from its
    # sample, and its frame comes out ~5x the byte-plane frame
    k = np.arange(1, 20001)
    arr = pa.array((90000 + (k // 10) % 20001 + 100 * (k % 1000)) / 100)
    kind, blob = E.encode_column(arr)
    (frame,) = framing.read_frames(blob)
    assert frame.dtype == "bytes"
    bits = np.asarray(arr).view(np.int64)
    assert len(E._int_frame(bits, "int64")) > 2 * len(blob)
    assert blob == _legacy_blob(arr)
    assert _bits_equal(E.decode_column(kind, blob), arr)


# byte-plane blobs as the encoder wrote them before float chunks could
# take the cascade; trees holding them must keep decoding
_PINNED = [
    # f64 [NaN with payload 0x123, -0.0, 1.5, inf]: raw, no outer stage
    ("f64",
     "4346010004040000000c00000020000000000000008219272f7b226474223a223c"
     "6638227d230100000000f87f0000000000000080000000000000f83f0000000000"
     "00f07f",
     [0x7FF8000000000123, 0x8000000000000000, 0x3FF8000000000000,
      0x7FF0000000000000]),
    # f32 [1.5, null, -2.25, null]: validity frame + raw values
    ("f32",
     "434601000504000000020000000100000000000000021b68a27b7d0543460100"
     "04040000000c00000010000000000000001c81bbe47b226474223a223c663422"
     "7d0000c03f00000000000010c000000000",
     [0x3FC00000, None, 0xC0100000, None]),
    # f64 arange(64) * 0.25: byte planes + zstd ("zp")
    ("f64",
     "43460100044000000025000000600000000000000039b415217b226474223a22"
     "3c6638222c227a223a227a70222c227a6e223a3531322c227073223a387d28b5"
     "2ffd600001b502007404000080d0e0e8f0f4f8fc00020406080a0c0e10111213"
     "1415161718191a1b1c1d1e1f20202121222223232424252526262727282829292a"
     "2a2b2b2c2c2d2d2e2e2f2f003f3f40400400030705209c5c23b8548005",
     (np.arange(64) * 0.25).view(np.uint64).tolist()),
]


def test_pinned_byte_plane_blobs_still_decode():
    for kind, hexblob, want_bits in _PINNED:
        width = 32 if kind == "f32" else 64
        udt, ubits, fdt, patype = _UINT[width]
        want = pa.array([0 if b is None else b for b in want_bits],
                        type=ubits,
                        mask=np.array([b is None for b in want_bits]))
        out = E.decode_column(kind, bytes.fromhex(hexblob))
        assert out.type == patype
        assert out.view(ubits).equals(want)


def test_struct_float_leaf_roundtrips():
    n = 2000
    xs = np.round(np.arange(n) % 9 / 100.0, 2)
    xs[3], xs[4] = np.nan, -0.0
    arr = pa.StructArray.from_arrays(
        [pa.array(xs), pa.array(np.arange(n) % 50, type=pa.int64()),
         pa.array(xs.astype(np.float32), mask=np.arange(n) % 13 == 0)],
        names=["x", "k", "y"],
        mask=pa.array(np.arange(n) % 101 == 0))
    kind, blob = E.encode_nested_column(arr)
    out = E.decode_column(kind, blob)
    assert out.is_valid().equals(arr.is_valid())
    for name in ("x", "y"):
        assert _bits_equal(out.field(name), arr.field(name)), name
    assert out.field("k").equals(arr.field("k"))
    # and the dispatcher's pick (nested shred or IPC) round-trips too
    kind, blob = E.encode_column(arr)
    out = E.decode_column(kind, blob)
    for name in ("x", "y"):
        assert _bits_equal(out.field(name), arr.field(name)), name


def test_null_list_elements_survive():
    """A null inside a list<int32> or list<float32> decodes as null: the
    flat list codecs, which keep no element validity, are not chosen."""
    for t in (pa.int32(), pa.float32()):
        arr = pa.array([[1, 2], [None, 0], [5]], pa.list_(t))
        for a in (arr, arr.slice(1)):
            kind, blob = E.encode_column(a)
            assert kind not in ("list_i32", "list_f32"), kind
            assert E.decode_column(kind, blob).equals(a), (t, kind)
        kind, _ = E.encode_column(arr.slice(2))
        assert kind in ("list_i32", "list_f32")
