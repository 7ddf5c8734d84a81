"""Round-trip property tests per codec kernel (encode . decode == id).

Mirrors the reference's correctness contract — golden value equality after
decode (``parquet-msgpack/.../spark/SparkTestBase.java:115-133``) — applied
to every kernel on adversarial arrays: empty, single, constant, sorted,
negative, full-range int32/int64. Codecs that are read but no longer
written (``rle``, ``fsst`` here, ``rans`` in test_rans.py) are pinned by
frames an earlier encoder wrote.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from embulk_input_parquet_hadoop_spark.codecs import bitpack, framing
from embulk_input_parquet_hadoop_spark.codecs.intcodecs import (
    INT_CODECS, rle_decode)
from embulk_input_parquet_hadoop_spark.operators.encode import (
    _decode_bytes_frame, decode_column)
from embulk_input_parquet_hadoop_spark.operators.select import (
    encode_best, select_int_codec)

RNG = np.random.default_rng(42)

ADVERSARIAL = [
    np.array([], dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([7] * 1000, dtype=np.int64),
    np.arange(5000, dtype=np.int64),
    np.arange(5000, dtype=np.int64)[::-1].copy(),
    np.array([-5, -1, 0, 1, 5] * 100, dtype=np.int64),
    RNG.integers(np.iinfo(np.int32).min, np.iinfo(np.int32).max, 4096
                 ).astype(np.int64),
    np.array([np.iinfo(np.int32).min, np.iinfo(np.int32).max], dtype=np.int64),
    RNG.zipf(1.3, 8192).astype(np.int64) % 50000,
    np.repeat(RNG.integers(0, 10, 64), RNG.integers(1, 200, 64)).astype(np.int64),
]


@pytest.mark.parametrize("codec", sorted(INT_CODECS))
@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_int_codec_roundtrip(codec, idx):
    arr = ADVERSARIAL[idx]
    enc, dec = INT_CODECS[codec]
    try:
        payload, params = enc(arr)
    except OverflowError:
        pytest.skip("documented codec range limit (FOR/dict 63-bit, "
                    "xp 16-bit); encode_best never selects out of range")
    out = dec(payload, params, len(arr))
    np.testing.assert_array_equal(out, arr)


@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=300))
@settings(max_examples=60, deadline=None)
@pytest.mark.parametrize("codec", sorted(INT_CODECS))
def test_int_codec_roundtrip_hypothesis(codec, xs):
    arr = np.array(xs, dtype=np.int64)
    enc, dec = INT_CODECS[codec]
    try:
        payload, params = enc(arr)
    except OverflowError:
        return  # documented codec range limit (xp: 16-bit value range)
    np.testing.assert_array_equal(dec(payload, params, len(arr)), arr)


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 16, 17, 31, 32, 33, 63, 64])
def test_bitpack_roundtrip(width):
    n = 257
    hi = (1 << width) - 1 if width else 0
    vals = RNG.integers(0, hi + 1, n, dtype=np.uint64) if hi else np.zeros(
        n, dtype=np.uint64)
    out = bitpack.unpack(bitpack.pack(vals, width), width, n)
    np.testing.assert_array_equal(out, vals)


# sha256 prefixes of pack() output: the bit layout is stored in every
# committed frame, so a faster packer must write exactly these bytes
_PACKED_SHA256 = {3: "99cb07b409548656aab9387624aeca52",
                  13: "1b92dd0101b43b4fbd9a79ba6f712be6",
                  55: "a61b97ba32dc8424fcdf39eedaf99724",
                  62: "1936d0f14a5971634a8378faf5d812e4"}


@pytest.mark.parametrize("width", sorted(_PACKED_SHA256))
def test_bitpack_layout_pinned(width):
    import hashlib
    vals = ((np.arange(1000, dtype=np.uint64)
             * np.uint64(0x9E3779B97F4A7C15))
            & np.uint64((1 << width) - 1))
    packed = bitpack.pack(vals, width)
    assert hashlib.sha256(packed).hexdigest()[:32] == _PACKED_SHA256[width]
    np.testing.assert_array_equal(bitpack.unpack(packed, width, 1000), vals)


def test_selector_prefers_sensible_codecs():
    const = np.full(10000, 42, dtype=np.int64)
    # constant chunk: FOR at width 0, an empty payload
    choice, _, est = select_int_codec(const)
    assert choice == "for"
    assert est[choice] <= 80
    assert encode_best(const) == ("for", b"", {"min": 42, "w": 0})
    sorted_ids = np.arange(10**6, 10**6 + 50000, dtype=np.int64)
    assert select_int_codec(sorted_ids)[0] == "delta"
    lowcard = RNG.integers(0, 16, 50000).astype(np.int64) * 1_000_003
    assert select_int_codec(lowcard)[0] == "dict"
    dense = RNG.integers(0, 2**17, 50000).astype(np.int64)
    assert select_int_codec(dense)[0] in ("for", "dict")


def test_encode_best_never_bigger_than_plain():
    for arr in ADVERSARIAL:
        if len(arr) == 0:
            continue
        codec, payload, params = encode_best(arr)
        assert len(payload) <= len(arr) * arr.dtype.itemsize
        _, dec = INT_CODECS[codec]
        np.testing.assert_array_equal(dec(payload, params, len(arr)), arr)


def test_encode_best_compresses_zipf_tokens():
    tokens = (RNG.zipf(1.2, 100_000) % 65536).astype(np.int64)
    codec, payload, _ = encode_best(tokens)
    assert len(payload) < 100_000 * 8 * 0.5  # at least 2x vs int64 plain


def test_xp_roundtrip_edges():
    enc, dec = INT_CODECS["xp"]
    cases = [
        np.zeros(0, dtype=np.int64),
        np.array([255], dtype=np.int64),
        np.array([256], dtype=np.int64),  # single exception
        np.array([-40000, 25535], dtype=np.int64),  # negative min, full span
        np.arange(255, 262, dtype=np.int32),  # straddles the boundary
        np.full(1000, 77, dtype=np.int64),
        (RNG.zipf(1.2, 20_000) % 50257).astype(np.int32),
    ]
    for arr in cases:
        payload, params = enc(arr)
        np.testing.assert_array_equal(dec(payload, params, len(arr)),
                                      arr.astype(np.int64))
    with pytest.raises(OverflowError):
        enc(np.array([0, 1 << 16], dtype=np.int64))


def test_xp_c_and_numpy_bit_identical():
    """The fused C xp kernels (codecs/_rans_c.py xp_split_*/
    xp_decode_fill) must produce byte-identical payloads to the numpy
    reference and cross-decode in both directions, across dtypes,
    bitmap-byte boundaries (n % 8), exception densities (none / all /
    Zipf-sparse), negative mins, >2^40 int64 bases, and non-contiguous
    inputs."""
    from embulk_input_parquet_hadoop_spark.codecs import _rans_c
    from embulk_input_parquet_hadoop_spark.codecs.intcodecs import (
        xp_decode, xp_encode)
    if _rans_c.LIB is None:
        pytest.skip("no C compiler available")
    rng = np.random.default_rng(7)
    cases = [
        np.array([0], dtype=np.int32),
        np.arange(7, dtype=np.int32) + 250,          # straddles 256, n<8
        np.arange(9, dtype=np.int64) - 4,            # n%8 == 1, negatives
        np.full(1000, 300, dtype=np.int32),          # every value escapes
        np.full(1000, 5, dtype=np.int32),            # none escape
        rng.integers(-40000, 25536, 100_001).astype(np.int32),
        (rng.zipf(1.3, 65_537) % 50257).astype(np.int32),
        (rng.zipf(1.3, 4096) % 60000).astype(np.int64) + (1 << 40),
        rng.integers(0, 65536, 8192).astype(np.int16),
        np.ascontiguousarray(
            rng.integers(0, 1000, 10000).astype(np.int32)[::2]) * 0
        + rng.integers(0, 1000, 5000).astype(np.int32),
    ]
    cases.append(rng.integers(0, 500, 10001).astype(np.int32)[::2])  # strided
    for arr in cases:
        pc, mc = xp_encode(arr)
        lib = _rans_c.LIB
        try:
            _rans_c.LIB = None
            pn, mn = xp_encode(arr)
            dec_numpy_of_c = xp_decode(pc, mc, len(arr))
        finally:
            _rans_c.LIB = lib
        dec_c_of_numpy = xp_decode(pn, mn, len(arr))
        assert pc == pn and mc == mn
        np.testing.assert_array_equal(dec_numpy_of_c, arr.astype(np.int64))
        np.testing.assert_array_equal(dec_c_of_numpy, arr.astype(np.int64))


def test_selector_picks_xp_for_heavy_headed_tokens():
    # Zipfian token ids (the north rule's dominant payload): most values
    # < 256, tail up to vocab size. xp must win over 16-bit FOR packing,
    # and its payload must be byte-math-exact: n*(1 + frac_big) + bitmap.
    tokens = (RNG.zipf(1.2, 200_000) % 50257).astype(np.int32)
    choice, payload, params = encode_best(tokens)
    assert choice == "xp"
    n = len(tokens)
    n_big = int((tokens - tokens.min() >= 256).sum())
    assert len(payload) == n + (n + 7) // 8 + n_big
    # uniform 16-bit data: no heavy head, FOR/plain must stay the winner
    uniform = RNG.integers(0, 60000, 200_000).astype(np.int32)
    assert select_int_codec(uniform)[0] != "xp"


def test_frame_roundtrip():
    payload = b"\x01\x02\x03" * 100
    blob = framing.write_frame("plain", "int32", 75, {"dt": "<i4"}, payload)
    blob += framing.write_frame("fsst", "bytes", 300, {"syms": [], "codes": []},
                                b"xyz")
    frames = framing.read_frames(blob)
    assert [f.codec for f in frames] == ["plain", "fsst"]
    assert frames[0].payload == payload
    assert frames[0].params == {"dt": "<i4"}
    assert frames[1].n == 300


def test_frame_crc_detects_corruption():
    blob = bytearray(framing.write_frame("plain", "int64", 2, {}, b"12345678" * 2))
    blob[-3] ^= 0xFF
    with pytest.raises(framing.FrameError):
        framing.read_frames(bytes(blob))


# Column blobs an earlier encoder wrote with the codecs that are now
# decode-only, and the values they hold: each must decode bit for bit.
_RLE_BLOBS = [
    # int64, 4 runs: rle params vw=27 rw=10
    ("4346010303d00700002e0000001300000000000000d24efbfc7b2272756e7322"
     "3a342c22766d696e223a2d352c227677223a32372c227277223a31302c22766c"
     "656e223a31347d48420f00000080ddb2285f0000002cd1870cfa",
     pa.array(np.repeat(np.array([1000003, -5, 77777777, 42]),
                        [300, 500, 200, 1000]))),
    # int16, 3 runs, negative vmin
    ("4346010301e80700002f0000000b00000000000000ee0053727b2272756e7322"
     "3a332c22766d696e223a2d3330302c227677223a31342c227277223a31312c22"
     "766c656e223a367d0000030c0000bcd2823401",
     pa.array(np.repeat(np.array([-300, 12000, -300], dtype=np.int16),
                        [700, 90, 1234]))),
    # int32 with nulls: validity frame, then 5 runs over the filled slots
    ("434601000587000000020000001100000000000000d52e63c57b7df8ffffffff"
     "e7ffffffffffffffffffff7f4346010302870000002b00000007000000000000"
     "0017cb3f6c7b2272756e73223a352c22766d696e223a2d322c227677223a342c"
     "227277223a362c22766c656e223a337d920209032af01e",
     pa.array([None] * 3 + [7] * 40 + [None] * 2 + [-2] * 60 + [7] * 30,
              pa.int32())),
]

# fsst byte frames: symbols of "a" runs, codes 0..4
_FSST_BLOBS = [
    ("str_direct",
     "434601020312000000110000000d00000000000000b0679c0f7b226669727374"
     "223a302c2277223a367d0261200ae3401265611ae78122434601060499000000"
     "5b000000140000000000000043ca60357b2273796d73223a5b22363136313631"
     "36313631363136313631222c22363136313631363136313631222c2236313631"
     "36313631222c22363136313631222c2236313631225d2c22636f646573223a5b"
     "302c312c322c332c345d7d0000000000000000000000000000000000000061",
     ["a" * k for k in range(1, 18)]),
    ("str_dict",
     "434601000529000000020000000600000000000000bee180d07b7dfeffffffff"
     "014346010103290000000f0000001a0000000000000052e6ccc07b226d696e22"
     "3a302c2277223a357d2088418a3928a9c59a7b30ca498318a49883925aacb907"
     "a39c144346010203160000001100000010000000000000007e9f18917b226669"
     "727374223a302c2277223a367d80401888c23890445998c679a0489a28434601"
     "0604d20000005b0000001b00000000000000aa96171d7b2273796d73223a5b22"
     "36313631363136313631363136313631222c2236313631363136313631363122"
     "2c223631363136313631222c22363136313631222c2236313631225d2c22636f"
     "646573223a5b302c312c322c332c345d7d000000000000000000000000000000"
     "000000000000000000000004",
     [None] + ["a" * k for k in range(1, 21)] * 2),
]


@pytest.mark.parametrize("idx", range(len(_RLE_BLOBS)))
def test_rle_frames_pinned(idx):
    hexblob, expected = _RLE_BLOBS[idx]
    blob = bytes.fromhex(hexblob)
    frame = framing.read_frames(blob)[-1]
    assert frame.codec == "rle"
    vals = rle_decode(frame.payload, frame.params, frame.n)
    valid = np.asarray(expected.is_valid())
    np.testing.assert_array_equal(
        vals[valid], expected.drop_null().to_numpy().astype(np.int64))
    out = decode_column("int", blob)
    assert out.type == expected.type and out.equals(expected)


@pytest.mark.parametrize("idx", range(len(_FSST_BLOBS)))
def test_fsst_frames_pinned(idx):
    kind, hexblob, expected = _FSST_BLOBS[idx]
    blob = bytes.fromhex(hexblob)
    frame = framing.read_frames(blob)[-1]
    assert frame.codec == "fsst"
    data = _decode_bytes_frame(frame)
    distinct = dict.fromkeys(v for v in expected if v is not None)
    strings = distinct if kind == "str_dict" else expected
    assert data == "".join(strings).encode()
    assert decode_column(kind, blob).equals(pa.array(expected, pa.string()))


def test_every_codec_is_written_or_pinned():
    """Each codec a frame may name is either written by this build or
    pinned by frames an earlier encoder wrote, so the next codec to
    leave the encoder cannot take its decode coverage with it."""
    blobs = ([bytes.fromhex(h) for h, _ in _RLE_BLOBS]
             + [bytes.fromhex(h) for _, h, _ in _FSST_BLOBS]
             + [p.read_bytes() for p in
                (Path(__file__).parent / "fixtures" / "rans").glob("*.bin")])
    pinned = {f.codec for blob in blobs for f in framing.read_frames(blob)}
    written = set(INT_CODECS) | {"bytes_plain"}
    for codec in framing.CODEC_IDS:
        assert codec in written or codec in pinned, codec
