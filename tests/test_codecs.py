"""Round-trip property tests per codec kernel (encode . decode == id).

Mirrors the reference's correctness contract — golden value equality after
decode (``parquet-msgpack/.../spark/SparkTestBase.java:115-133``) — applied
to every kernel on adversarial arrays: empty, single, constant, sorted,
negative, full-range int32/int64.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from embulk_input_parquet_hadoop_spark.codecs import bitpack, framing, fsst
from embulk_input_parquet_hadoop_spark.codecs.intcodecs import INT_CODECS
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
        pytest.skip("documented codec range limit (FOR/RLE/dict 63-bit, "
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
    # constant chunk: FOR at width 0 (zero payload) or RLE are both optimal
    choice, _, est = select_int_codec(const)
    assert choice in ("for", "rle")
    assert est[choice] <= 80  # near-zero payload either way
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


FSST_CASES = [
    b"",
    b"aaaaaaaaaaaaaaaaaaaaaa",
    b"the quick brown fox jumps over the lazy dog " * 50,
    "héllo wörld ünïcode ".encode() * 30,
    bytes(range(256)) * 4,  # full alphabet -> identity
    b"ab" * 5000,
]


@pytest.mark.parametrize("idx", range(len(FSST_CASES)))
def test_fsst_roundtrip(idx):
    data = FSST_CASES[idx]
    payload, params = fsst.encode(data)
    assert fsst.decode(payload, params) == data


def test_fsst_compresses_repetitive_text():
    data = (b"https://example.com/docs/page?id=" + b"x" * 5) * 400
    payload, params = fsst.encode(data)
    assert len(payload) < len(data) * 0.5


@given(st.binary(max_size=2000))
@settings(max_examples=80, deadline=None)
def test_fsst_roundtrip_hypothesis(data):
    payload, params = fsst.encode(data)
    assert fsst.decode(payload, params) == data
