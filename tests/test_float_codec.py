"""f32/f64 chunks: the byte-plane frame, or an int-codec cascade frame
over the values' decimal integers ``rint(v * 10**e)`` when every value is
a decimal and that frame is smaller; bit-exact whichever wins."""

from __future__ import annotations

import glob
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from embulk_input_parquet_hadoop_spark.codecs import framing
from embulk_input_parquet_hadoop_spark.operators import encode as E
from embulk_input_parquet_hadoop_spark.operators.select import select_int_codec

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


# the values no decimal frame may hold: NaNs, -0.0, infinities, subnormals
_NOT_DECIMAL = {w: [b for b in bits if b & ((1 << (w - 1)) - 1)]
                + [1 << (w - 1)] for w, bits in _SPECIAL.items()}


def _has_non_decimal(arr: pa.Array) -> bool:
    """Any valid NaN, +-inf, -0.0 or subnormal."""
    a = np.asarray(arr.drop_null())
    return bool((~np.isfinite(a)).any() or np.signbit(a[a == 0]).any()
                or ((a != 0) & (np.abs(a) < np.finfo(a.dtype).tiny)).any())


@st.composite
def float_chunks(draw):
    width = draw(st.sampled_from([32, 64]))
    n = draw(st.integers(0, 3000))
    shape = draw(st.sampled_from(
        ["constant", "lowcard", "sorted", "random", "special", "decimal"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    udt, _, fdt, patype = _UINT[width]
    special = np.array(_SPECIAL[width], dtype=udt)
    if shape == "decimal":
        # k / 10**e at every exponent the encoder tries, signed, up to the
        # 2**53 bound on |k|
        e = draw(st.integers(0, 18))
        top = draw(st.sampled_from([9, 10**4, 10**9, 2**53 - 1, 2**53 + 2]))
        bits = (rng.integers(-top, top, n, endpoint=True) / 10.0 ** e
                ).astype(fdt).view(udt)
        if n and draw(st.booleans()):
            poison = np.array(_NOT_DECIMAL[width], dtype=udt)
            bits[rng.integers(0, n)] = poison[rng.integers(0, len(poison))]
    elif shape == "random":
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


@settings(max_examples=200, deadline=None)
@given(float_chunks())
def test_float_roundtrip_bit_exact_and_never_larger(arr):
    kind, blob = E.encode_column(arr)
    assert kind == ("f32" if arr.type == pa.float32() else "f64")
    assert _bits_equal(E.decode_column(kind, blob), arr)
    assert len(blob) <= len(_legacy_blob(arr))
    if _has_non_decimal(arr):
        assert framing.read_frames(blob)[-1].dtype not in ("dec32", "dec64")
    if framing.read_frames(blob)[-1].dtype not in ("dec32", "dec64"):
        assert blob == _legacy_blob(arr)


@pytest.mark.parametrize("dt", [pa.float32(), pa.float64()])
def test_decimal_chunks_take_a_decimal_frame_at_their_exponent(dt):
    rng = np.random.default_rng(7)
    for e in range(19):
        k = rng.integers(-10**6, 10**6, 2000)
        k[0] = 10**6 - 1  # one valid value whose last digit is not 0
        mask = rng.random(2000) < 0.1
        mask[0] = False
        arr = pa.array((k / 10.0 ** e).astype(dt.to_pandas_dtype()),
                       type=dt, mask=mask)
        kind, blob = E.encode_column(arr)
        frame = framing.read_frames(blob)[-1]
        assert frame.dtype == ("dec32" if dt == pa.float32() else "dec64")
        assert frame.params["e"] == e
        assert len(blob) < len(_legacy_blob(arr))
        assert _bits_equal(E.decode_column(kind, blob), arr), e


@pytest.mark.parametrize("dt", [pa.float32(), pa.float64()])
def test_finer_values_between_sampled_positions_raise_the_exponent(dt):
    """Tenths with a few hundredths, then thousandths, where the sample
    does not look: the sample passes at e=1, and the check moves on to
    the exponent the refused values need instead of giving up."""
    fdt = dt.to_pandas_dtype()
    vals = np.random.default_rng(5).integers(-10**5, 10**5, 3000) / 10.0
    step = len(vals) // E._DEC_SAMPLE
    for e, at, finer in ((1, [], []), (2, [1, 500, 2999], [1234.57, -0.01,
                                                           77.77]),
                         (3, [2, 1001], [7.125, -3.001])):
        assert all(i % step for i in at)
        vals[at] = finer
        a = vals.astype(fdt)
        assert E._decimal_ints(a[::step])[0] == 1
        arr = pa.array(a, type=dt)
        kind, blob = E.encode_column(arr)
        frame = framing.read_frames(blob)[-1]
        assert frame.dtype == ("dec32" if dt == pa.float32() else "dec64")
        assert frame.params["e"] == e
        assert _bits_equal(E.decode_column(kind, blob), arr), e


@pytest.mark.parametrize("width", [32, 64])
def test_one_non_decimal_value_keeps_a_chunk_off_decimal_frames(width):
    """One NaN, infinity, -0.0 or subnormal between sampled positions:
    the full-chunk check still refuses the decimal frame."""
    udt, _, fdt, patype = _UINT[width]
    rng = np.random.default_rng(width)
    for poison in _NOT_DECIMAL[width]:
        bits = (rng.integers(90_000, 10_500_000, 3000) / 100.0
                ).astype(fdt).view(udt)
        bits[1] = poison
        arr = pa.array(bits.view(fdt), type=patype)
        kind, blob = E.encode_column(arr)
        frame = framing.read_frames(blob)[-1]
        assert frame.dtype not in ("dec32", "dec64"), hex(poison)
        assert _bits_equal(E.decode_column(kind, blob), arr), hex(poison)


def test_decimal_frame_bound_is_two_to_the_53():
    edge = 2.0 ** 53
    rng = np.random.default_rng(3)
    vals = np.concatenate([[edge], edge - rng.integers(0, 10**6, 2000)])
    ok = pa.array(vals)
    frame = framing.read_frames(E.encode_column(ok)[1])[-1]
    assert (frame.dtype, frame.params["e"]) == ("dec64", 0)
    vals[0] = edge + 2  # an integer, but past the bound
    over = pa.array(vals)
    kind, blob = E.encode_column(over)
    assert framing.read_frames(blob)[-1].dtype not in ("dec32", "dec64")
    for arr in (ok, over):
        assert _bits_equal(E.decode_column(*E.encode_column(arr)), arr)


def test_decimal_frame_with_a_bad_exponent_raises():
    arr = pa.array(np.arange(3000) % 11 / 100.0)
    (frame,) = framing.read_frames(E.encode_column(arr)[1])
    assert frame.dtype == "dec64"
    for bad in (19, -1, 2.0, "2", True, None):
        params = dict(frame.params, e=bad)
        blob = framing.write_frame(frame.codec, frame.dtype, frame.n, params,
                                   bytes(frame.payload))
        with pytest.raises(framing.FrameError):
            E.decode_column("f64", blob)
    params = {k: v for k, v in frame.params.items() if k != "e"}
    blob = framing.write_frame(frame.codec, frame.dtype, frame.n, params,
                               bytes(frame.payload))
    with pytest.raises(framing.FrameError):
        E.decode_column("f64", blob)


def test_low_cardinality_floats_take_the_cascade():
    # an l_discount-shaped chunk: 11 distinct values, now a decimal frame
    # at e=2 that is no larger than the frame over its bit patterns
    rng = np.random.default_rng(11)
    for dt in (pa.float32(), pa.float64()):
        arr = pa.array(rng.integers(0, 11, 3000) / 100.0, type=dt)
        kind, blob = E.encode_column(arr)
        (frame,) = framing.read_frames(blob)
        assert frame.dtype == ("dec32" if dt == pa.float32() else "dec64")
        assert frame.params["e"] == 2
        bits = np.asarray(arr).view(f"<i{dt.bit_width // 8}")
        bits_frame = E._int_frame(bits, bits.dtype.name)
        assert framing.read_frames(bits_frame)[0].codec == "dict"
        assert len(blob) <= len(bits_frame)
        assert len(blob) * 3 < len(_legacy_blob(arr))
        assert _bits_equal(E.decode_column(kind, blob), arr)


def test_byte_plane_frame_kept_when_the_cascade_is_larger():
    # p_retailprice's TPC-H formula in thirds of a cent, which no decimal
    # exponent represents: a cascade over the bit patterns, which earlier
    # builds tried, picks dict from its sample and comes out ~3x the
    # byte-plane frame the chunk keeps
    k = np.arange(1, 20001)
    cents = 90000 + (k // 10) % 20001 + 100 * (k % 1000)
    arr = pa.array(cents / 300)
    assert E._decimal_ints(np.asarray(arr)) is None
    kind, blob = E.encode_column(arr)
    (frame,) = framing.read_frames(blob)
    assert frame.dtype == "bytes"
    bits = np.asarray(arr).view(np.int64)
    assert select_int_codec(bits)[0] == "dict"
    assert len(E._int_frame(bits, "int64")) > 2 * len(blob)
    assert blob == _legacy_blob(arr)
    assert _bits_equal(E.decode_column(kind, blob), arr)
    # the formula itself is in cents: a decimal frame, smaller still
    arr = pa.array(cents / 100)
    kind, blob = E.encode_column(arr)
    (frame,) = framing.read_frames(blob)
    assert (frame.dtype, frame.params["e"]) == ("dec64", 2)
    assert len(blob) * 3 < len(_legacy_blob(arr))
    assert _bits_equal(E.decode_column(kind, blob), arr)


# float blobs as earlier builds wrote them (byte planes, then the
# bit-pattern cascade) and as this one writes decimal frames; trees
# holding them must keep decoding
_L_DISCOUNT_24 = (np.arange(24) * 7 % 11) / 100.0
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
    # f64 l_discount-shaped, 24 values: a bit-pattern cascade frame
    # (int64, dict), as builds before decimal frames wrote it
    ("f64",
     "4346010403180000002d00000062000000000000000c3b62c07b2263617264223a"
     "31312c226977223a342c22646d696e223a302c226477223a36322c22646c656e22"
     "3a38367d00000000000000c01e85eb51b81ee1bf47e17a14ae47f9e37a14ae47e1"
     "7afe7b14ae47e17aa4bf666666666666ea8feb51b81e85ebfab347e17a14aec7fe"
     "7b14ae47e17ab4bfc2f5285c8fc2edaf999999999999fb0370a326598104376a92"
     "154870",
     _L_DISCOUNT_24.view(np.uint64).tolist()),
    # the same values as a decimal frame: dec64, e=2, for
    ("f64",
     "434601010718000000150000000c00000000000000431a906f7b226d696e223a30"
     "2c2277223a342c2265223a327d70a326598104376a92154870",
     _L_DISCOUNT_24.view(np.uint64).tolist()),
    # f32 (k % 11) / 10 - 0.5 with one null: validity + dec32, e=1, for
    ("f32",
     "434601000510000000020000000200000000000000a2247b6a7b7ddfff43460101"
     "0610000000160000000800000000000000aa90693f7b226d696e223a2d352c2277"
     "223a342c2265223a317d70a356598104376a",
     [3204448256, 1045220557, 3192704205, 1056964608, 1036831949, None,
      1053609165, 0, 3201092813, 1050253722, 3184315597, 3204448256,
      1045220557, 3192704205, 1056964608, 1036831949]),
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


def test_decimal_frames_are_not_read_as_float_bits():
    """A decimal frame has its own dtype id: the bit-pattern path and a
    reader that predates the id both raise instead of decoding the
    integers as float bits."""
    blob = bytes.fromhex(_PINNED[4][1])
    (frame,) = framing.read_frames(blob)
    assert frame.dtype == "dec64"
    with pytest.raises(KeyError):
        E._decode_int_frame(frame)
    earlier_ids = {v: k for k, v in framing.DTYPE_IDS.items()
                   if k not in ("dec32", "dec64")}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(framing, "DTYPE_NAMES", earlier_ids)
        with pytest.raises(KeyError):
            E.decode_column("f64", blob)


def test_struct_float_leaf_roundtrips():
    n = 2000
    xs = np.round(np.arange(n) % 9 / 100.0, 2)
    xs[3], xs[4] = np.nan, -0.0
    arr = pa.StructArray.from_arrays(
        [pa.array(xs), pa.array(np.arange(n) % 50, type=pa.int64()),
         pa.array(xs.astype(np.float32), mask=np.arange(n) % 13 == 0),
         pa.array(np.arange(n) % 9 / 100.0, mask=np.arange(n) % 7 == 0)],
        names=["x", "k", "y", "d"],
        mask=pa.array(np.arange(n) % 101 == 0))
    kind, blob = E.encode_nested_column(arr)
    out = E.decode_column(kind, blob)
    assert out.is_valid().equals(arr.is_valid())
    for name in ("x", "y", "d"):
        assert _bits_equal(out.field(name), arr.field(name)), name
    assert out.field("k").equals(arr.field("k"))
    # the leaves' value frames: NaN and -0.0 keep x and y off decimal
    # frames; d, all decimals, takes one
    head, pos = framing.read_frame(blob)
    pos = framing.read_frame(blob, pos)[1]  # the struct's validity
    leaf_dtypes = []
    for ln in head.params["nl"]:
        leaf_dtypes.append(framing.read_frames(blob[pos:pos + ln])[-1].dtype)
        pos += ln
    assert leaf_dtypes[0] not in ("dec32", "dec64")
    assert leaf_dtypes[2] not in ("dec32", "dec64")
    assert leaf_dtypes[3] == "dec64"
    # and the dispatcher's pick (nested shred or IPC) round-trips too
    kind, blob = E.encode_column(arr)
    out = E.decode_column(kind, blob)
    for name in ("x", "y", "d"):
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


_SF_FLOAT_TABLES = {"lineitem": ["l_orderkey", "l_linenumber"],
                    "orders": ["o_orderkey"], "customer": ["c_custkey"],
                    "supplier": ["s_suppkey"], "part": ["p_partkey"],
                    "events": ["event_id"]}
_SPARK_TYPES = {pa.int32(): "int", pa.int64(): "bigint",
                pa.float32(): "float", pa.float64(): "double"}


def test_sf_float_columns_roundtrip_through_the_pipeline(spark, tmp_path):
    """encode_path -> verify_files -> read_decoded on every sf0.001 table
    with a float column: decoded floats match the source bit for bit,
    and the price columns are stored as decimal frames."""
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from test_oracle_parity import SF_DIR
    dec_chunks = {"l_extendedprice": 0, "o_totalprice": 0}
    for table, keys in _SF_FLOAT_TABLES.items():
        in_dir = tmp_path / table
        in_dir.mkdir()
        shutil.copy(f"{SF_DIR}/{table}.parquet", in_dir)
        out = str(tmp_path / f"{table}_enc")
        pipeline.encode_path(spark, str(in_dir), out)
        assert verify.verify_files(spark, out)["ok"], table
        src = pq.read_table(in_dir / f"{table}.parquet")
        floats = [f.name for f in src.schema
                  if pa.types.is_floating(f.type)]
        cols = keys + floats
        ddl = ", ".join(f"{c} {_SPARK_TYPES[src.schema.field(c).type]}"
                        for c in cols)
        order = [(k, "ascending") for k in keys]
        got = pipeline.read_decoded(spark, out, cols, ddl).toArrow() \
            .sort_by(order)
        want = src.select(cols).sort_by(order)
        assert got.num_rows == want.num_rows, table
        for c in floats:
            assert _bits_equal(got.column(c).combine_chunks(),
                               want.column(c).combine_chunks()), (table, c)
        for f in glob.glob(f"{out}/chunks/**/*.parquet", recursive=True):
            for batch in pq.ParquetFile(f).iter_batches():
                for chunk in pipeline.chunk_columns(batch):
                    for name, _kind, blob in chunk:
                        if name in dec_chunks:
                            frame = framing.read_frames(blob)[-1]
                            assert frame.dtype == "dec64", (name, frame)
                            dec_chunks[name] += 1
    assert all(dec_chunks.values()), dec_chunks
