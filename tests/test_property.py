"""Property-based fuzzing of the codec layer (hypothesis).

encode ∘ decode = identity for every codec on arbitrary inputs — the same
contract the fixed adversarial arrays in test_codecs.py pin down, but
sampled over the full input space, including pathological distributions
hypothesis invents (shrinks to minimal counterexamples on failure).
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from embulk_input_parquet_hadoop_spark.codecs import bitpack
from embulk_input_parquet_hadoop_spark.codecs.intcodecs import INT_CODECS
from embulk_input_parquet_hadoop_spark.operators.encode import (
    decode_column, encode_column)
from embulk_input_parquet_hadoop_spark.operators.select import encode_best

SETTINGS = dict(max_examples=40, deadline=None)


@given(vals=arrays(np.uint64, st.integers(0, 300),
                   elements=st.integers(0, 2 ** 63 - 1)),
       width=st.integers(1, 64))
@settings(**SETTINGS)
def test_bitpack_roundtrip_any_width(vals, width):
    mask = np.uint64((1 << width) - 1) if width < 64 \
        else np.uint64(0xFFFFFFFFFFFFFFFF)
    v = vals & mask
    assert np.array_equal(bitpack.unpack(bitpack.pack(v, width), width,
                                         len(v)), v)


@given(vals=arrays(np.int64, st.integers(0, 400),
                   elements=st.integers(-2 ** 61, 2 ** 61)))
@settings(**SETTINGS)
def test_every_int_codec_roundtrip(vals):
    for name, (enc, dec) in INT_CODECS.items():
        try:
            payload, params = enc(vals)
        except OverflowError:
            continue  # documented FOR/dict range limit
        out = dec(payload, params, len(vals))
        assert np.array_equal(out, vals), name


@given(vals=arrays(np.int32, st.integers(0, 400),
                   elements=st.integers(-2 ** 31, 2 ** 31 - 1)))
@settings(**SETTINGS)
def test_encode_best_roundtrip_int32(vals):
    codec, payload, params = encode_best(vals)
    _, dec = INT_CODECS[codec]
    assert np.array_equal(dec(payload, params, len(vals)),
                          vals.astype(np.int64))


@given(rows=st.lists(st.one_of(
    st.none(),
    st.lists(st.integers(-2 ** 31, 2 ** 31 - 1), max_size=30)),
    max_size=60))
@settings(**SETTINGS)
def test_int_list_column_roundtrip(rows):
    # encode_column requires non-null lists (input_hint contract)
    rows = [r if r is not None else [] for r in rows]
    arr = pa.array(rows, type=pa.list_(pa.field("item", pa.int32(),
                                                nullable=False)))
    kind, blob = encode_column(arr)
    out = decode_column(kind, blob)
    assert out.to_pylist() == rows


@given(rows=st.lists(st.one_of(st.none(), st.text(max_size=40)),
                     max_size=80))
@settings(**SETTINGS)
def test_string_column_roundtrip(rows):
    arr = pa.array(rows, type=pa.string())
    kind, blob = encode_column(arr)
    assert decode_column(kind, blob).to_pylist() == rows


@given(rows=st.lists(st.one_of(st.none(),
                               st.integers(-2 ** 63, 2 ** 63 - 1)),
                     max_size=80))
@settings(**SETTINGS)
def test_int64_column_with_nulls_roundtrip(rows):
    arr = pa.array(rows, type=pa.int64())
    kind, blob = encode_column(arr)
    assert decode_column(kind, blob).to_pylist() == rows


@given(rows=st.lists(st.one_of(st.none(),
                               st.integers(-2 ** 62, 2 ** 62 - 1)),
                     max_size=80),
       unit=st.sampled_from(["s", "ms", "us", "ns"]),
       tz=st.sampled_from([None, "UTC", "America/New_York"]))
@settings(**SETTINGS)
def test_temporal_column_roundtrip(rows, unit, tz):
    ints = pa.array(rows, type=pa.int64())
    arr = ints.view(pa.timestamp(unit, tz=tz))
    kind, blob = encode_column(arr)
    out = decode_column(kind, blob)
    assert out.type == arr.type
    assert out.view(pa.int64()).to_pylist() == rows


@given(rows=st.lists(st.one_of(st.none(),
                               st.integers(-10 ** 17, 10 ** 17)),
                     max_size=80),
       scale=st.integers(0, 6))
@settings(**SETTINGS)
def test_decimal_column_roundtrip(rows, scale):
    import decimal
    t = pa.decimal128(25, scale)
    vals = [None if r is None
            else decimal.Decimal(r).scaleb(-scale) for r in rows]
    arr = pa.array(vals, type=t)
    kind, blob = encode_column(arr)
    assert kind in ("dec64", "dec128")
    out = decode_column(kind, blob)
    assert out.cast(t).to_pylist() == vals


_nested_scalars = st.one_of(
    st.none(), st.integers(-2 ** 31, 2 ** 31 - 1), st.text(max_size=12),
    st.booleans())


@given(rows=st.lists(
    st.one_of(st.none(),
              st.fixed_dictionaries(
                  {"a": st.one_of(st.none(),
                                  st.integers(-2 ** 63, 2 ** 63 - 1)),
                   "b": st.one_of(st.none(), st.text(max_size=20)),
                   "c": st.one_of(st.none(),
                                  st.lists(st.integers(-100, 100),
                                           max_size=5))})),
    max_size=60))
@settings(**SETTINGS)
def test_nested_struct_roundtrip(rows):
    t = pa.struct([("a", pa.int64()), ("b", pa.string()),
                   ("c", pa.list_(pa.int32()))])
    arr = pa.array(rows, type=t)
    from embulk_input_parquet_hadoop_spark.operators.encode import (
        encode_nested_column)
    kind, blob = encode_nested_column(arr)
    assert decode_column(kind, blob).cast(t).to_pylist() == arr.to_pylist()
    # the dispatcher (pick-best vs IPC) must roundtrip identically too
    kind2, blob2 = encode_column(arr)
    assert decode_column(kind2, blob2).cast(t).to_pylist() == arr.to_pylist()


@given(rows=st.lists(st.one_of(st.none(),
                               st.lists(_nested_scalars, max_size=6)),
                     max_size=60))
@settings(**SETTINGS)
def test_nested_list_of_struct_free_values_roundtrip(rows):
    # list<string|null> with nullable outer lists
    vals = [None if r is None else [None if isinstance(v, bool) or v is None
                                    else str(v) for v in r] for r in rows]
    t = pa.list_(pa.string())
    arr = pa.array(vals, type=t)
    kind, blob = encode_column(arr)
    assert decode_column(kind, blob).cast(t).to_pylist() == vals


# ---------------------------------------------------------------------------
# Equality-delete filter vs a brute-force anti-join oracle. The keystone
# invariant is that the uint64 hash PREFILTER is a superset of exact-tuple
# matching (a miss there silently resurrects a deleted row — the bug class
# the float-width normalization fixed); fuzz it over null/NaN/signed-zero
# keys, int->long and float->double width promotions, and multi-descriptor
# unions over column subsets.

_EQ_POOLS = [
    (pa.int32(), [None, -2, -1, 0, 1, 2, 2 ** 31 - 1]),
    (pa.int64(), [None, -2, 0, 1, 2, 2 ** 62]),
    (pa.float32(), [None, 0.0, -0.0, 1.1, 1.5, float("nan"), float("inf")]),
    (pa.float64(), [None, 0.0, -0.0, 1.1, 1.5, float("nan"), float("-inf")]),
    (pa.string(), [None, "", "a", "b", "0", "nan"]),
]
_EQ_WIDEN = {pa.int32(): pa.int64(), pa.float32(): pa.float64()}


def _eq_norm(t):
    # independent reimplementation of the spec's key semantics: null
    # matches null, NaN matches NaN, -0.0 == 0.0 (Python ==)
    return tuple("nan!" if isinstance(v, float) and v != v else v
                 for v in t)


@given(data=st.data())
@settings(max_examples=50, deadline=None)
def test_equality_delete_filter_matches_bruteforce(data, tmp_path_factory):
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)

    tmp = tmp_path_factory.mktemp("eqfuzz")
    k = data.draw(st.integers(1, 2), label="n_key_cols")
    pools = data.draw(st.lists(st.sampled_from(_EQ_POOLS), min_size=k,
                               max_size=k), label="types")
    cols = [f"c{i}" for i in range(k)]
    n = data.draw(st.integers(0, 40), label="data_rows")
    arrs = {c: pa.array([data.draw(st.sampled_from(pool)) for _ in range(n)],
                        type=typ)
            for c, (typ, pool) in zip(cols, pools)}
    arrs["payload"] = pa.array(list(range(n)), type=pa.int64())
    batch = pa.RecordBatch.from_pydict(arrs)

    # 1-2 descriptors, each over a non-empty prefix of the key columns,
    # optionally width-promoted on the delete side (int32->int64,
    # float32->float64 per the spec's type promotions)
    descs, del_tuple_sets = [], []
    for g in range(data.draw(st.integers(1, 2), label="n_descs")):
        gk = data.draw(st.integers(1, k), label=f"desc{g}_cols")
        m = data.draw(st.integers(0, 12), label=f"desc{g}_rows")
        dcols = {}
        for c, (typ, pool) in zip(cols[:gk], pools[:gk]):
            dt = typ
            if typ in _EQ_WIDEN and data.draw(st.booleans(),
                                              label=f"{g}{c}_widen"):
                dt = _EQ_WIDEN[typ]
            dcols[c] = pa.array(
                [data.draw(st.sampled_from(pool)) for _ in range(m)],
                type=typ).cast(dt)
        dtab = pa.table(dcols)
        p = str(tmp / f"del-{len(descs)}-{n}-{m}.parquet")
        pq.write_table(dtab, p)
        descs.append({"path": p, "columns": cols[:gk], "ids": None})
        del_tuple_sets.append(
            (cols[:gk],
             {_eq_norm(t) for t in zip(*(dtab[c].to_pylist()
                                         for c in cols[:gk]))} if m else
             set()))

    filt = _EqualityDeleteFilter.build(descs, data_schema=batch.schema)
    got = filt.apply(batch)

    data_rows = list(zip(*(arrs[c].to_pylist() for c in cols))) if n else []
    expected_keep = [
        i for i in range(n)
        if not any(_eq_norm(tuple(data_rows[i][j]
                                  for j in range(len(gcols)))) in tset
                   for gcols, tset in del_tuple_sets)]
    assert got.column("payload").to_pylist() == expected_keep


def test_equality_delete_mixed_width_delete_files(tmp_path):
    """Regression (found by the fuzz test above): delete files for the
    same key written before and after an int->long type promotion carry
    different physical widths; the per-group concat must widen instead
    of refusing to merge int32 with int64."""
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)

    p32 = str(tmp_path / "d32.parquet")
    p64 = str(tmp_path / "d64.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], type=pa.int32())}), p32)
    pq.write_table(pa.table({"k": pa.array([3, 2 ** 40], type=pa.int64())}),
                   p64)
    batch = pa.RecordBatch.from_pydict(
        {"k": pa.array([0, 1, 2, 3, 4, 2 ** 40], type=pa.int64()),
         "payload": pa.array(range(6), type=pa.int64())})
    filt = _EqualityDeleteFilter.build(
        [{"path": p32, "columns": ["k"], "ids": None},
         {"path": p64, "columns": ["k"], "ids": None}],
        data_schema=batch.schema)
    got = filt.apply(batch)
    assert got.column("payload").to_pylist() == [0, 4]


# ---------------------------------------------------------------------------
# Avro container roundtrip fuzz: random nested schemas + conformant values
# through write_avro -> read_avro. The zigzag varints, block framing, and
# union branch indices are hand-written (sources/avro_io.py) and also parse
# REAL Iceberg manifests from other engines — encode/decode asymmetries
# (int64 extremes, empty array/map blocks, nested null-unions, named-type
# reuse) must shake out here rather than on a user's table.

_avro_names = iter(f"R{i}" for i in range(10 ** 6))


def _avro_schema_and_value(draw, depth=0):
    prim = draw(st.sampled_from(
        ["null", "boolean", "int", "long", "double", "bytes", "string",
         "float"]))
    kind = prim if depth >= 2 else draw(st.sampled_from(
        [prim, "record", "array", "map", "union", "enum", "fixed"]))
    if kind == "null":
        return "null", None
    if kind == "boolean":
        return "boolean", draw(st.booleans())
    if kind == "int":
        return "int", draw(st.integers(-2 ** 31, 2 ** 31 - 1))
    if kind == "long":
        return "long", draw(st.integers(-2 ** 63, 2 ** 63 - 1))
    if kind == "double":
        return "double", draw(st.floats(allow_nan=False))
    if kind == "float":
        import struct as _s
        v = draw(st.floats(allow_nan=False, width=32))
        return "float", _s.unpack("<f", _s.pack("<f", v))[0]
    if kind == "bytes":
        return "bytes", draw(st.binary(max_size=20))
    if kind == "string":
        return "string", draw(st.text(max_size=20))
    if kind == "enum":
        syms = ["A", "B", "C"]
        return ({"type": "enum", "name": next(_avro_names),
                 "symbols": syms}, draw(st.sampled_from(syms)))
    if kind == "fixed":
        size = draw(st.integers(0, 8))
        return ({"type": "fixed", "name": next(_avro_names), "size": size},
                draw(st.binary(min_size=size, max_size=size)))
    if kind == "union":
        s, v = _avro_schema_and_value(draw, depth + 1)
        if s == "null" or (isinstance(s, dict) and s["type"] == "null"):
            s, v = "long", draw(st.integers(-10, 10))
        if draw(st.booleans()):
            sch = ["null", s]
        else:
            sch = [s, "null"]
        return sch, (None if draw(st.booleans()) else v)
    if kind == "array":
        s, v = _avro_schema_and_value(draw, depth + 1)
        n = draw(st.integers(0, 4))
        return {"type": "array", "items": s}, [v] * n
    if kind == "map":
        s, v = _avro_schema_and_value(draw, depth + 1)
        ks = draw(st.lists(st.text(max_size=8), max_size=4, unique=True))
        return {"type": "map", "values": s}, {k: v for k in ks}
    # record
    nf = draw(st.integers(1, 4))
    fields, rec = [], {}
    for i in range(nf):
        s, v = _avro_schema_and_value(draw, depth + 1)
        fields.append({"name": f"f{i}", "type": s})
        rec[f"f{i}"] = v
    return ({"type": "record", "name": next(_avro_names),
             "fields": fields}, rec)


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_avro_roundtrip_fuzz(data, tmp_path_factory):
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    inner, val = _avro_schema_and_value(data.draw)
    schema = {"type": "record", "name": next(_avro_names),
              "fields": [{"name": "x", "type": inner}]}
    n = data.draw(st.integers(0, 5), label="n_records")
    recs = [{"x": val}] * n
    codec = data.draw(st.sampled_from(["null", "deflate"]), label="codec")
    p = str(tmp_path_factory.mktemp("avrofuzz") / "t.avro")
    avro_io.write_avro(p, schema, recs, codec=codec)
    s2, got = avro_io.read_avro(p)
    assert s2 == schema
    assert got == recs


# ---------------------------------------------------------------------------
# Temporal zone-map stats. Two invariants guard "pruning may only widen,
# never exclude a row the chunk actually holds" (plans/pipeline.py
# _encode_one_batch):
#   1. BOUNDING — the recorded (vmin, vmax), in the normalized unit (µs
#      for clock types, days for dates), rationally bounds every stored
#      value: vmin*den <= v*num <= vmax*den.
#   2. UNIT AGREEMENT — the same logical instants stored as s/ms/us/ns
#      (or date32/date64) produce IDENTICAL zone maps, so a reader's
#      prune bounds mean the same thing whatever unit the source file
#      happened to store (the silent-wrong-prune bug class the
#      normalization exists to kill).

_TEMporal_TYPES = [
    pa.timestamp("s"), pa.timestamp("ms"), pa.timestamp("us"),
    pa.timestamp("ns"), pa.timestamp("us", tz="UTC"),
    pa.date32(), pa.date64(), pa.duration("ms"), pa.duration("ns"),
]


def _zone_of(batch):
    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _cols_of, _encode_one_batch)
    row, _ = _encode_one_batch(batch, 0, 0, 0)
    (col,) = _cols_of(row)
    return col["vmin"], col["vmax"]


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_temporal_zone_map_bounds_every_row(data):
    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _temporal_zone_scale)
    typ = data.draw(st.sampled_from(_TEMporal_TYPES), label="type")
    num, den = _temporal_zone_scale(typ)
    # keep the scaled value inside int64 so the clamp never engages
    # (outside it, Spark's own µs-int64 timestamp domain can't hold the
    # value either — the clamp matches the comparison domain)
    lim = min((2 ** 62) * den // num, 2 ** 62)
    n = data.draw(st.integers(0, 50), label="rows")
    vals = [data.draw(st.one_of(st.none(), st.integers(-lim, lim)))
            for _ in range(n)]
    width = pa.int64() if typ != pa.date32() else pa.int32()
    if typ == pa.date32():
        # wrap to int32, two's complement
        vals = [None if v is None else (v + 2**31) % 2**32 - 2**31
                for v in vals]
    arr = pa.array(vals, type=width).cast(typ)
    vmin, vmax = _zone_of(pa.RecordBatch.from_arrays([arr], ["t"]))
    live = [v for v in vals if v is not None]
    if not live:
        assert vmin is None and vmax is None
        return
    for v in live:
        assert vmin * den <= v * num <= vmax * den, (typ, v, vmin, vmax)
    # tightness: the bounds are the floor/ceil of the true extrema, not
    # merely any superset (a vacuous [-inf, inf] map prunes nothing)
    assert vmin == min(live) * num // den
    assert vmax == -((-max(live) * num) // den)


@given(data=st.data())
@settings(max_examples=40, deadline=None)
def test_temporal_zone_map_unit_agreement(data):
    n = data.draw(st.integers(1, 40), label="rows")
    # µs-precision instants representable exactly in every clock unit
    # (whole seconds) — each storage representation must yield the SAME
    # zone map
    secs = [data.draw(st.integers(-(2 ** 33), 2 ** 33)) for _ in range(n)]
    zones = set()
    for unit, mult in [("s", 1), ("ms", 10 ** 3), ("us", 10 ** 6),
                       ("ns", 10 ** 9)]:
        arr = pa.array([s * mult for s in secs], type=pa.int64()) \
            .cast(pa.timestamp(unit))
        zones.add(_zone_of(pa.RecordBatch.from_arrays([arr], ["t"])))
    assert len(zones) == 1, zones
    ((vmin, vmax),) = zones
    assert vmin == min(secs) * 10 ** 6 and vmax == max(secs) * 10 ** 6
    # dates: the same days stored as date32 and date64 agree too
    days = [data.draw(st.integers(-(10 ** 5), 10 ** 5)) for _ in range(n)]
    z32 = _zone_of(pa.RecordBatch.from_arrays(
        [pa.array(days, type=pa.int32()).cast(pa.date32())], ["d"]))
    z64 = _zone_of(pa.RecordBatch.from_arrays(
        [pa.array([d * 86_400_000 for d in days], type=pa.int64())
         .cast(pa.date64())], ["d"]))
    assert z32 == z64 == (min(days), max(days))


# ---------------------------------------------------------------------
# Avro datum codec (sources/avro_io.py): schema-driven value roundtrips
# ---------------------------------------------------------------------

_AVRO_SCHEMA = {"type": "record", "name": "fz", "fields": [
    {"name": "i", "type": "long"},
    {"name": "s", "type": "string"},
    {"name": "b", "type": ["null", "bytes"], "default": None},
    {"name": "f", "type": "double"},
    {"name": "bl", "type": "boolean"},
    {"name": "arr", "type": {"type": "array",
                             "items": ["null", "long"]}},
    {"name": "m", "type": {"type": "map", "values": "string"}},
    {"name": "nest", "type": ["null", {
        "type": "record", "name": "inner", "fields": [
            {"name": "x", "type": "int"},
            {"name": "t", "type": {"type": "array",
                                   "items": "string"}}]}],
     "default": None},
]}

_avro_rec = st.fixed_dictionaries({
    "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "s": st.text(max_size=30),
    "b": st.none() | st.binary(max_size=20),
    "f": st.floats(allow_nan=False),
    "bl": st.booleans(),
    "arr": st.lists(st.none() | st.integers(min_value=-(2**40),
                                            max_value=2**40),
                    max_size=6),
    "m": st.dictionaries(st.text(max_size=8), st.text(max_size=8),
                         max_size=4),
    "nest": st.none() | st.fixed_dictionaries({
        "x": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "t": st.lists(st.text(max_size=6), max_size=4)}),
})


@settings(max_examples=60, deadline=None)
@given(st.lists(_avro_rec, max_size=12),
       st.sampled_from(["null", "deflate"]),
       st.integers(min_value=1, max_value=5))
def test_avro_container_roundtrip_any_values(recs, codec, chunk):
    """Arbitrary nested records survive datum encode -> multi-block
    container stream -> decode bit-exactly (zig-zag longs, unions,
    nulls, nested records, maps, arrays); the block-header counters
    agree with the record count."""
    import io as _io
    import os as _os
    import tempfile as _tf

    from embulk_input_parquet_hadoop_spark.sources import avro_io

    # single datum roundtrip
    for r in recs[:3]:
        blob = avro_io.encode_datum(_AVRO_SCHEMA, r)
        assert avro_io.decode_datum(_AVRO_SCHEMA, blob) == r
    # streamed container roundtrip + header-hop counting
    fd, tmp = _tf.mkstemp(suffix=".avro")
    _os.close(fd)
    try:
        chunks = [recs[i:i + chunk] for i in range(0, len(recs), chunk)]
        with open(tmp, "wb") as fh:
            n = avro_io.write_avro_stream(fh, _AVRO_SCHEMA,
                                          iter(chunks), codec=codec)
        assert n == len(recs)
        _, got = avro_io.read_avro(tmp)
        assert got == recs
        data = open(tmp, "rb").read()
        assert avro_io.avro_record_count(data) == len(recs)
        assert avro_io.avro_record_count_ranged(tmp) == len(recs)
    finally:
        _os.remove(tmp)
