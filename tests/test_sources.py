"""Table sources read without a runtime jar: the Iceberg table format
(metadata, manifests, Avro), and plain Parquet trees."""

import pytest

from embulk_input_parquet_hadoop_spark.plans import pipeline
from embulk_input_parquet_hadoop_spark.sources import datagen, table
from fixtures.avro_ref import read_avro


@pytest.fixture(scope="module")
def tokens_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("src") / "tokens")
    datagen.generate(path, n_docs=300, seed=3, n_files=2)
    return path


def test_table_files(spark, tokens_dir):
    files = pipeline.spark_input_files(spark.read.parquet(tokens_dir))
    assert len(files) == 2 and all(f.endswith(".parquet") for f in files)


# --- Iceberg table-format reader (no runtime jar): avro + metadata ----------

@pytest.fixture(scope="module")
def iceberg_table(tmp_path_factory, tokens_dir):
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path_factory.mktemp("ice") / "tokens_table")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(tdir, files,
                                     record_counts=[150, 150])
    return tdir, files


def test_avro_roundtrip_all_types(tmp_path):
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "l", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "d", "type": "double"},
        {"name": "f", "type": "float"},
        {"name": "ok", "type": "boolean"},
        {"name": "u", "type": ["null", "long"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["A", "B"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX",
                                "size": 3}},
    ]}
    recs = [{"l": -(2**62), "i": -1, "s": "héllo", "b": b"\x00\xff",
             "d": 2.5, "f": 0.5, "ok": True, "u": None,
             "arr": [0, -1, 2**40], "m": {"k": "v"}, "e": "B",
             "fx": b"abc"},
            {"l": 2**62, "i": 0, "s": "", "b": b"", "d": -0.0,
             "f": -2.0, "ok": False, "u": 7, "arr": [], "m": {},
             "e": "A", "fx": b"xyz"}]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"t_{codec}.avro")
        avro_io.write_avro(p, schema, recs, codec=codec)
        s2, got = read_avro(p)
        assert s2 == schema and got == recs


def test_iceberg_snapshot_files(iceberg_table):
    import os
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir, files = iceberg_table
    got = iceberg_meta.snapshot_data_files(tdir)
    assert got == [os.path.abspath(f) for f in files]
    assert table.table_files_from_metadata(tdir) == got


def test_iceberg_encode_path_via_metadata(spark, iceberg_table, tmp_path):
    """End to end: snapshot file list -> encode_path(input_files=) ->
    bit-identity. The north rule's 'over Iceberg tables' path without a
    runtime jar."""
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    tdir, files = iceberg_table
    out = str(tmp_path / "ice_enc")
    flist = table.table_files_from_metadata(tdir)
    totals = pipeline.encode_path(spark, tdir, out, input_files=flist)
    assert totals["n_rows"] == 300
    # verify against the actual data-file locations
    src_dir = str(__import__("os").path.dirname(files[0]))
    assert verify.verify_path(spark, src_dir, out)["ok"]


def test_iceberg_mor_table_refused(tmp_path, tokens_dir):
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "mor_table")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(tdir, files, with_deletes=True)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="DELETE"):
        iceberg_meta.snapshot_data_files(tdir)


def test_iceberg_missing_snapshot_raises(tmp_path, tokens_dir):
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "snap_table")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(tdir, files)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="snapshot"):
        iceberg_meta.snapshot_data_files(tdir, snapshot_id=999)


def test_iceberg_time_travel(tmp_path, tokens_dir):
    """snapshot_data_files(snapshot_id=) reads an OLDER snapshot's file
    set — the table grew by one file after snapshot 1, and the encode
    over snapshot 1 must see only the original file (the frozen-snapshot
    consistency claim)."""
    import glob
    import os
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    tdir = str(tmp_path / "tt_table")
    iceberg_meta.write_table_fixture(
        tdir, files, snapshot_id=2, older_snapshots={1: files[:1]})
    assert iceberg_meta.snapshot_data_files(tdir) == \
        [os.path.abspath(f) for f in files]
    assert iceberg_meta.snapshot_data_files(tdir, snapshot_id=1) == \
        [os.path.abspath(files[0])]


def test_iceberg_named_refs(tmp_path, tokens_dir):
    """Time travel by NAMED reference: resolve_ref maps a branch/tag
    from the metadata refs map to its snapshot id, composing with
    every snapshot_id= entry point; unknown refs refuse with the
    available names."""
    import glob
    import os

    import pytest

    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    tdir = str(tmp_path / "ref_table")
    iceberg_meta.write_table_fixture(
        tdir, files, snapshot_id=2, older_snapshots={1: files[:1]},
        refs={"audit-2024": 1})
    # main tracks the current snapshot; the tag pins the older one
    assert iceberg_meta.resolve_ref(tdir, "main") == 2
    sid = iceberg_meta.resolve_ref(tdir, "audit-2024")
    assert sid == 1
    assert iceberg_meta.snapshot_data_files(tdir, snapshot_id=sid) == \
        [os.path.abspath(files[0])]
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="audit-2024"):
        iceberg_meta.resolve_ref(tdir, "nope")
    # timestamp resolution: fixture stamps id seconds past a fixed
    # epoch, so the older snapshot resolves below the current's stamp
    base_ms = 1704067200000
    assert iceberg_meta.snapshot_at_timestamp(
        tdir, base_ms + 1000) == 1      # inclusive at snapshot 1
    assert iceberg_meta.snapshot_at_timestamp(
        tdir, base_ms + 1999) == 1
    assert iceberg_meta.snapshot_at_timestamp(
        tdir, base_ms + 2000) == 2
    with pytest.raises(iceberg_meta.IcebergMetaError, match="precedes"):
        iceberg_meta.snapshot_at_timestamp(tdir, base_ms)


def test_iceberg_partition_pruning(tmp_path, tokens_dir):
    """partition_filter prunes at the metadata level — the filtered
    snapshot lists only the matching partition's files, none others are
    touched; files without a partition record are kept (pruning may only
    widen)."""
    import glob
    import os
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    tdir = str(tmp_path / "part_table")
    iceberg_meta.write_table_fixture(
        tdir, files,
        partitions=[{"source": "web"}, {"source": "books"}])
    allf = iceberg_meta.snapshot_data_files(tdir)
    assert allf == [os.path.abspath(f) for f in files]
    web = iceberg_meta.snapshot_data_files(
        tdir, partition_filter={"source": "web"})
    assert web == [os.path.abspath(files[0])]
    # unknown field: no entry carries it -> nothing provably excluded
    assert iceberg_meta.snapshot_data_files(
        tdir, partition_filter={"day": "2024-01-01"}) == allf
    # unpartitioned table + filter -> everything kept
    tdir2 = str(tmp_path / "nopart_table")
    iceberg_meta.write_table_fixture(tdir2, files)
    assert iceberg_meta.snapshot_data_files(
        tdir2, partition_filter={"source": "web"}) == allf


def test_iceberg_partition_filter_coerces_types(tmp_path, tokens_dir):
    """CLI filters arrive as strings; an int-typed partition field must
    still match (review: strict != pruned every file and reported an
    empty table)."""
    import glob
    import os
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    tdir = str(tmp_path / "typed_part")
    iceberg_meta.write_table_fixture(
        tdir, files, partitions=[{"year": 2024}, {"year": 2025}])
    got = iceberg_meta.snapshot_data_files(
        tdir, partition_filter={"year": "2024"})
    assert got == [os.path.abspath(files[0])]
    got2 = iceberg_meta.snapshot_data_files(
        tdir, partition_filter={"year": 2024})
    assert got2 == got


def test_avro_snappy_codec_reads(tmp_path):
    """Real writers commonly use avro.codec=snappy; the reader must
    parse the raw-snappy length header for pyarrow's decompress
    (review: it passed decompressed_size=None, which always raises)."""
    import json
    import struct
    import zlib
    import pyarrow as pa
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    recs = [{"x": i} for i in range(100)]
    body = bytearray()
    for r in recs:
        avro_io._encode(schema, r, body, {})
    raw = bytes(body)
    payload = (bytes(pa.Codec("snappy").compress(raw))
               + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF))
    out = bytearray(avro_io._MAGIC)
    avro_io._encode({"type": "map", "values": "bytes"},
                    {"avro.schema": json.dumps(schema).encode(),
                     "avro.codec": b"snappy"}, out, {})
    out.extend(avro_io._SYNC)
    avro_io._write_long(out, len(recs))
    avro_io._write_long(out, len(payload))
    out.extend(payload)
    out.extend(avro_io._SYNC)
    p = str(tmp_path / "s.avro")
    open(p, "wb").write(bytes(out))
    _, got = read_avro(p)
    assert got == recs


def test_avro_roundtrip_hypothesis():
    """Property: any value assignment to the manifest schema roundtrips
    (zigzag varints at extremes, unicode paths, empty/large maps)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    import tempfile
    import os

    schema = {"type": "record", "name": "e", "fields": [
        {"name": "status", "type": "int"},
        {"name": "sid", "type": ["null", "long"]},
        {"name": "path", "type": "string"},
        {"name": "meta", "type": {"type": "map", "values": "string"}},
        {"name": "sizes", "type": {"type": "array", "items": "long"}},
    ]}
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)

    @given(st.lists(st.fixed_dictionaries({
        "status": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "sid": st.one_of(st.none(), longs),
        "path": st.text(max_size=40),
        "meta": st.dictionaries(st.text(min_size=1, max_size=8),
                                st.text(max_size=8), max_size=4),
        "sizes": st.lists(longs, max_size=6),
    }), max_size=20))
    @settings(max_examples=40, deadline=None)
    def check(recs):
        fd, p = tempfile.mkstemp(suffix=".avro")
        os.close(fd)
        try:
            avro_io.write_avro(p, schema, recs)
            s2, got = read_avro(p)
            assert s2 == schema and got == recs
        finally:
            os.remove(p)

    check()


def test_avro_multi_block_read(tmp_path):
    """Real writers emit many sync-delimited blocks per file; the reader
    must consume them all (the fixture writer emits one, so hand-build a
    two-block file)."""
    import json
    import zlib
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    blocks = [[{"x": i} for i in range(50)],
              [{"x": i} for i in range(50, 120)]]
    out = bytearray(avro_io._MAGIC)
    avro_io._encode({"type": "map", "values": "bytes"},
                    {"avro.schema": json.dumps(schema).encode(),
                     "avro.codec": b"deflate"}, out, {})
    out.extend(avro_io._SYNC)
    for recs in blocks:
        body = bytearray()
        for r in recs:
            avro_io._encode(schema, r, body, {})
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(bytes(body)) + comp.flush()
        avro_io._write_long(out, len(recs))
        avro_io._write_long(out, len(payload))
        out.extend(payload)
        out.extend(avro_io._SYNC)
    p = str(tmp_path / "mb.avro")
    open(p, "wb").write(bytes(out))
    _, got = read_avro(p)
    assert got == blocks[0] + blocks[1]


def test_iceberg_position_deletes_encode(spark, tokens_dir, tmp_path):
    """MOR table with REAL position-delete files: snapshot_scan returns
    the delete mapping, encode_path's plan masks exactly those
    row positions, and the decoded tree holds exactly the live rows
    (VERDICT r4 next-round #4)."""
    import glob
    import pyarrow.parquet as pq
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "mor_pos")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    # delete scattered positions incl. 0, a mid-file run, and the LAST
    # row of file 0 (exercises the final batch's upper bound)
    n0 = pq.read_metadata(files[0]).num_rows
    dels = {files[0]: [0, 3, 7, 8, n0 - 1], files[1]: [5]}
    iceberg_meta.write_table_fixture(tdir, files, position_deletes=dels)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="MOR|DELETE"):
        iceberg_meta.snapshot_data_files(tdir)
    scan = iceberg_meta.snapshot_scan(tdir)
    assert scan["data_files"] == [__import__("os").path.abspath(f)
                                  for f in files]
    assert set(scan["position_deletes"]) == set(scan["data_files"])
    out = str(tmp_path / "mor_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"row_deletes": scan["position_deletes"]})
    n_del = sum(len(v) for v in dels.values())
    assert totals["n_rows"] == 300 - n_del
    # exactness: decoded doc_ids == source doc_ids minus deleted positions
    expected = []
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"]).column(
            "doc_id").to_pylist()
        dead = set(dels.get(f, []))
        expected += [d for i, d in enumerate(ids) if i not in dead]
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    got = sorted(r.doc_id for r in dec.collect())
    assert got == sorted(expected)
    # the positional verify replays the masking the wave recorded
    from embulk_input_parquet_hadoop_spark.plans import verify
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 300 - n_del


def test_iceberg_position_deletes_batch_boundaries(spark, tokens_dir,
                                                   tmp_path):
    """Positions falling on encode-batch boundaries (batch_rows=32) and a
    fully-deleted span are masked with file-absolute indexing intact."""
    import glob
    import pyarrow.parquet as pq
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "mor_edge")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))[:1]
    n = pq.read_metadata(files[0]).num_rows
    # whole second batch [32,64) dead + the two rows flanking batch 3
    dead = list(range(32, 64)) + [95, 96]
    iceberg_meta.write_table_fixture(tdir, files,
                                     position_deletes={files[0]: dead})
    scan = iceberg_meta.snapshot_scan(tdir)
    out = str(tmp_path / "edge_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"row_deletes": scan["position_deletes"]}, batch_rows=32)
    assert totals["n_rows"] == n - len(dead)
    ids = pq.read_table(files[0], columns=["doc_id"]).column(
        "doc_id").to_pylist()
    expected = sorted(d for i, d in enumerate(ids) if i not in set(dead))
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == expected


def test_iceberg_equality_deletes_refused(tmp_path, tokens_dir):
    """An equality delete WITHOUT equality_ids (or any eq delete at the
    strict entry point) must refuse — it cannot be applied exactly."""
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "eq_table")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(tdir, files, equality_deletes=True)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="equality"):
        iceberg_meta.snapshot_scan(tdir)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="equality"):
        iceberg_meta.snapshot_data_files(tdir)


def _eq_fixture(tmp_path, tokens_dir, dead_ids, name="eq_tab", **kw):
    import glob

    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / name)
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(dead_ids,
                                               type=pa.string())}),
            **kw)])
    return tdir, files


def test_iceberg_equality_deletes_applied(spark, tokens_dir, tmp_path):
    """The full equality-delete MOR chain: fixture table (real delete
    parquet + equality_ids + sequence numbers) -> snapshot_scan ->
    encode_path(plan=) -> decode == DuckDB's anti-join over the
    same parquet files; verify_files replays the masking."""
    import duckdb
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    import pyarrow.parquet as pq
    ids = []
    import glob
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    for f in files:
        ids += pq.read_table(f, columns=["doc_id"]).column(
            "doc_id").to_pylist()
    dead = sorted(set(ids))[::40][:6] + ["no-such-doc"]
    tdir, files = _eq_fixture(tmp_path, tokens_dir, dead)
    # strict entry point still refuses the MOR snapshot
    with pytest.raises(iceberg_meta.IcebergMetaError, match="DELETE"):
        iceberg_meta.snapshot_data_files(tdir)
    scan = iceberg_meta.snapshot_scan(tdir)
    assert sorted(scan["equality_deletes"]) == files  # applies to both
    out = str(tmp_path / "eq_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"eq_deletes": scan["equality_deletes"]}, batch_rows=64)
    con = duckdb.connect()
    delete_file = scan["equality_deletes"][files[0]][0]["path"]
    exp = [r[0] for r in con.execute(
        "SELECT doc_id FROM read_parquet($f) WHERE doc_id NOT IN "
        "(SELECT doc_id FROM read_parquet($d)) ORDER BY doc_id",
        {"f": files, "d": delete_file}).fetchall()]
    assert totals["n_rows"] == len(exp)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == exp
    vf = verify.verify_files(spark, out, batch_rows=64)
    assert vf["ok"] and vf["rows_compared"] == len(exp)


def test_iceberg_equality_delete_key_projected_out(spark, tokens_dir,
                                                    tmp_path):
    """``columns=`` without the equality-delete key column: the key is
    still read for the masking and dropped again, so the deleted rows
    are gone, the chunks hold only the projection, and verify_files
    replays the same read."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    src = pa.concat_tables(pq.read_table(f, columns=["doc_id", "n_tok"])
                           for f in files)
    n_tok_type = src.schema.field("n_tok").type
    dead = set(sorted(set(src.column("n_tok").to_pylist()))[::7])
    tdir = str(tmp_path / "eq_proj")
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(
            table=pa.table({"n_tok": pa.array(sorted(dead),
                                              type=n_tok_type)}),
            sequence_number=2)])
    scan = iceberg_meta.snapshot_scan(tdir)
    expected = sorted(d for d, n in zip(src.column("doc_id").to_pylist(),
                                        src.column("n_tok").to_pylist())
                      if n not in dead)
    assert 0 < len(expected) < src.num_rows
    out = str(tmp_path / "eq_proj_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"eq_deletes": scan["equality_deletes"]},
        columns=["doc_id"], batch_rows=64)
    assert totals["n_rows"] == len(expected)
    chunks = pipeline.read_chunks(spark, out)
    names = chunks.select(F.explode("cols.name").alias("n")).distinct()
    assert [r.n for r in names.collect()] == ["doc_id"]
    dec = pipeline.decode_chunks(chunks, ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == expected
    vf = verify.verify_files(spark, out, batch_rows=64)
    assert vf["ok"] and vf["rows_compared"] == len(expected)


def test_iceberg_equality_delete_sequence_scoping(tmp_path, tokens_dir):
    """Spec scoping: an equality delete applies only to data files with
    a STRICTLY lower data sequence number — a delete at the data's own
    sequence number (same commit) must not mask anything."""
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir, _files = _eq_fixture(tmp_path, tokens_dir, ["x"],
                               name="eq_same_seq", sequence_number=1)
    scan = iceberg_meta.snapshot_scan(tdir)  # data seq is also 1
    assert scan["equality_deletes"] == {}
    tdir2, files2 = _eq_fixture(tmp_path, tokens_dir, ["x"],
                                name="eq_later_seq", sequence_number=2)
    scan2 = iceberg_meta.snapshot_scan(tdir2)
    assert sorted(scan2["equality_deletes"]) == files2


def _eq_part_fixture(tmp_path, tokens_dir, name, partitions=None,
                     **delete_kw):
    """Two-file table with a doc_id-keyed equality delete at seq 2; the
    delete's partition/spec scoping comes from ``delete_kw``."""
    import glob

    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / name)
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    dead = delete_kw.pop("dead_ids", ["x"])
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150], partitions=partitions,
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(dead,
                                               type=pa.string())}),
            sequence_number=2, **delete_kw)])
    return tdir, files


def test_iceberg_equality_delete_partition_scoped_applies(
        spark, tokens_dir, tmp_path):
    """A partition-scoped equality delete applies ONLY to data files of
    the same partition (spec rule: same partition of the same partition
    spec) — same-keyed rows in other partitions survive the encode."""
    import duckdb
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    # dead ids drawn from BOTH files; the delete scopes to web (file 0)
    import glob
    files_sorted = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    dead = []
    for f in files_sorted:
        dead += pq.read_table(f, columns=["doc_id"]).column(
            "doc_id").to_pylist()[:3]
    tdir, files = _eq_part_fixture(
        tmp_path, tokens_dir, "eq_part_apply",
        partitions=[{"source": "web"}, {"source": "books"}],
        partition={"source": "web"}, dead_ids=dead)
    scan = iceberg_meta.snapshot_scan(tdir)
    assert sorted(scan["equality_deletes"]) == [files[0]]  # web only
    out = str(tmp_path / "eq_part_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"eq_deletes": scan["equality_deletes"]}, batch_rows=64)
    con = duckdb.connect()
    # oracle: delete keys masked from file 0 only; file 1 intact
    exp = [r[0] for r in con.execute(
        "SELECT doc_id FROM read_parquet($w) WHERE doc_id NOT IN "
        "(SELECT UNNEST($dead::varchar[])) "
        "UNION ALL SELECT doc_id FROM read_parquet($b) ORDER BY 1",
        {"w": files[0], "b": files[1], "dead": dead}).fetchall()]
    assert totals["n_rows"] == len(exp)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == exp


def test_iceberg_equality_delete_null_partition_is_scoped(tmp_path,
                                                          tokens_dir):
    """A delete whose partition record holds a NULL value is scoped to
    the null partition, not global: with no null-partition data files it
    applies nowhere."""
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir, _files = _eq_part_fixture(
        tmp_path, tokens_dir, "eq_part_null",
        partitions=[{"source": "web"}, {"source": "books"}],
        partition={"source": None})
    assert iceberg_meta.snapshot_scan(tdir)["equality_deletes"] == {}


def test_iceberg_equality_delete_other_spec_ignored(tmp_path,
                                                    tokens_dir):
    """A partition-scoped delete under a DIFFERENT partition spec id
    does not apply to this spec's data files (spec: "same partition of
    the same partition spec")."""
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir, _files = _eq_part_fixture(
        tmp_path, tokens_dir, "eq_part_spec",
        partitions=[{"source": "web"}, {"source": "books"}],
        partition={"source": "web"}, partition_spec_id=1)
    assert iceberg_meta.snapshot_scan(tdir)["equality_deletes"] == {}


def test_iceberg_equality_delete_partition_unresolvable_refused(
        tmp_path, tokens_dir):
    """Data files carrying NO partition record while a same-spec
    partition-scoped delete is in sequence scope: membership is
    undecidable (skipping could resurrect rows, applying could delete
    live ones) — refuse loudly."""
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir, _files = _eq_part_fixture(
        tmp_path, tokens_dir, "eq_part_nopart", partitions=None,
        partition={"source": "web"})
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="cannot decide membership"):
        iceberg_meta.snapshot_scan(tdir)


def test_iceberg_equality_delete_unknown_field_id_refused(tmp_path,
                                                          tokens_dir):
    """equality_ids that don't resolve through the table schema refuse
    (rather than guessing a column)."""
    import glob

    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "eq_badid")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    # schema maps only doc_id -> id 1; the delete keys on a column whose
    # field id (2, "mystery") the schema does not carry
    iceberg_meta.write_table_fixture(
        tdir, files, schema_fields=["doc_id", "mystery"],
        equality_delete_tables=[{
            "table": pa.table({"mystery": ["z"]}), "sequence_number": 2}])
    meta_path = f"{tdir}/metadata/v1.metadata.json"
    import json as _json
    meta = _json.load(open(meta_path))
    meta["schemas"][0]["fields"] = [
        f for f in meta["schemas"][0]["fields"] if f["name"] == "doc_id"]
    _json.dump(meta, open(meta_path, "w"))
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="not a top-level field"):
        iceberg_meta.snapshot_scan(tdir)


def test_equality_filter_nulls_multicol_and_widths():
    """_EqualityDeleteFilter unit semantics: null matches null (spec),
    NaN matches NaN, multi-column keys AND together, and delete-file
    ints of a narrower width still match (int32 keys vs int64 data)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)
    import tempfile
    d = tempfile.mkdtemp()
    dp = f"{d}/eqdel.parquet"
    pq.write_table(pa.table({
        "k": pa.array([1, None, 7], type=pa.int32()),
        "s": pa.array(["a", "b", None], type=pa.string()),
    }), dp)
    f = _EqualityDeleteFilter.build([{"path": dp, "columns": ["k", "s"]}])
    batch = pa.record_batch({
        "k": pa.array([1, 1, None, None, 7, 2], type=pa.int64()),
        "s": pa.array(["a", "b", "b", None, None, "a"]),
        "payload": pa.array(list(range(6))),
    })
    kept = f.apply(batch)
    # dead: (1,a) row0, (None,b) row2, (7,None) row4; survivors 1,3,5
    assert kept.column("payload").to_pylist() == [1, 3, 5]
    # NaN key: Python NaN != NaN, the filter must still match it
    dp2 = f"{d}/eqdel2.parquet"
    pq.write_table(pa.table({"x": pa.array([float("nan"), 1.5])}), dp2)
    f2 = _EqualityDeleteFilter.build([{"path": dp2, "columns": ["x"]}])
    b2 = pa.record_batch({
        "x": pa.array([float("nan"), 2.5, 1.5, None]),
        "i": pa.array([0, 1, 2, 3])})
    assert f2.apply(b2).column("i").to_pylist() == [1, 3]
    # missing key column raises loudly (columns= projected it out)
    with pytest.raises(ValueError, match="not in the data batch"):
        f2.apply(pa.record_batch({"i": pa.array([0])}))


def test_equality_filter_float_width_promotion(tmp_path):
    """Iceberg's float->double type promotion: delete keys stored as
    float32 must still delete data rows holding the widened float64
    value. Regression: the hash prefilter string-cast each side at its
    own width ("1.1" vs "1.100000023841858"), missed every candidate,
    and the deleted rows silently survived. A double that is NOT the
    widened float32 (exact 1.1) must survive — engines compare at the
    promoted width."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)
    dp = str(tmp_path / "eqdel_f32.parquet")
    pq.write_table(pa.table({
        "x": pa.array([1.1, 7.7], type=pa.float32())}), dp)
    f = _EqualityDeleteFilter.build([{"path": dp, "columns": ["x"]}])
    w = lambda v: float(np.float64(np.float32(v)))  # noqa: E731
    batch = pa.record_batch({
        "x": pa.array([w(1.1), 1.1, w(7.7), 2.2], type=pa.float64()),
        "i": pa.array([0, 1, 2, 3])})
    assert f.apply(batch).column("i").to_pylist() == [1, 3]
    # and the unpromoted case still works bit-for-bit
    b32 = pa.record_batch({
        "x": pa.array([1.1, 2.2], type=pa.float32()),
        "i": pa.array([0, 1])})
    assert f.apply(b32).column("i").to_pylist() == [1]


def test_equality_filter_field_id_rename_resolution(tmp_path):
    """Column renames: equality keys resolve by Parquet field id (the
    spec's identity), not by name — a delete file written before the
    rename (physical column 'uid') still applies to a data file whose
    physical column is also 'uid' while the CURRENT schema calls the
    field 'user_id'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)
    fid = {b"PARQUET:field_id": b"7"}
    dp = str(tmp_path / "eqdel_uid.parquet")
    dtab = pa.table({"uid": ["d1", "d3"]}).cast(
        pa.schema([pa.field("uid", pa.string(), metadata=fid)]))
    pq.write_table(dtab, dp)
    descs = [{"path": dp, "columns": ["user_id"], "ids": [7]}]
    data_schema = pa.schema([
        pa.field("uid", pa.string(), metadata=fid),
        pa.field("i", pa.int64())])
    f = _EqualityDeleteFilter.build(descs, data_schema=data_schema)
    assert f.columns_needed == ["uid"]  # data-side physical name
    batch = pa.record_batch({
        "uid": pa.array(["d0", "d1", "d2", "d3"]),
        "i": pa.array([0, 1, 2, 3])})
    assert f.apply(batch).column("i").to_pylist() == [0, 2]
    # data file with NO field ids: falls back to the current-schema name
    f2 = _EqualityDeleteFilter.build(
        descs, data_schema=pa.schema([pa.field("user_id", pa.string())]))
    b2 = pa.record_batch({"user_id": pa.array(["d1", "d9"]),
                          "i": pa.array([0, 1])})
    assert f2.apply(b2).column("i").to_pylist() == [1]
    # data file whose ids exist but lack the key's id, and no same-named
    # column either -> loud refusal (pre-rename file, unresolvable)
    f3 = _EqualityDeleteFilter.build(
        descs, data_schema=pa.schema([pa.field(
            "other", pa.string(),
            metadata={b"PARQUET:field_id": b"9"})]))
    with pytest.raises(ValueError, match="not in the data batch"):
        f3.apply(pa.record_batch({"other": pa.array(["d1"])}))


def test_iceberg_eq_delete_non_primitive_key_refused(tmp_path,
                                                     tokens_dir):
    """equality_ids pointing at a non-primitive field (list/struct/map)
    refuse at PLANNING time — the spec limits equality keys to
    primitives, and letting it through would crash unhashably inside an
    encode task hours later."""
    import glob

    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "eq_nonprim")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=[
            "doc_id",
            ("tokens", {"type": "list", "element-id": 100,
                        "element": "int", "element-required": False})],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(["x"], type=pa.string())}),
            equality_ids=[2])])
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="non-primitive"):
        iceberg_meta.snapshot_scan(tdir)
    # ...but only when it APPLIES: the same delete fully out of
    # sequence scope (same seq as the data) blocks nothing
    tdir2 = str(tmp_path / "eq_nonprim_oos")
    iceberg_meta.write_table_fixture(
        tdir2, files, record_counts=[150, 150],
        schema_fields=[
            "doc_id",
            ("tokens", {"type": "list", "element-id": 100,
                        "element": "int", "element-required": False})],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(["x"], type=pa.string())}),
            equality_ids=[2], sequence_number=1)])
    assert iceberg_meta.snapshot_scan(tdir2)["equality_deletes"] == {}


def test_iceberg_eq_delete_rename_end_to_end(spark, tokens_dir,
                                             tmp_path):
    """Full chain with a column rename: data + delete parquet both carry
    Parquet field ids and the PHYSICAL key column 'doc_id', while the
    table's CURRENT schema calls field 1 'document_id'. snapshot_scan
    resolves names from the current schema; the encode task and
    verify_files resolve back to the physical columns by field id."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta

    # restamp the corpus files with Iceberg-style field ids 1..4
    data_dir = tmp_path / "fid_data"
    data_dir.mkdir()
    files = []
    all_ids = []
    for src in sorted(glob.glob(f"{tokens_dir}/*.parquet")):
        t = pq.read_table(src)
        fields = [
            pa.field(f.name, f.type,
                     metadata={b"PARQUET:field_id": str(i + 1).encode()})
            for i, f in enumerate(t.schema)]
        dst = str(data_dir / os.path.basename(src))
        pq.write_table(t.cast(pa.schema(fields)), dst)
        files.append(dst)
        all_ids += t.column("doc_id").to_pylist()
    dead = sorted(set(all_ids))[::50][:5]
    dtab = pa.table({"doc_id": pa.array(dead, type=pa.string())}).cast(
        pa.schema([pa.field("doc_id", pa.string(),
                            metadata={b"PARQUET:field_id": b"1"})]))
    tdir = str(tmp_path / "renamed_table")
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=["document_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(table=dtab, equality_ids=[1])])
    scan = iceberg_meta.snapshot_scan(tdir)
    assert all(e["columns"] == ["document_id"] and e["ids"] == [1]
               for v in scan["equality_deletes"].values() for e in v)
    out = str(tmp_path / "renamed_enc")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"eq_deletes": scan["equality_deletes"]}, batch_rows=64)
    assert totals["n_rows"] == len(all_ids) - len(dead)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    got = sorted(r.doc_id for r in dec.collect())
    assert got == sorted(i for i in all_ids if i not in set(dead))
    vf = verify.verify_files(spark, out, batch_rows=64)
    assert vf["ok"] and vf["rows_compared"] == len(all_ids) - len(dead)


def test_equality_filter_signed_zero_consistent(tmp_path):
    """-0.0 and 0.0 are ONE key on both matching paths: the exact-tuple
    confirmation uses Python ==, which equates signed zeros, so the
    hash prefilter must too (regression: '-0' vs '0' string forms made
    the hash path miss what the exact-only fallback deleted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.plans.pipeline import (
        _EqualityDeleteFilter)
    dp = str(tmp_path / "eqdel_zero.parquet")
    pq.write_table(pa.table({
        "x": pa.array([-0.0, 5.5], type=pa.float64())}), dp)
    f = _EqualityDeleteFilter.build([{"path": dp, "columns": ["x"]}])
    batch = pa.record_batch({
        "x": pa.array([0.0, -0.0, 1.0], type=pa.float64()),
        "i": pa.array([0, 1, 2])})
    assert f.apply(batch).column("i").to_pylist() == [2]


def test_verify_files_missing_source_is_per_file_err(spark, tokens_dir,
                                                     tmp_path):
    """A vanished/corrupt source file during a MOR verify yields a
    structured per-file err row; the other files still verify
    (regression: the eq-filter build ran OUTSIDE the per-file error
    capture and aborted the whole Spark job)."""
    import glob
    import os
    import shutil

    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    import pyarrow.parquet as pq

    # verify reads sources by the path recorded at encode time — encode
    # from a throwaway copy so one source can vanish afterwards
    data = tmp_path / "vanish_src"
    data.mkdir()
    files = []
    for f in sorted(glob.glob(f"{tokens_dir}/*.parquet")):
        dst = str(data / os.path.basename(f))
        shutil.copy(f, dst)
        files.append(dst)
    ids = pq.read_table(files[0], columns=["doc_id"]).column(
        "doc_id").to_pylist()
    tdir = str(tmp_path / "vanish_tab")
    import pyarrow as pa
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(ids[:3],
                                               type=pa.string())}))])
    scan = iceberg_meta.snapshot_scan(tdir)
    out = str(tmp_path / "vanish_enc")
    pipeline.encode_path(spark, tdir, out,
                         input_files=scan["data_files"],
                         plan={"eq_deletes": scan["equality_deletes"]})
    os.remove(files[0])
    vf = verify.verify_files(spark, out)
    assert not vf["ok"]
    # one structured err string for the vanished file; the other file
    # still verified (files_compared counts both)
    assert len(vf["errors"]) == 1
    assert vf["files_compared"] == 2
    e = vf["errors"][0]
    assert ("FileNotFoundError" in e or "No such" in e
            or "exist" in e or "not found" in e.lower())


def test_iceberg_v3_puffin_delete_vector_refused(tmp_path, tokens_dir):
    """An UNRESOLVABLE v3 deletion vector refuses at planning: this DV
    manifest entry carries none of the referenced_data_file /
    content_offset fields AND points at a puffin file that does not
    exist, so the footer fallback cannot map it either. (Well-formed
    DVs decode natively — test_iceberg_v3_deletion_vectors_encode.)"""
    import glob
    import json
    import os
    import uuid

    from embulk_input_parquet_hadoop_spark.sources import (avro_io,
                                                           iceberg_meta)
    tdir = str(tmp_path / "dv_table")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(tdir, files, record_counts=[150, 150])
    # splice a v3-style DV manifest into the current snapshot's list
    meta_dir = os.path.join(tdir, "metadata")
    dv_man = os.path.join(meta_dir, f"dv-{uuid.uuid4().hex}.avro")
    avro_io.write_avro(dv_man, iceberg_meta._MANIFEST_SCHEMA, [{
        "status": 1, "snapshot_id": 1, "sequence_number": None,
        "data_file": {
            "content": 1,  # position deletes, but stored as a puffin DV
            "file_path": os.path.join(tdir, "data", "dv-0.puffin"),
            "file_format": "PUFFIN",
            "record_count": 3,
            "file_size_in_bytes": 0,
        }}])
    with open(os.path.join(meta_dir, "v1.metadata.json")) as f:
        meta = json.load(f)
    mlist = meta["snapshots"][-1]["manifest-list"]
    _, manifests = read_avro(mlist)
    manifests.append({
        "manifest_path": dv_man,
        "manifest_length": os.path.getsize(dv_man),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 2, "added_snapshot_id": 1,
    })
    avro_io.write_avro(mlist, iceberg_meta._MANIFEST_LIST_SCHEMA,
                       manifests)
    with pytest.raises(iceberg_meta.IcebergMetaError, match="PUFFIN"):
        iceberg_meta.snapshot_scan(tdir)


def test_iceberg_v3_deletion_vectors_encode(spark, tokens_dir, tmp_path):
    """Iceberg v3 MOR: deletion vectors (puffin roaring bitmaps) decode
    natively — snapshot_scan maps each DV blob to its data file via the
    manifest's referenced_data_file/content_offset fields, the encode
    task ranged-reads and applies it, and the decoded tree holds
    exactly the live rows. Verify replays the same mapping."""
    import glob
    import pyarrow.parquet as pq
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "dv_enc_tbl")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    n0 = pq.read_metadata(files[0]).num_rows
    # position 0, a dense run (roaring run/array shapes), and the last
    # row of file 0; a sparse scatter in file 1
    dels = {files[0]: [0] + list(range(10, 40)) + [n0 - 1],
            files[1]: [5, 64, 65]}
    iceberg_meta.write_table_fixture(tdir, files, deletion_vectors=dels)
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="deletion vector"):
        iceberg_meta.snapshot_data_files(tdir)
    scan = iceberg_meta.snapshot_scan(tdir)
    assert set(scan["position_deletes"]) == set(scan["data_files"])
    for v in scan["position_deletes"].values():
        assert len(v) == 1 and v[0].startswith("puffin:")
    out = str(tmp_path / "dv_enc_out")
    totals = pipeline.encode_path(
        spark, tdir, out, input_files=scan["data_files"],
        plan={"row_deletes": scan["position_deletes"]}, batch_rows=32)
    n_del = sum(len(v) for v in dels.values())
    assert totals["n_rows"] == 300 - n_del
    expected = []
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"]).column(
            "doc_id").to_pylist()
        dead = set(dels.get(f, []))
        expected += [d for i, d in enumerate(ids) if i not in dead]
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == sorted(expected)
    vf = verify.verify_files(spark, out, batch_rows=32)
    assert vf["ok"] and vf["rows_compared"] == 300 - n_del


def test_iceberg_dv_footer_fallback(tmp_path, tokens_dir):
    """A DV manifest entry WITHOUT the v3 referenced/offset fields maps
    through the puffin footer's blob metadata instead (two ranged
    reads at planning, still no blob data)."""
    import glob
    import os
    import numpy as np
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "dv_fb_tbl")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files, deletion_vectors={files[0]: [3, 4, 90]},
        dv_manifest_fields=False)
    scan = iceberg_meta.snapshot_scan(tdir)
    f0 = os.path.abspath(files[0])
    assert list(scan["position_deletes"]) == [f0]
    got = pipeline._read_delete_positions(
        f0, scan["position_deletes"][f0])
    assert np.array_equal(got, [3, 4, 90])


def test_iceberg_dv_supersedes_parquet_pos_deletes(tmp_path, tokens_dir):
    """When a data file has BOTH v2 position-delete parquet and a v3 DV,
    the DV wins alone — the spec requires a DV to carry ALL deleted
    positions of its file and readers to ignore older delete files."""
    import glob
    import os
    import numpy as np
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "dv_both_tbl")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files,
        position_deletes={files[0]: [1, 2], files[1]: [7]},
        # the DV (written later, per spec merged from the old deletes)
        deletion_vectors={files[0]: [1, 2, 50]})
    scan = iceberg_meta.snapshot_scan(tdir)
    f0, f1 = (os.path.abspath(f) for f in files)
    assert len(scan["position_deletes"][f0]) == 1
    assert scan["position_deletes"][f0][0].startswith("puffin:")
    got = pipeline._read_delete_positions(
        f0, scan["position_deletes"][f0])
    assert np.array_equal(got, [1, 2, 50])
    # the other file keeps its parquet position-delete path
    assert scan["position_deletes"][f1][0].endswith(".parquet")


def test_iceberg_dv_on_old_file_refuses_diff(tmp_path, tokens_dir):
    """A DV arriving on a file that was already live at the FROM
    snapshot changes that file's effective rows — snapshot_scan_diff
    must refuse (append-only encode trees cannot retract committed
    rows), exactly as it does for new parquet position deletes."""
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    tdir = str(tmp_path / "dv_diff_tbl")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files, snapshot_id=2,
        older_snapshots={1: files},          # same files, no deletes
        deletion_vectors={files[0]: [4, 8]})  # DV added by snapshot 2
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="changed between snapshots"):
        iceberg_meta.snapshot_scan_diff(tdir, 1)


def test_iceberg_dv_duplicate_refused(tmp_path, tokens_dir):
    """Two DVs referencing the same data file violate the v3 spec's
    at-most-one rule — refuse rather than guess which is current."""
    import glob
    import json
    import os
    import uuid
    from embulk_input_parquet_hadoop_spark.sources import (avro_io,
                                                           iceberg_meta,
                                                           puffin)
    tdir = str(tmp_path / "dv_dup_tbl")
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))
    iceberg_meta.write_table_fixture(
        tdir, files, deletion_vectors={files[0]: [1]})
    # splice a second DV manifest targeting the same data file
    meta_dir = os.path.join(tdir, "metadata")
    dv2 = os.path.join(tdir, "data", "dv-extra.puffin")
    locs = puffin.write_dv_puffin(
        dv2, {os.path.abspath(files[0]): [9]})
    loc = locs[os.path.abspath(files[0])]
    man = os.path.join(meta_dir, f"dv-{uuid.uuid4().hex}.avro")
    avro_io.write_avro(
        man, iceberg_meta._manifest_schema(with_dv_fields=True), [{
            "status": 1, "snapshot_id": 1, "sequence_number": None,
            "data_file": {
                "content": 1, "file_path": dv2, "file_format": "PUFFIN",
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(dv2),
                "referenced_data_file": os.path.abspath(files[0]),
                "content_offset": loc["offset"],
                "content_size_in_bytes": loc["length"],
            }}])
    with open(os.path.join(meta_dir, "v1.metadata.json")) as f:
        meta = json.load(f)
    mlist = meta["snapshots"][-1]["manifest-list"]
    _, manifests = read_avro(mlist)
    manifests.append({
        "manifest_path": man, "manifest_length": os.path.getsize(man),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": 3, "added_snapshot_id": 1,
    })
    avro_io.write_avro(mlist, iceberg_meta._MANIFEST_LIST_SCHEMA,
                       manifests)
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="more than one deletion vector"):
        iceberg_meta.snapshot_scan(tdir)


def test_iceberg_table_on_object_store_end_to_end(spark, tokens_dir,
                                                  tmp_path):
    """A whole Iceberg table living on an object store — metadata.json,
    avro manifests, position-delete parquet, and the data files — scans
    and encodes to an object-store out_dir with no local staging: every
    metadata read routes through fsutil (mock-s3 exercises the PUT-only
    protocol), and verify_files replays the deletes remotely."""
    import glob
    import os

    from embulk_input_parquet_hadoop_spark.plans import (fsutil, pipeline,
                                                         verify)
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    bucket = f"mock-s3://bkt{tmp_path}"
    remote_data = []
    for f in sorted(glob.glob(f"{tokens_dir}/*.parquet")):
        dst = f"{bucket}/table/data/{os.path.basename(f)}"
        fsutil.put_file(dst, f)
        remote_data.append(dst)
    dead = [0, 1, 149]
    staging = str(tmp_path / "staging_tbl")
    iceberg_meta.write_table_fixture(
        staging, remote_data, record_counts=[150, 150],
        position_deletes={remote_data[0]: dead})
    remote_tbl = f"{bucket}/table"
    for root, _dirs, fns in os.walk(staging):
        for fn in fns:
            src = os.path.join(root, fn)
            rel = os.path.relpath(src, staging)
            fsutil.put_file(f"{remote_tbl}/{rel}", src)
    scan = iceberg_meta.snapshot_scan(remote_tbl)
    assert scan["data_files"] == remote_data
    assert set(scan["position_deletes"]) == {remote_data[0]}
    out = f"{bucket}/enc"
    totals = pipeline.encode_path(
        spark, remote_tbl, out, input_files=scan["data_files"],
        plan={"row_deletes": scan["position_deletes"]})
    assert totals["n_rows"] == 300 - len(dead)
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 300 - len(dead)


def test_relocated_table_pos_deletes_refuse(spark, tokens_dir, tmp_path):
    """A table tree copied to a new location WITHOUT path rewriting: the
    scan's prefix remap resolves the delete mapping, but the raw
    file_path strings inside the delete parquet still carry the old
    location — the encode must fail loudly, never silently serve the
    deleted rows (the pushdown filter would match zero rows)."""
    import glob
    import os
    import shutil

    from embulk_input_parquet_hadoop_spark.plans import pipeline
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    orig = str(tmp_path / "orig_tbl")
    os.makedirs(orig + "/data")
    files = []
    for f in sorted(glob.glob(f"{tokens_dir}/*.parquet")):
        dst = os.path.join(orig, "data", os.path.basename(f))
        shutil.copy(f, dst)
        files.append(dst)
    iceberg_meta.write_table_fixture(
        orig, files, record_counts=[150, 150],
        position_deletes={files[0]: [0, 1]})
    moved = str(tmp_path / "moved_tbl")
    shutil.copytree(orig, moved)
    shutil.rmtree(orig)  # the original location is GONE
    scan = iceberg_meta.snapshot_scan(moved)
    # the mapping itself resolves (prefix remap)...
    assert len(scan["position_deletes"]) == 1
    out = str(tmp_path / "moved_enc")
    with pytest.raises(Exception, match="deleted rows|bad files"):
        pipeline.encode_path(
            spark, moved, out, input_files=scan["data_files"],
            plan={"row_deletes": scan["position_deletes"]})
