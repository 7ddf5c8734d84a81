"""Reference-parity pipeline features: bad-file tolerance, strict schema,
column projection, zone-map pruning, skew-balanced clustering."""

import os

import pytest
from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
from embulk_input_parquet_hadoop_spark.sources import datagen


@pytest.fixture(scope="module")
def tokens_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("feat") / "tokens")
    datagen.generate(path, n_docs=2000, seed=5, n_files=4)
    return path


def _corrupt_copy(tokens_dir, tmp_path):
    import shutil
    bad_dir = str(tmp_path / "tokens_bad")
    shutil.copytree(tokens_dir, bad_dir)
    victim = os.path.join(bad_dir, "part-00001.parquet")
    size = os.path.getsize(victim)
    with open(victim, "r+b") as f:  # truncate mid-file: unreadable footer
        f.truncate(size // 2)
    return bad_dir


def test_bad_file_fails_at_zero_threshold(spark, tokens_dir, tmp_path):
    bad_dir = _corrupt_copy(tokens_dir, tmp_path)
    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, bad_dir, str(tmp_path / "out0"),
                             bad_file_threshold=0.0)
    # wave must NOT have committed (write-ahead ordering)
    assert mf.completed_waves(spark, str(tmp_path / "out0")) == set()


def test_bad_file_tolerated_within_threshold(spark, tokens_dir, tmp_path):
    bad_dir = _corrupt_copy(tokens_dir, tmp_path)
    out = str(tmp_path / "out1")
    totals = pipeline.encode_path(spark, bad_dir, out,
                                  bad_file_threshold=0.5)
    assert totals["n_rows"] == 1500  # 3 of 4 files
    rec = mf.read_manifest(spark, out).collect()[0]
    assert rec.n_bad_files == 1
    # the error is recorded with its source file in chunks_meta
    meta = spark.read.parquet(f"{out}/chunks_meta")
    errs = meta.filter(F.col("error").isNotNull()).collect()
    assert len(errs) == 1 and "part-00001" in errs[0].source_file


def test_strict_schema_check(spark, tokens_dir, tmp_path):
    with pytest.raises(TypeError, match="schema mismatch"):
        pipeline.encode_path(
            spark, tokens_dir, str(tmp_path / "out2"),
            expected_schema="doc_id string, tokens array<bigint>, "
                            "n_tok int, source string")
    # exact schema passes
    pipeline.encode_path(
        spark, tokens_dir, str(tmp_path / "out2"),
        expected_schema="doc_id string, tokens array<int>, n_tok int, "
                        "source string")


def test_column_projection(spark, tokens_dir, tmp_path):
    out = str(tmp_path / "out3")
    pipeline.encode_path(spark, tokens_dir, out,
                         columns=["doc_id", "n_tok"])
    chunks = pipeline.read_chunks(spark, out)
    names = chunks.select(F.explode("cols.name").alias("n")) \
        .distinct().collect()
    assert {r.n for r in names} == {"doc_id", "n_tok"}
    dec = pipeline.decode_chunks(chunks, ["doc_id", "n_tok"],
                                 "doc_id string, n_tok int")
    src = spark.read.parquet(tokens_dir).select("doc_id", "n_tok")
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 2000


def test_zone_map_pruning(spark, tokens_dir, tmp_path):
    out = str(tmp_path / "out4")
    # clustered encode sorts by n_tok within partitions -> tight zone maps
    pipeline.encode_path(spark, tokens_dir, out)
    chunks = pipeline.read_chunks(spark, out)
    total = chunks.count()
    pruned = pipeline.prune_chunks(chunks, "n_tok", lo=100, hi=120)
    kept = pruned.count()
    assert 0 < kept <= total
    # no false negatives: every row with n_tok in range survives pruning
    dec_all = pipeline.decode_chunks(chunks, ["n_tok"], "n_tok int") \
        .filter((F.col("n_tok") >= 100) & (F.col("n_tok") <= 120)).count()
    dec_pruned = pipeline.decode_chunks(pruned, ["n_tok"], "n_tok int") \
        .filter((F.col("n_tok") >= 100) & (F.col("n_tok") <= 120)).count()
    assert dec_all == dec_pruned


def test_clustered_encode_balances_skew(spark, tmp_path):
    """One dominant source + heavy-tail lengths must still land balanced
    partitions (the salted repartition's whole job)."""
    out = str(tmp_path / "skew_out")
    docs = spark.range(4000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array_repeat((F.col("id") % 50257).cast("int"),
                       F.when(F.col("id") % 97 == 0, 4000)
                       .otherwise(20).cast("int")).alias("tokens"),
        F.when(F.col("id") % 97 == 0, 4000).otherwise(20).cast("int")
        .alias("n_tok"),
        F.lit("dominant").alias("source"))
    src = str(tmp_path / "skew_tokens")
    docs.write.parquet(src)
    pipeline.encode_path(spark, src, out, cluster_partitions=8)
    stats = (pipeline.read_chunks(spark, out)
             .groupBy("part_id").agg(F.sum("n_tokens").alias("toks"))
             .collect())
    loads = sorted(r.toks for r in stats)
    # max partition carries < 3x the mean (unsalted, all heavy docs of the
    # single (source, bucket) pair would collapse into one partition)
    mean = sum(loads) / len(loads)
    assert loads[-1] < 3 * mean, loads


def test_encode_embeddings_table_roundtrip(spark, tmp_path):
    """Full pipeline over a non-token table (vec_id bigint,
    embedding array<float>, label int) — the extended type coverage."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "emb_out")
    totals = pipeline.encode_path(spark, src, out)
    assert totals["n_rows"] == 500
    chunks = pipeline.read_chunks(spark, out)
    dec = pipeline.decode_chunks(
        chunks, ["vec_id", "embedding", "label"],
        "vec_id bigint, embedding array<float>, label int")
    srcdf = spark.read.parquet(src)
    assert dec.count() == 500
    assert dec.exceptAll(srcdf).count() == 0
    assert srcdf.exceptAll(dec).count() == 0


def test_retry_cleans_stale_wave_parts(spark, tokens_dir, tmp_path):
    """A failed attempt's leftover chunk files must not survive a retry
    with a different partition layout (no duplicated rows on decode)."""
    import shutil as sh
    out = str(tmp_path / "retry_out")
    # attempt 1: encode everything (4 files -> parts 0..3), then forge a
    # crash-before-commit by deleting the manifest + meta
    pipeline.encode_path(spark, tokens_dir, out)
    sh.rmtree(f"{out}/manifest")
    sh.rmtree(f"{out}/chunks_meta")
    # attempt 2: same wave id but only half the files (fewer partitions)
    files = sorted(spark.read.parquet(tokens_dir).inputFiles())[:2]
    sub = str(tmp_path / "sub_tokens")
    import os
    os.makedirs(sub)
    for f in files:
        sh.copy(f.replace("file:", ""), sub)
    totals = pipeline.encode_path(spark, sub, out)
    assert totals["n_rows"] == 1000
    dec = pipeline.decode_chunks(pipeline.read_chunks(spark, out),
                                 ["doc_id"], "doc_id string")
    assert dec.count() == 1000  # no stale parts from attempt 1


def test_compression_beats_spark_parquet_zstd(spark, tmp_path):
    """North-star size contract: encoded bytes on disk <= Spark's own
    df.write.parquet(zstd) of identical data (needs enough rows that
    chunk-level dictionaries/symbol tables amortize)."""
    src = str(tmp_path / "size_tokens")
    datagen.generate(src, n_docs=6000, seed=21, n_files=4)
    out = str(tmp_path / "size_out")
    pipeline.encode_path(spark, src, out)
    ref = str(tmp_path / "parquet_ref")
    spark.read.parquet(src).write.option("compression", "zstd").parquet(ref)

    def psize(d):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))

    ours, theirs = psize(f"{out}/chunks"), psize(ref)
    assert ours <= theirs, (ours, theirs)


def test_prune_chunks_keeps_statless_columns(spark, tokens_dir, tmp_path):
    """Chunks with null zone maps (string columns) or a missing column must
    be KEPT — pruning may only act on proof."""
    out = str(tmp_path / "prune_null")
    pipeline.encode_path(spark, tokens_dir, out)
    chunks = pipeline.read_chunks(spark, out)
    total = chunks.count()
    # doc_id is a string column: no zone map -> nothing may be pruned
    assert pipeline.prune_chunks(chunks, "doc_id", lo=0).count() == total
    # unknown column: no proof -> nothing pruned, no ANSI error
    assert pipeline.prune_chunks(chunks, "nope", lo=0, hi=1).count() == total


def _corrupt_row_group(path, rg=0):
    """Clobber data pages of one row group, leaving footer + other groups
    intact (zstd/thrift decode of that group then raises)."""
    import pyarrow.parquet as pq
    col = pq.ParquetFile(path).metadata.row_group(rg).column(0)
    with open(path, "r+b") as f:
        f.seek(col.data_page_offset + 8)
        f.write(b"\xff" * min(64, col.total_compressed_size - 16))


def test_bad_row_group_tolerated_within_threshold(spark, tmp_path):
    """Reference semantics (ParquetRowReader.java:142-147): a corrupt row
    group inside a multi-group file skips only that group's rows."""
    import pyarrow.parquet as pq
    src = str(tmp_path / "rg_tokens")
    datagen.generate(src, n_docs=2000, seed=9, n_files=1, batch_rows=500)
    victim = os.path.join(src, "part-00000.parquet")
    assert pq.ParquetFile(victim).metadata.num_row_groups == 4
    _corrupt_row_group(victim)
    out = str(tmp_path / "rg_out")
    totals = pipeline.encode_path(spark, src, out, bad_record_threshold=0.3)
    assert totals["n_rows"] == 1500  # 3 of 4 row groups survive
    rec = mf.read_manifest(spark, out).collect()[0]
    assert rec.n_bad_files == 0
    assert rec.n_bad_rows == 500
    # surviving rows decode bit-identical to a clean regeneration
    clean = str(tmp_path / "rg_clean")
    datagen.generate(clean, n_docs=2000, seed=9, n_files=1, batch_rows=500)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "tokens"],
        "doc_id string, tokens array<int>")
    srcdf = spark.read.parquet(clean).select("doc_id", "tokens")
    assert dec.count() == 1500
    assert dec.exceptAll(srcdf).count() == 0
    # verify replays the same skip of the corrupt group
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 1500


def test_bad_row_group_strict_fails_whole_file(spark, tmp_path):
    """At bad_record_threshold=0.0 a corrupt row group fails the file, and
    NONE of the file's chunks commit (no partial-file data visible)."""
    src = str(tmp_path / "rg_strict")
    datagen.generate(src, n_docs=2000, seed=9, n_files=1, batch_rows=500)
    _corrupt_row_group(os.path.join(src, "part-00000.parquet"))
    out0 = str(tmp_path / "rg_strict_out0")
    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, src, out0)
    assert pipeline.read_chunks(spark, out0).count() == 0
    # tolerated at the file level: wave commits, file recorded failed,
    # zero of its rows present
    out1 = str(tmp_path / "rg_strict_out1")
    totals = pipeline.encode_path(spark, src, out1, bad_file_threshold=1.0)
    assert totals["n_rows"] == 0
    rec = mf.read_manifest(spark, out1).collect()[0]
    assert rec.n_bad_files == 1
    assert pipeline.read_chunks(spark, out1).count() == 0


def test_uncommitted_wave_invisible(spark, tokens_dir, tmp_path):
    """ADVICE r1: an aborted wave's already-renamed chunk parts must not be
    served — a wave is visible iff its manifest record exists."""
    bad_dir = _corrupt_copy(tokens_dir, tmp_path)
    out = str(tmp_path / "out_inv")
    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, bad_dir, out, bad_file_threshold=0.0)
    # the three good files' parts exist on disk, but no manifest record
    assert pipeline.read_chunks(spark, out).count() == 0
    with pytest.raises(FileNotFoundError):
        mf.all_chunk_stats(spark, out)


def test_mixed_schema_tree_encodes_to_union(spark, tmp_path):
    """Reference parity: files with incompatible schemas decode side by
    side into the union (test-data/incompatible-schema/expected.csv mixes
    {c_int} and {c_str,c_bool} rows, TestParquetHadoopInputPlugin.java:
    48-53)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "mixed")
    os.makedirs(src)
    pq.write_table(pa.table({"c_int": pa.array([1, 2, 3], pa.int32())}),
                   f"{src}/a.parquet")
    pq.write_table(pa.table({"c_str": ["x", "y"],
                             "c_bool": [True, False]}),
                   f"{src}/b.parquet")
    out = str(tmp_path / "mixed_out")
    totals = pipeline.encode_path(spark, src, out, schema_mode="mixed")
    assert totals["n_rows"] == 5
    assert totals["waves_run"] == 1  # files of both schemas share a wave
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["c_int", "c_str", "c_bool"],
        "c_int int, c_str string, c_bool boolean")
    rows = {(r.c_int, r.c_str, r.c_bool) for r in dec.collect()}
    assert rows == {(1, None, None), (2, None, None), (3, None, None),
                    (None, "x", True), (None, "y", False)}


def test_mixed_tree_skips_hidden_files(spark, tmp_path):
    """Reference parity (HiddenFileFilter.INSTANCE,
    ParquetHadoopInputPlugin.java:208,:230): a `_temporary` straggler or a
    dot-file in a mixed tree must never be encoded — and its (possibly
    garbage) schema must not fail the listing. VERDICT r2 #5."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "mixed_h")
    os.makedirs(f"{src}/_temporary")
    pq.write_table(pa.table({"c_int": pa.array([1, 2, 3], pa.int32())}),
                   f"{src}/a.parquet")
    # stragglers: under a hidden dir, a leading-underscore file, a dot-file
    pq.write_table(pa.table({"c_int": pa.array([99], pa.int32())}),
                   f"{src}/_temporary/part.parquet")
    pq.write_table(pa.table({"junk": ["zzz"]}), f"{src}/_stray.parquet")
    with open(f"{src}/.hidden.parquet", "wb") as f:
        f.write(b"not parquet at all")
    assert pipeline._list_parquet_files(src) == [f"{src}/a.parquet"]
    out = str(tmp_path / "mixed_h_out")
    totals = pipeline.encode_path(spark, src, out, schema_mode="mixed")
    assert totals["n_rows"] == 3 and totals["waves_run"] == 1
    dec = pipeline.decode_chunks(pipeline.read_chunks(spark, out),
                                 ["c_int"], "c_int int")
    assert sorted(r.c_int for r in dec.collect()) == [1, 2, 3]


def test_mixed_schema_resume(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "mixed_r")
    os.makedirs(src)
    pq.write_table(pa.table({"c_int": pa.array([1, 2], pa.int32())}),
                   f"{src}/a.parquet")
    pq.write_table(pa.table({"c_str": ["x"]}), f"{src}/b.parquet")
    out = str(tmp_path / "mixed_r_out")
    t1 = pipeline.encode_path(spark, src, out, schema_mode="mixed")
    assert t1["waves_run"] == 1
    t2 = pipeline.encode_path(spark, src, out, schema_mode="mixed",
                              resume=True)
    assert t2["waves_run"] == 0 and t2["waves_skipped"] == 1


def test_read_decoded_prunes_and_filters_exactly(spark, tokens_dir,
                                                 tmp_path):
    """read_decoded = manifest-gated read -> zone-map prune -> decode ->
    exact residual filter: returns precisely the requested rows, and the
    chunk-level pruning demonstrably dropped chunks before decode."""
    out = str(tmp_path / "out_rd")
    pipeline.encode_path(spark, tokens_dir, out)
    full = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "n_tok"],
        "doc_id string, n_tok int")
    lo, hi = 120, 180
    want = {(r.doc_id, r.n_tok) for r in full.collect()
            if lo <= r.n_tok <= hi}
    got_df = pipeline.read_decoded(
        spark, out, ["doc_id", "n_tok"], "doc_id string, n_tok int",
        int_ranges={"n_tok": (lo, hi)})
    got = {(r.doc_id, r.n_tok) for r in got_df.collect()}
    assert got == want and got
    # open-ended bound also works
    got_open = pipeline.read_decoded(
        spark, out, ["doc_id", "n_tok"], "doc_id string, n_tok int",
        int_ranges={"n_tok": (hi + 1, None)})
    assert {(r.doc_id, r.n_tok) for r in got_open.collect()} == \
        {(d, n) for d, n in {(r.doc_id, r.n_tok) for r in full.collect()}
         if n > hi}
    # chunk-level pruning composes in (actual chunk drops are proven on
    # clustered data by test_zone_map_pruning / _temporal; this corpus's 4
    # unsorted chunks may all straddle the range)
    all_chunks = pipeline.read_chunks(spark, out).count()
    kept = pipeline.prune_chunks(pipeline.read_chunks(spark, out),
                                 "n_tok", lo, hi).count()
    assert 0 < kept <= all_chunks


def test_nested_columns_through_file_pipeline(spark, tmp_path):
    """Nested struct/list columns survive the FULL file-source path:
    encode_path -> chunk parquet -> manifest-gated read_chunks ->
    decode_chunks, values identical (the shred is not just a unit-level
    codec — it rides the real chunk format)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "nested_src")
    os.makedirs(src)
    rows = 500
    tbl = pa.table({
        "rid": pa.array(range(rows), pa.int64()),
        "attrs": pa.array(
            [{"u": i % 17, "tag": f"t{i % 5}"} if i % 11 else None
             for i in range(rows)],
            type=pa.struct([("u", pa.int64()), ("tag", pa.string())])),
        "vals": pa.array([[i, i + 1, i + 2] for i in range(rows)],
                         type=pa.list_(pa.int64())),
    })
    pq.write_table(tbl, f"{src}/a.parquet")
    out = str(tmp_path / "nested_out")
    totals = pipeline.encode_path(spark, src, out)
    assert totals["n_rows"] == rows
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["rid", "attrs", "vals"],
        "rid bigint, attrs struct<u:bigint,tag:string>, "
        "vals array<bigint>")
    got = {r.rid: (None if r.attrs is None else (r.attrs.u, r.attrs.tag),
                   tuple(r.vals)) for r in dec.collect()}
    assert len(got) == rows
    for i in range(rows):
        want_attrs = (i % 17, f"t{i % 5}") if i % 11 else None
        assert got[i] == (want_attrs, (i, i + 1, i + 2)), i


def test_zone_map_pruning_temporal(spark, tmp_path):
    """Temporal columns carry zone maps on their storage ints, so chunk
    pruning works on timestamp ranges like Parquet row-group stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "ts_src")
    os.makedirs(src)
    base = 1_700_000_000_000_000
    hour = 3_600_000_000
    for fi in range(3):  # three files, three disjoint hour ranges
        us = pa.array([base + fi * 24 * hour + i * hour
                       for i in range(24)], pa.int64())
        pq.write_table(
            pa.table({"event_id": pa.array(range(fi * 24, fi * 24 + 24),
                                           type=pa.int64()),
                      "ts": us.view(pa.timestamp("us"))}),
            f"{src}/f{fi}.parquet")
    out = str(tmp_path / "ts_out")
    pipeline.encode_path(spark, src, out)
    chunks = pipeline.read_chunks(spark, out)
    total = chunks.count()
    # prune to day 1 only
    pruned = pipeline.prune_chunks(chunks, "ts", lo=base + 24 * hour,
                                   hi=base + 47 * hour)
    kept = pruned.count()
    assert 0 < kept < total
    dec = pipeline.decode_chunks(pruned, ["event_id", "ts"],
                                 "event_id bigint, ts timestamp")
    ids = sorted(r.event_id for r in dec.collect())
    assert set(range(24, 48)).issubset(ids)  # no false negatives
    assert all(i < 48 for i in ids)  # day-2 file's chunks pruned


def test_ns_timestamp_zone_maps_use_micro_bounds(spark, tmp_path):
    """A ns-stored source column must prune and residual-filter with the
    SAME microsecond bounds: zone maps are normalized to µs at encode
    time, so the two layers can never disagree (review r3: ns stats vs
    unix_micros residual dropped every row or pruned live chunks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "ns_src")
    os.makedirs(src)
    # two files: seconds 1..4 and 5..8, stored as timestamp[ns]
    for fi, lo in ((0, 1), (1, 5)):
        ns = pa.array([(lo + i) * 1_000_000_000 for i in range(4)],
                      pa.int64())
        pq.write_table(
            pa.table({"id": pa.array(range(lo, lo + 4), type=pa.int64()),
                      "ts": ns.view(pa.timestamp("ns"))}),
            f"{src}/f{fi}.parquet")
    out = str(tmp_path / "ns_out")
    pipeline.encode_path(spark, src, out)
    # Spark cannot infer a schema from a ns footer (PARQUET_TYPE_ILLEGAL);
    # its file index lists the tree all the same, with the lineage the
    # pyarrow listing gave, so an append never re-encodes it
    assert mf.committed_input_files(out) \
        == set(pipeline._list_parquet_files(src)) \
        == {f"{src}/f0.parquet", f"{src}/f1.parquet"}
    chunks = pipeline.read_chunks(spark, out)
    lo_us, hi_us = 1_500_000, 3_500_000  # µs: selects seconds {2, 3}
    pruned = pipeline.prune_chunks(chunks, "ts", lo=lo_us, hi=hi_us)
    assert 0 < pruned.count() < chunks.count()  # file 2 pruned by stats
    dec = pipeline.read_decoded(spark, out, ["id", "ts"],
                                "id bigint, ts timestamp",
                                int_ranges={"ts": (lo_us, hi_us)})
    assert sorted(r.id for r in dec.collect()) == [2, 3]


def test_read_decoded_rejects_undecoded_filter_column(spark, tmp_path,
                                                      tokens_dir):
    """int_ranges on a column outside `columns` must raise, not silently
    return a chunk-granular superset (review r3)."""
    out = str(tmp_path / "rej_out")
    pipeline.encode_path(spark, tokens_dir, out)
    with pytest.raises(ValueError, match="int_ranges"):
        pipeline.read_decoded(spark, out, ["doc_id"], "doc_id string",
                              int_ranges={"n_tok": (10, 20)})


def test_read_manifest_missing_out_dir_raises(spark, tmp_path):
    """A mistyped out_dir must fail fast, not report zero waves
    (review r3: fsutil.listdir returns [] where os.listdir raised)."""
    with pytest.raises(FileNotFoundError):
        mf.read_manifest(spark, str(tmp_path / "nope"))


def test_duration_residual_filter_microsecond_exact(spark, tmp_path):
    """int_ranges on a duration column: the residual filter must compare
    µs-exactly in-type (review r3: the old fallthrough emitted
    `interval_col >= <bigint>`, an AnalysisException; and cast(interval
    as long) truncates to whole seconds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "dur_src")
    os.makedirs(src)
    us = pa.array([1_500_000, 2_500_006, 3_500_000, 4_000_000], pa.int64())
    pq.write_table(
        pa.table({"id": pa.array(range(4), type=pa.int64()),
                  "dur": us.view(pa.duration("us"))}),
        f"{src}/f0.parquet")
    out = str(tmp_path / "dur_out")
    pipeline.encode_path(spark, src, out)
    dec = pipeline.read_decoded(
        spark, out, ["id", "dur"], "id bigint, dur interval day to second",
        int_ranges={"dur": (2_500_006, 3_500_000)})
    assert sorted(r.id for r in dec.collect()) == [1, 2]
    # sub-second exactness: one µs above the lower bound excludes id=1
    dec2 = pipeline.read_decoded(
        spark, out, ["id", "dur"], "id bigint, dur interval day to second",
        int_ranges={"dur": (2_500_007, None)})
    assert sorted(r.id for r in dec2.collect()) == [2, 3]


def test_read_decoded_rejects_unfilterable_type(spark, tokens_dir,
                                                tmp_path):
    """int_ranges on a column whose Spark type has no exact residual
    rewrite must raise, not emit a wrong comparison (review r3)."""
    out = str(tmp_path / "unf_out")
    pipeline.encode_path(spark, tokens_dir, out)
    with pytest.raises(ValueError, match="residual"):
        pipeline.read_decoded(
            spark, out, ["doc_id", "n_tok"],
            "doc_id string, n_tok int",
            int_ranges={"doc_id": (0, 10)})


def test_ns_timestamp_fallback_rejects_cluster_partitions(spark, tmp_path):
    """The PARQUET_TYPE_ILLEGAL pyarrow-listing fallback only serves the
    file-source path; with cluster_partitions the wave loop would re-read
    through spark.read.parquet and crash mid-job — refuse up front
    (review r3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = str(tmp_path / "nsc_src")
    os.makedirs(src)
    ns = pa.array([1_000_000_000], pa.int64())
    pq.write_table(pa.table({"ts": ns.view(pa.timestamp("ns"))}),
                   f"{src}/f0.parquet")
    out = str(tmp_path / "nsc_out")
    with pytest.raises(TypeError, match="cluster_partitions"):
        pipeline.encode_path(spark, src, out, cluster_partitions=2)


def test_meta_files_accepts_file_scheme(spark, tokens_dir, tmp_path):
    """meta_files must list lineage through fsutil like the manifest
    reads: a file:// out_dir used to silently return [] (review r3)."""
    out = str(tmp_path / "uri_out")
    pipeline.encode_path(spark, tokens_dir, out)
    local = pipeline.meta_files(out, 0)
    assert local
    via_uri = pipeline.meta_files(f"file://{out}", 0)
    assert [os.path.basename(p) for p in via_uri] == \
        [os.path.basename(p) for p in local]


def test_encode_path_remote_out_dir_reaches_fs_layer(spark, tokens_dir):
    """Remote out_dirs are supported since r5 (tests/test_object_store.py
    drives the full protocol on the mock store); an unreachable hdfs://
    must now fail in the filesystem layer — connection/environment error,
    never the old NotImplementedError refusal."""
    with pytest.raises(Exception) as ei:
        pipeline.encode_path(spark, tokens_dir, "hdfs://nn/out")
    assert not isinstance(ei.value, NotImplementedError)


def test_encode_path_accepts_file_scheme_out_dir(spark, tokens_dir,
                                                 tmp_path):
    """file:// is a local scheme; encode_path must strip it before the
    os.* write path rather than creating a literal 'file:' directory."""
    out = str(tmp_path / "fs_out")
    totals = pipeline.encode_path(spark, tokens_dir, f"file://{out}")
    assert totals["n_rows"] > 0
    assert os.path.isdir(f"{out}/manifest")
    assert not os.path.exists("file:")


def test_vacuum_removes_uncommitted_debris(spark, tokens_dir, tmp_path):
    """vacuum removes only what the manifest never referenced: an
    uncommitted wave's chunks + meta and stray .tmp files; committed
    waves and their data are untouched and still verify."""
    out = str(tmp_path / "vac_out")
    pipeline.encode_path(spark, tokens_dir, out, waves=2)
    # forge a crash: wave 1 loses its commit record (chunks remain),
    # plus a stray .tmp from a killed task
    os.remove(f"{out}/manifest/wave-1.json")
    stray = f"{out}/chunks/wave=0/.part-00000-f0000.deadbeef.tmp"
    with open(stray, "wb") as f:
        f.write(b"x" * 128)
    res = mf.vacuum(out)
    assert res["waves_removed"] == 1
    assert res["tmp_removed"] == 1
    assert res["bytes_reclaimed"] > 128
    assert not os.path.exists(f"{out}/chunks/wave=1")
    assert not os.path.exists(stray)
    # committed wave intact; resume re-encodes the vacuumed wave
    t = pipeline.encode_path(spark, tokens_dir, out, waves=2, resume=True)
    assert t["waves_skipped"] == 1 and t["waves_run"] == 1
    from embulk_input_parquet_hadoop_spark.plans import verify
    assert verify.verify_path(spark, tokens_dir, out)["ok"]


def test_vacuum_clean_tree_is_noop(spark, tokens_dir, tmp_path):
    out = str(tmp_path / "vac_noop")
    pipeline.encode_path(spark, tokens_dir, out)
    res = mf.vacuum(out)
    assert res == {"waves_removed": 0, "tmp_removed": 0,
                   "bytes_reclaimed": 0}


def test_vacuum_sweeps_committed_wave_meta_tmp(spark, tokens_dir,
                                               tmp_path, killed_put):
    """A ``put_bytes`` killed before its rename leaves its temp file in
    a committed tree; vacuum reclaims it under ``manifest/`` and
    ``chunks_meta/`` and leaves the committed wave alone."""
    out = str(tmp_path / "vac_meta")
    pipeline.encode_path(spark, tokens_dir, out)
    left = [killed_put(f"{out}/manifest/wave-0.json"),
            killed_put(f"{out}/chunks_meta/wave-0.parquet")]
    res = mf.vacuum(out)
    assert res["tmp_removed"] == 2
    assert not any(os.path.exists(p) for p in left)
    assert res["waves_removed"] == 0  # the committed wave is untouched
    assert verify.verify_files(spark, out)["ok"]


# -- file-task job shape: one Python stage, files packed per core ---------

@pytest.fixture(scope="module")
def many_files_dir(spark, tmp_path_factory):
    """More source files than the session has cores."""
    n = spark.sparkContext.defaultParallelism + 3
    path = str(tmp_path_factory.mktemp("packed") / "tokens")
    datagen.generate(path, n_docs=40 * n, seed=17, n_files=n)
    return path


def _file_task_stage_tasks(sc, group: str) -> list[int]:
    """Task counts of the stages the jobs of ``group`` ran."""
    st = sc.statusTracker()
    return [st.getStageInfo(s).numTasks
            for j in sorted(st.getJobIdsForGroup(group))
            for s in st.getJobInfo(j).stageIds]


def _parquet_names(d: str) -> list[str]:
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet"))


def test_wave_runs_as_one_stage_packed_per_core(spark, many_files_dir,
                                                tmp_path):
    from embulk_input_parquet_hadoop_spark.plans import verify
    sc = spark.sparkContext
    n_files = len(_parquet_names(many_files_dir))
    par = sc.defaultParallelism
    assert n_files > par
    out = str(tmp_path / "packed")
    sc.setJobGroup("packed-wave", "one encode wave")
    try:
        totals = pipeline.encode_path(spark, many_files_dir, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _file_task_stage_tasks(sc, "packed-wave") == [min(n_files, par)]
    assert totals["n_rows"] == 40 * n_files
    # every file still commits its own chunk file
    assert len(_parquet_names(f"{out}/chunks/wave=0")) == n_files
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["files_compared"] == n_files
    assert v["rows_compared"] == 40 * n_files


def test_corrupt_file_fails_alone_in_packed_task(spark, many_files_dir,
                                                 tmp_path):
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    bad_dir = str(tmp_path / "bad")
    shutil.copytree(many_files_dir, bad_dir)
    names = _parquet_names(bad_dir)
    victim = os.path.join(bad_dir, names[1])
    with open(victim, "r+b") as f:  # truncated: unreadable footer
        f.truncate(os.path.getsize(victim) // 2)
    # the smallest file packs into a task that already holds a good one
    assert len(names) > spark.sparkContext.defaultParallelism

    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, bad_dir, str(tmp_path / "strict"))
    assert mf.completed_waves(spark, str(tmp_path / "strict")) == set()

    out = str(tmp_path / "tolerant")
    totals = pipeline.encode_path(spark, bad_dir, out,
                                  bad_file_threshold=0.1)
    assert totals["n_rows"] == 40 * (len(names) - 1)
    assert mf.read_manifest(spark, out).collect()[0].n_bad_files == 1
    meta = pq.read_table(f"{out}/chunks_meta/wave-0.parquet")
    errs = meta.filter(pc.is_valid(meta.column("error"))).to_pylist()
    assert len(errs) == 1 and errs[0]["source_file"].endswith(names[1])
    mates = [r for r in meta.to_pylist()
             if r["part_id"] == errs[0]["part_id"] and r["error"] is None]
    assert mates, "the corrupt file had a task to itself"
    assert all(os.path.exists(r["chunk_file"]) for r in mates)


def test_packed_encode_names_repeat(spark, many_files_dir, tmp_path):
    import pyarrow.parquet as pq

    def names(out):
        t = pq.read_table(f"{out}/chunks_meta/wave-0.parquet",
                          columns=["chunk_id", "source_file",
                                   "chunk_file"]).to_pylist()
        return sorted((r["chunk_id"], os.path.basename(r["source_file"]),
                       os.path.basename(r["chunk_file"])) for r in t)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    pipeline.encode_path(spark, many_files_dir, a)
    pipeline.encode_path(spark, many_files_dir, b)
    assert names(a) == names(b)
    assert _parquet_names(f"{a}/chunks/wave=0") \
        == _parquet_names(f"{b}/chunks/wave=0")


def test_pack_lpt_deterministic_and_balanced():
    from embulk_input_parquet_hadoop_spark.plans.filetasks import pack_lpt
    w = [5, 1, 9, 3, 3, 1, 0, 7]
    assert pack_lpt(w, 4) == [[2], [7], [0, 1, 5], [3, 4, 6]]
    # equal weights (and all-zero sizes) pack round-robin: no empty bin
    assert pack_lpt([0] * 5, 3) == [[0, 3], [1, 4], [2]]
    assert pack_lpt([1] * 3, 3) == [[0], [1], [2]]


def test_file_sizes_local_and_object_store(tmp_path):
    from embulk_input_parquet_hadoop_spark.plans import fsutil
    p = tmp_path / "f.bin"
    p.write_bytes(b"x" * 10)
    assert fsutil.file_sizes([str(p), f"file://{p}",
                              f"mock-s3://bkt{p}",
                              f"mock-s3://bkt{tmp_path}/missing",
                              str(tmp_path / "missing")]) \
        == [10, 10, 10, 0, 0]
