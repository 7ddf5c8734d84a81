"""End-to-end: datagen -> encode -> manifest -> decode -> bit-identity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify


def test_datagen_schema_and_determinism(spark, tokens_path, tmp_path):
    df = spark.read.parquet(tokens_path)
    assert df.count() == 3000
    assert dict(df.dtypes) == {"doc_id": "string", "tokens": "array<int>",
                               "n_tok": "int", "source": "string"}
    from embulk_input_parquet_hadoop_spark.sources.datagen import generate
    other = tmp_path / "again"
    generate(str(other), n_docs=3000, seed=123, n_files=4)
    a = df.orderBy("doc_id").collect()
    b = spark.read.parquet(str(other)).orderBy("doc_id").collect()
    assert a == b


def test_encode_decode_bit_identity(spark, tokens_path, tmp_path):
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, tokens_path, out, waves=2)
    assert totals["waves_run"] == 2
    assert totals["n_rows"] == 3000
    assert totals["n_tokens"] > 0
    assert totals["enc_bytes"] < totals["raw_bytes"]

    result = verify.verify_path(spark, tokens_path, out)
    assert result["ok"], result
    assert result["rows_compared"] == 3000


def test_encode_with_clustering(spark, tokens_path, tmp_path):
    out = str(tmp_path / "enc_clustered")
    pipeline.encode_path(spark, tokens_path, out, waves=1,
                         cluster_partitions=4)
    result = verify.verify_path(spark, tokens_path, out)
    assert result["ok"], result


def test_resume_skips_completed_waves(spark, tokens_path, tmp_path):
    out = str(tmp_path / "enc_resume")
    t1 = pipeline.encode_path(spark, tokens_path, out, waves=4)
    assert t1["waves_run"] == 4
    # rerun with resume: all waves already committed
    t2 = pipeline.encode_path(spark, tokens_path, out, waves=4, resume=True)
    assert t2["waves_run"] == 0
    assert t2["waves_skipped"] == 4
    # manifest has exactly one row per wave, with lineage
    m = mf.read_manifest(spark, out)
    assert m.count() == 4
    assert m.filter(F.size("input_files") < 1).count() == 0
    # no duplicate rows after resume
    dec = verify.decoded_df(spark, out)
    assert dec.count() == 3000
    assert dec.select("doc_id").distinct().count() == 3000


def test_resume_after_partial_run(spark, tokens_path, tmp_path):
    """Simulate a crash after wave 0 by encoding only wave 0's files."""
    out = str(tmp_path / "enc_partial")
    files = sorted(spark.read.parquet(tokens_path).inputFiles())
    # run wave structure manually: encode full job, then delete manifest rows
    pipeline.encode_path(spark, tokens_path, out, waves=2)
    # forge partial state: drop wave 1's commit record (as if the job died
    # after writing wave 1's chunks but before its atomic manifest commit)
    import os
    os.remove(f"{out}/manifest/wave-1.json")
    assert mf.completed_waves(spark, out) == {0}
    t = pipeline.encode_path(spark, tokens_path, out, waves=2, resume=True)
    assert t["waves_skipped"] == 1
    assert t["waves_run"] == 1
    assert verify.verify_path(spark, tokens_path, out)["ok"]


def test_compression_beats_parquet_raw_tokens(spark, tokens_path, tmp_path):
    """Headline size contract: our encoded bytes/token vs raw int32 bytes."""
    out = str(tmp_path / "enc_size")
    totals = pipeline.encode_path(spark, tokens_path, out, waves=1,
                                  cluster_partitions=4)
    bpt = totals["enc_bytes"] / totals["n_tokens"]
    assert bpt < 4.0  # strictly better than raw int32
    stats = mf.all_chunk_stats(spark, out)
    # every column chunk recorded its codec decision
    kinds = {r.kind for r in stats.select("kind").distinct().collect()}
    assert "list_i32" in kinds


def test_verify_files_channel_free(spark, tokens_path, tmp_path):
    """Distributed positional verify: decode+compare in the workers, only
    stats cross the JVM<->Python channel (the 100TB-scale verify path)."""
    out = str(tmp_path / "enc_vf")
    pipeline.encode_path(spark, tokens_path, out, waves=2)
    res = verify.verify_files(spark, out)
    assert res["ok"], res
    assert res["rows_compared"] == 3000
    assert res["tokens_compared"] == verify.decoded_df(spark, out) \
        .agg(F.sum("n_tok")).collect()[0][0]


def test_verify_files_detects_tampering(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from embulk_input_parquet_hadoop_spark.sources.datagen import generate
    src = str(tmp_path / "vf_tokens")
    generate(src, n_docs=500, seed=3, n_files=2)
    out = str(tmp_path / "vf_out")
    pipeline.encode_path(spark, src, out)
    assert verify.verify_files(spark, out)["ok"]
    # tamper with one source value after encode: positional compare must
    # flag the chunk
    import glob
    f = sorted(glob.glob(f"{src}/*.parquet"))[0]
    t = pq.read_table(f)
    vals = t.column("source").to_pylist()
    vals[0] = "tampered"
    idx = t.schema.get_field_index("source")
    pq.write_table(t.set_column(idx, "source", pa.array(vals)), f)
    res = verify.verify_files(spark, out)
    assert not res["ok"]
    assert res["mismatch_chunks"] >= 1
