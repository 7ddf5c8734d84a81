"""End-to-end: datagen -> encode -> manifest -> decode -> bit-identity."""

from __future__ import annotations

import numpy as np
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


def test_entropy_mode_roundtrip_and_smaller(spark, tmp_path):
    """encode_path(entropy=True): the rANS competitor must (a) stay
    bit-exact end to end, (b) actually shrink the tree on a corpus with
    order-1 structure (real token streams have it; the i.i.d. datagen
    corpus only rewards rans at >1M-token chunks where the model
    amortizes — tests/test_rans.py covers that boundary), (c) be a pure
    write-side flag — the same read path decodes both trees.

    The corpus: Markov bigram structure over a 4k vocab, written as the
    input_hint table shape.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_rans import markov_tokens
    rng = np.random.default_rng(11)
    vocab = 4096
    n_docs, doc_len = 2000, 200
    flat = markov_tokens(rng, n_docs * doc_len, vocab)
    offs = np.arange(0, (n_docs + 1) * doc_len, doc_len, dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offs), pa.array(flat.astype(np.int32), type=pa.int32()))
    tbl = pa.table({
        "doc_id": pa.array([f"d{i:08d}" for i in range(n_docs)]),
        "tokens": tokens.cast(pa.list_(
            pa.field("item", pa.int32(), nullable=False))),
        "n_tok": pa.array(np.full(n_docs, doc_len, dtype=np.int32)),
        "source": pa.array(["web"] * n_docs),
    })
    src = str(tmp_path / "markov_src")
    import os
    os.makedirs(src)
    pq.write_table(tbl, f"{src}/part-0.parquet")

    base_out = str(tmp_path / "enc_base")
    ent_out = str(tmp_path / "enc_ent")
    base = pipeline.encode_path(spark, src, base_out)
    ent = pipeline.encode_path(spark, src, ent_out, entropy=True)
    assert ent["n_tokens"] == base["n_tokens"]
    assert ent["enc_bytes"] < 0.95 * base["enc_bytes"], (
        f"entropy mode did not shrink: {ent['enc_bytes']} vs "
        f"{base['enc_bytes']}")

    result = verify.verify_path(spark, src, ent_out)
    assert result["ok"], result
    assert result["rows_compared"] == n_docs

    # at least one chunk actually carries a rans frame (the flag could
    # silently no-op and (b) still pass by noise)
    from embulk_input_parquet_hadoop_spark.codecs import framing
    chunks = pipeline.read_chunks(spark, ent_out)
    row = chunks.select("blobs").first()
    codecs_seen = set()
    for blob in row.blobs:
        for fr in framing.read_frames(blob):
            codecs_seen.add(fr.codec)
    assert "rans" in codecs_seen, codecs_seen


def test_mixed_entropy_waves_decode_together(spark, tokens_path, tmp_path):
    """A tree whose waves mix entropy on/off (e.g. a resume with the
    flag flipped) must stay readable through the one read path — frames
    are self-describing, so this is the documented contract."""
    out = str(tmp_path / "mix_enc")
    pipeline.encode_path(spark, tokens_path, out, waves=2)
    # drop wave 1's manifest + chunks, then re-run with entropy=True:
    # resume skips wave 0, re-encodes wave 1 with the flag on
    import os
    import shutil
    os.remove(f"{out}/manifest/wave-1.json")
    shutil.rmtree(f"{out}/chunks/wave=1")
    totals = pipeline.encode_path(spark, tokens_path, out, waves=2,
                                  resume=True, entropy=True)
    assert totals["waves_skipped"] == 1 and totals["waves_run"] == 1
    result = verify.verify_path(spark, tokens_path, out)
    assert result["ok"], result
    assert result["rows_compared"] == 3000


def test_encode_df_entropy_flag(spark, tmp_path):
    """The DataFrame-source path (encode_df / cluster mode) must thread
    the entropy flag into its mapInArrow workers too."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.test_rans import markov_tokens
    rng = np.random.default_rng(4)
    n_docs, doc_len, vocab = 1500, 200, 4096
    flat = markov_tokens(rng, n_docs * doc_len, vocab)
    offs = np.arange(0, (n_docs + 1) * doc_len, doc_len, dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offs), pa.array(flat.astype(np.int32), type=pa.int32()))
    tbl = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(n_docs)]),
        "tokens": tokens.cast(pa.list_(
            pa.field("item", pa.int32(), nullable=False))),
        "n_tok": pa.array(np.full(n_docs, doc_len, dtype=np.int32)),
        "source": pa.array(["web"] * n_docs),
    })
    src = str(tmp_path / "df_src")
    import os
    os.makedirs(src)
    pq.write_table(tbl, f"{src}/part-0.parquet")
    df = spark.read.parquet(src).coalesce(1)

    base = pipeline.encode_df(spark, df, str(tmp_path / "df_base"))
    ent = pipeline.encode_df(spark, df, str(tmp_path / "df_ent"),
                             entropy=True)
    b = base.agg(F.sum("enc_bytes")).collect()[0][0]
    e = ent.agg(F.sum("enc_bytes")).collect()[0][0]
    assert e < 0.95 * b, (e, b)
