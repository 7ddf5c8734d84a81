"""Multimodal binary-column pipeline: synthesis and byte features.

These tests pin down the Spark-side plumbing — schema, batch shape, and
the vectorized byte kernels — on deterministic synthetic payloads.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.operators import multimodal

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return multimodal.synth_media(docs, payload_reps=8).cache()


def test_synth_media_schema_and_determinism(media):
    assert [f.name for f in media.schema.fields] == [
        "doc_id", "kind", "width", "height", "n_frames", "sample_rate",
        "payload"]
    row = media.filter(F.col("doc_id") == "7").head()
    expect = bytes.fromhex(hashlib.md5(b"7").hexdigest() * 8)
    assert bytes(row.payload) == expect
    assert row.kind in multimodal.MEDIA_KINDS


def test_extract_features_matches_numpy(media):
    feats = {r.doc_id: r for r in
             multimodal.extract_features(media).collect()}
    for row in media.limit(20).collect():
        buf = np.frombuffer(bytes(row.payload), dtype=np.uint8)
        f = feats[row.doc_id]
        assert f.n_bytes == len(buf)
        assert f.min_val == int(buf.min())
        assert f.max_val == int(buf.max())
        assert abs(f.mean_val - float(buf.mean())) < 1e-9
        expect_csum = int(
            (buf.astype(np.int64)
             * (np.arange(len(buf), dtype=np.int64) + 1)).sum() % (2**31))
        assert f.checksum == expect_csum


def test_extract_features_with_empty_payloads(spark):
    """Empty payloads anywhere in the batch — including trailing — must not
    corrupt neighbouring rows' statistics (regression: clamped reduceat
    start indices truncated the preceding payload's range)."""
    rows = [("a", "image", b"abc"), ("b", "image", b""),
            ("c", "image", b"\x05\x01\x09"), ("d", "image", b""),
            ("e", "image", b"")]
    df = spark.createDataFrame(rows, "doc_id string, kind string, "
                                     "payload binary")
    got = {r.doc_id: r for r in multimodal.extract_features(df).collect()}
    assert got["a"].n_bytes == 3
    assert got["a"].min_val == ord("a") and got["a"].max_val == ord("c")
    assert got["a"].mean_val == (97 + 98 + 99) / 3
    assert got["a"].checksum == 97 * 1 + 98 * 2 + 99 * 3
    assert got["c"].min_val == 1 and got["c"].max_val == 9
    assert got["c"].checksum == 5 * 1 + 1 * 2 + 9 * 3
    for d in ("b", "d", "e"):
        assert (got[d].n_bytes, got[d].mean_val, got[d].min_val,
                got[d].max_val, got[d].checksum) == (0, 0.0, 0, 0, 0)


def test_binary_buffers_sliced_and_offset():
    """ADVICE r1: a sliced/offset binary array (offs[0] > 0, trailing
    buffer bytes) must slice+rebase, not span stray bytes."""
    import pyarrow as pa
    arr = pa.array([b"abc", b"de", b"", b"fghi", b"zz"]).slice(1, 3)
    offs, data = multimodal._binary_buffers(arr)
    assert offs[0] == 0 and offs[-1] == len(data) == 6
    parts = [bytes(data[offs[i]:offs[i + 1]]) for i in range(len(offs) - 1)]
    assert parts == [b"de", b"", b"fghi"]
