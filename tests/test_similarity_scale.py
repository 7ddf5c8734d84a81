"""SRP near-dup scale hardening: bounded per-bucket memory (blocked
pairwise matmul) and a quantitative recall gate against the exact oracle.

VERDICT r1 #8/#9: a mega-bucket must not OOM ``np.triu_indices``, and the
bucketed path needs a measured correctness signal, not rows-only.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


def test_single_mega_bucket_bounded_blocks(spark):
    """Adversarial corpus: every vector identical -> one SRP bucket. The
    blocked kernel must still produce every pair with block_rows far
    smaller than the bucket."""
    n = 300
    rows = [(i, [1.0, 2.0, -0.5, 3.0]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = similarity.srp_neardup_pairs(emb, threshold=0.99, n_planes=4,
                                         block_rows=32)
    assert pairs.count() == n * (n - 1) // 2


def test_blocked_equals_unblocked(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    small = {(r.id_a, r.id_b) for r in similarity.srp_neardup_pairs(
        emb, threshold=0.3, n_planes=2, block_rows=16).collect()}
    large = {(r.id_a, r.id_b) for r in similarity.srp_neardup_pairs(
        emb, threshold=0.3, n_planes=2, block_rows=100_000).collect()}
    assert small == large and len(small) > 0


def test_srp_recall_and_precision_vs_exact(spark):
    """Gate the bucketed path against the q24 exact oracle subset:
    precision must be 1.0 (within-bucket cosines are exact) and recall
    must sit near the LSH collision probability E[(1 - theta/pi)^k]."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") % 3 == 0)
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in similarity.neardup_pairs(emb, threshold=0.3).collect()}
    assert len(exact) > 50
    for planes in (2, 4):
        got = {(r.id_a, r.id_b) for r in similarity.srp_neardup_pairs(
            emb, threshold=0.3, n_planes=planes).collect()}
        assert got <= set(exact), "bucketed path emitted a non-pair"
        recall = len(got & set(exact)) / len(exact)
        expected = float(np.mean([
            (1 - math.acos(min(1.0, max(-1.0, c))) / math.pi) ** planes
            for c in exact.values()]))
        # deterministic data+planes; allow slack below theory, forbid
        # collapse (measured r1: 0.367 vs 0.371 @2p, 0.156 vs 0.138 @4p)
        assert recall >= 0.6 * expected, (planes, recall, expected)


def test_group_centroids_order_independent(spark):
    # integer-scaled sums: identical BITS under any partitioning
    import math
    from embulk_input_parquet_hadoop_spark.operators import similarity
    rows = [(i, [float(i % 7) / 7, float((i * 3) % 5) / 5], i % 2)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    a = {r.label: r.centroid
         for r in similarity.group_centroids(df).collect()}
    b = {r.label: r.centroid
         for r in similarity.group_centroids(
             df.repartition(7, "vec_id")).collect()}
    assert a == b  # exact equality, not approx: the whole point
    # and the values are the scaled-integer mean, dim-ordered
    scale = 1 << 20
    for lab in (0, 1):
        vecs = [v for _i, v, l in rows if l == lab]
        for d in range(2):
            isum = sum(math.floor(float(np_f32(x[d])) * scale + 0.5)
                       for x in vecs)
            assert a[lab][d] == (isum / len(vecs)) / float(scale)


def np_f32(x):
    import numpy as np
    return np.float32(x)


def test_centroid_outliers_picks_farthest(spark):
    from embulk_input_parquet_hadoop_spark.operators import similarity
    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.1], 0), (3, [0.9, 0.0], 0),
            (4, [-1.0, 0.0], 0),        # opposite direction: the outlier
            (5, [0.0, 1.0], 1), (6, [0.0, 0.9], 1)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    out = {(r.label, r.rk): r.vec_id
           for r in similarity.centroid_outliers(df, k=1).collect()}
    assert out[(0, 1)] == 4
    assert out[(1, 1)] in (5, 6)


def test_centroid_outliers_two_phase_topk(spark):
    # the local top-k is a map-side combine: identical results under any
    # partitioning, and the only exchanges are the freq agg + the final
    # bounded window (never a whole-group sort of the input)
    from embulk_input_parquet_hadoop_spark.operators import similarity
    rows = [(i, [float((i * 7) % 11) / 11, float((i * 3) % 13) / 13],
             i % 3) for i in range(200)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    a = sorted(map(tuple, similarity.centroid_outliers(df, k=4).collect()))
    b = sorted(map(tuple, similarity.centroid_outliers(
        df.repartition(13, "vec_id"), k=4).collect()))
    assert a == b and len(a) == 12  # 3 labels x k=4


@pytest.mark.parametrize("lo, hi", [(0, 2_000_000), (-2_000_000, 2_000_000),
                                    (1_000_000, 3_000_000),
                                    (-3_000_000, -1_000_000)])
def test_q24_exact_pairs_subset_capped(spark, monkeypatch, lo, hi):
    """q24's exact all-pairs baseline is O(n^2), so its subset filter must
    admit at most 500 vectors whatever range the table's ids span."""
    import __spark_entry__ as entrymod
    emb = spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0).cast("float")).alias("embedding"))
    monkeypatch.setattr(entrymod, "_t", lambda spark, sf_dir, name: emb)
    monkeypatch.setattr(entrymod.similarity, "neardup_pairs",
                        lambda sub, threshold: sub)
    sub = entrymod.q24_embedding_neardup_pairs(spark, SF_DIR)
    assert sub.count() <= 500
