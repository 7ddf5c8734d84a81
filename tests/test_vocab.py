"""Vocabulary truncation: rare-token remap with exact order preservation."""

from embulk_input_parquet_hadoop_spark.operators import vocab

import pytest

# token 9 appears once (rare at min_count=2), 7 twice, the rest often
DOCS = [(1, [5, 5, 7, 9, 5], "a"),
        (2, [5, 7, 5, 5, 5], "a"),
        (3, [5, 5, 5], "b"),
        (4, [], "b")]
SCHEMA = "doc_id bigint, tokens array<int>, source string"


def test_remap_preserves_order_and_counts(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    out = {r.doc_id: (r.tokens, r.n_unk)
           for r in vocab.remap_rare_tokens(
               df, min_count=2, unk_id=-1).collect()}
    assert out == {1: ([5, 5, 7, -1, 5], 1),
                   2: ([5, 7, 5, 5, 5], 0),
                   3: ([5, 5, 5], 0)}  # doc 4 empty: dropped (documented)


def test_keep_cols_ride_through(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    out = {r.doc_id: r.source
           for r in vocab.remap_rare_tokens(
               df, min_count=2, keep_cols=["source"]).collect()}
    assert out == {1: "a", 2: "a", 3: "b"}


def test_min_count_one_is_identity(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    out = {r.doc_id: r.tokens for r in
           vocab.remap_rare_tokens(df, min_count=1).collect()}
    assert out == {i: t for i, t, _s in DOCS if t}
    with pytest.raises(ValueError):
        vocab.remap_rare_tokens(df, min_count=0)


def test_frequency_join_is_broadcast(spark):
    # the freq table is vocab-sized: it must reach the remap join as a
    # broadcast so the exploded payload never shuffles for it
    df = spark.createDataFrame(DOCS, SCHEMA)
    plan = vocab.remap_rare_tokens(df, min_count=2)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_token_frequencies(spark):
    df = spark.createDataFrame(DOCS, SCHEMA)
    freq = {r.tok: r.cnt
            for r in vocab.token_frequencies(df).collect()}
    assert freq == {5: 10, 7: 2, 9: 1}


def test_null_token_elements_preserved(spark):
    # an inner freq-join would DELETE null elements and shift the array;
    # they must pass through in place, uncounted as unk
    df = spark.createDataFrame(
        [(1, [5, None, 5, 9], "a")],
        "doc_id bigint, tokens array<int>, source string")
    out = vocab.remap_rare_tokens(df, min_count=2, unk_id=-1).collect()
    assert out[0].tokens == [5, None, 5, -1]
    assert out[0].n_unk == 1


# ---------------------------------------------------------------------
# BPE primitives
# ---------------------------------------------------------------------

def test_pair_counts(spark):
    df = spark.createDataFrame(
        [(1, [1, 2, 1, 2, 3]), (2, [2, 1, 2]), (3, [7]), (4, [])],
        "doc_id bigint, tokens array<int>")
    got = {(r.a, r.b): r.cnt for r in vocab.pair_counts(df).collect()}
    assert got == {(1, 2): 3, (2, 1): 2, (2, 3): 1}
    # top_k with deterministic (cnt DESC, a, b) tie-break
    top = [(r.a, r.b) for r in
           vocab.pair_counts(df, top_k=2).collect()]
    assert top == [(1, 2), (2, 1)]
