"""Vocabulary maintenance over tokens tables.

``remap_rare_tokens`` maps every token id whose corpus frequency is below
a floor to a single UNK id — the standard vocabulary-truncation pass
before training (rare ids carry no learnable signal but cost embedding
rows). Order inside every document is preserved exactly.

Scale shape (the input-hint table at 10^12 sequences):

- The frequency pass is one keyed aggregation over the exploded token
  stream; the key space is the *vocabulary* (bounded, ~50k), so map-side
  partial aggregation collapses the shuffle to O(partitions x vocab)
  rows regardless of corpus size.
- The frequency table is vocabulary-sized, so it reaches the remap join
  as a **broadcast** — the exploded payload never shuffles for the join.
- The only payload shuffle is the per-document re-assembly (groupBy id),
  inherent to rewriting the arrays; per-group size is one document's
  tokens, so it cannot skew beyond the longest document.

No driver-side collect anywhere: the vocabulary stays distributed (the
broadcast is planner-side). Documents with empty token arrays have no
positions to remap and are dropped (same convention as pack.doc_offsets:
they occupy no stream positions); left-join the result back to the
corpus if empties must survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_frequencies(df: DataFrame, tokens_col: str = "tokens"
                      ) -> DataFrame:
    """(tok, cnt) corpus frequencies: one keyed agg over the exploded
    stream; key space = vocabulary, so partial aggregation makes the
    shuffle O(partitions x vocab)."""
    return (df.select(F.explode(tokens_col).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))


def remap_rare_tokens(df: DataFrame, min_count: int, unk_id: int = 0,
                      id_col: str = "doc_id",
                      tokens_col: str = "tokens",
                      keep_cols: list[str] | None = None) -> DataFrame:
    """Rewrite ``tokens_col`` with ids of corpus frequency < ``min_count``
    replaced by ``unk_id``; adds ``n_unk`` (replacements per doc).

    ``keep_cols``: extra per-document columns to carry through (ride the
    groupBy as ``first`` — they are functionally determined by the id).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    keep = keep_cols or []
    ex = df.select(id_col, *keep,
                   F.posexplode(tokens_col).alias("pos", "tok"))
    freq = token_frequencies(df, tokens_col)
    # LEFT join: a NULL token element never equi-matches the frequency
    # table — an inner join would silently DELETE the element and shift
    # every later token left, corrupting order-sensitive consumers.
    # NULL elements pass through unchanged (cnt null -> when() falls to
    # otherwise) and are not counted as unk.
    is_rare = F.col("cnt") < min_count
    r = (ex.join(F.broadcast(freq), "tok", "left")
         .select(id_col, *keep, "pos",
                 F.when(is_rare, F.lit(unk_id)).otherwise(F.col("tok"))
                 .alias("tok2"),
                 F.coalesce(is_rare.cast("int"), F.lit(0)).alias("unk")))
    return (r.groupBy(id_col)
            .agg(*[F.first(c).alias(c) for c in keep],
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tok2"))),
                     lambda x: x["tok2"]).alias(tokens_col),
                 F.sum("unk").alias("n_unk")))


# ---------------------------------------------------------------------------
# BPE-style tokenizer induction primitives

def pair_counts(df: DataFrame, tokens_col: str = "tokens",
                top_k: int | None = None) -> DataFrame:
    """Adjacent-token-pair frequencies — the counting step of one BPE
    merge round (the dominant cost of tokenizer training; the merge
    loop is driver-side over the top pair, see ``apply_bpe_merge``).

    Returns (a, b, cnt) as bigints; ``top_k`` keeps the k most frequent
    pairs with a deterministic (cnt DESC, a, b) tie-break so reruns and
    cross-engine oracles agree.

    Scale shape: pair extraction is map-only (``slice`` + ``arrays_zip``
    + ``explode`` — JVM built-ins, no Python); the count is ONE keyed
    shuffle with map-side partial aggregation over a key space bounded
    by the number of DISTINCT live pairs (≤ vocab², in practice far
    smaller), independent of corpus size; top-k sorts only the counted
    aggregate. Empty and single-token documents contribute no pairs.
    """
    c = F.col(tokens_col)
    n1 = F.greatest(F.size(c) - 1, F.lit(0))
    pairs = (df.select(F.explode(F.arrays_zip(
                F.slice(c, 1, n1).alias("a"),
                F.slice(c, 2, n1).alias("b"))).alias("p"))
             .select(F.col("p.a").cast("long").alias("a"),
                     F.col("p.b").cast("long").alias("b")))
    cnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt"))
    if top_k is not None:
        cnt = cnt.orderBy(F.desc("cnt"), "a", "b").limit(top_k)
    return cnt


def apply_bpe_merge(df: DataFrame, pair: tuple[int, int], new_id: int,
                    tokens_col: str = "tokens") -> DataFrame:
    """Rewrite every document replacing adjacent ``pair`` occurrences
    with ``new_id``, greedy LEFT-TO-RIGHT with no re-scan of the just
    -merged token — standard BPE apply semantics ([a,a,a] with pair
    (a,a) -> [m,a], not [a,m]).

    Map-only (an Arrow-batched pandas UDF: greedy overlap resolution is
    inherently stateful within a run of overlapping matches, beyond the
    JVM higher-order built-ins), zero shuffles, order inside every
    document preserved. The per-row kernel is vectorized numpy: match
    positions, then within each run of CONSECUTIVE positions keep the
    even offsets — exactly the greedy left-to-right outcome — then one
    ``np.delete`` + one scatter.
    """
    import numpy as np
    import pandas as pd

    a, b = int(pair[0]), int(pair[1])
    nid = int(new_id)

    def _merge(col):
        out = []
        for row in col:
            t = np.asarray(row, dtype=np.int64)
            if t.size < 2:
                out.append(t)
                continue
            p = np.flatnonzero((t[:-1] == a) & (t[1:] == b))
            if not p.size:
                out.append(t)
                continue
            run_start = np.concatenate(([True], np.diff(p) != 1))
            run_ids = np.cumsum(run_start) - 1
            starts = np.flatnonzero(run_start)
            keep = ((np.arange(p.size) - starts[run_ids]) % 2) == 0
            p = p[keep]
            merged = np.delete(t, p + 1)
            merged[p - np.arange(p.size)] = nid
            out.append(merged)
        return pd.Series(out)

    # the module's `from __future__ import annotations` would stringify
    # inline hints beyond pyspark's resolver; set real objects instead
    _merge.__annotations__ = {"col": pd.Series, "return": pd.Series}
    # mirror the input element type: hardcoding array<int> would
    # silently narrow an array<bigint> column (and overflow ids >= 2^31)
    from pyspark.sql.types import ArrayType
    dt = df.schema[tokens_col].dataType
    if not isinstance(dt, ArrayType):
        raise TypeError(f"{tokens_col} is {dt.simpleString()}, expected "
                        "an array column")
    merge_udf = F.pandas_udf(
        _merge, f"array<{dt.elementType.simpleString()}>")
    return df.withColumn(tokens_col, merge_udf(F.col(tokens_col)))


def bpe_learn(df: DataFrame, n_merges: int, first_id: int,
              tokens_col: str = "tokens",
              min_count: int = 2) -> tuple[list[tuple[int, int, int]],
                                           DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus: each round counts
    adjacent pairs (:func:`pair_counts`, one Spark job), picks the most
    frequent (ties broken by smallest (a, b) — deterministic under any
    partitioning), and rewrites the corpus (:func:`apply_bpe_merge`,
    map-only). Returns ``([(a, b, new_id), ...], final_df)``; stops
    early when no pair reaches ``min_count`` (merging singletons learns
    noise). New ids are ``first_id, first_id+1, ...`` — pass a value
    above the base vocabulary.

    Scale shape: the driver loop moves ONE (a, b, cnt) row per round
    over the channel; each round's corpus rewrite is map-only and is
    ``localCheckpoint``-materialized so round k+1's count scans the
    rewritten tokens instead of re-running a k-deep UDF chain (the same
    loop discipline as ``dedup.connected_components``). Rounds are
    inherently sequential — BPE merge k depends on k-1 — so the
    parallelism lives inside each round, which is how production
    tokenizer trainers distribute too.

    Intended regime: a sample of the corpus, not the full corpus. Each
    merge costs one :func:`pair_counts` Spark job plus one
    ``localCheckpoint`` materialization of the rewritten tokens, so
    ``n_merges`` merges run as ``n_merges`` sequential rounds, each a
    full pass over ``df``. Learn the merges on a sample (for example
    ``df.sample(fraction, seed=...)``), then apply them to the full
    corpus in order with :func:`apply_bpe_merge`, which is map-only.
    """
    merges: list[tuple[int, int, int]] = []
    cur = df
    for k in range(n_merges):
        top = (pair_counts(cur, tokens_col)
               .orderBy(F.desc("cnt"), "a", "b").limit(1).collect())
        if not top or top[0].cnt < min_count:
            break
        a, b = int(top[0].a), int(top[0].b)
        nid = first_id + k
        merges.append((a, b, nid))
        cur = apply_bpe_merge(cur, (a, b), nid,
                              tokens_col).localCheckpoint()
    return merges, cur
