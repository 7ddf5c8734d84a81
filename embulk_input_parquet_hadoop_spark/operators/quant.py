"""Int8 embedding quantization — the storage-side compression step for
vector columns, as an auditable DataFrame operator.

A 100 TB embedding corpus at float32 is 4 bytes/dim; per-vector max-abs
int8 scalar quantization (the FAISS SQ8 layout) cuts that 4x before the
columnar encoder even sees the data. What a pipeline owner needs before flipping
that switch is the ERROR PROFILE on their own corpus — this module
computes it exactly, corpus-wide, as one shuffle.

Everything is expressed in deterministic double arithmetic with the
repo's cross-engine conventions (CLAUDE.md: ``floor(x + 0.5)`` instead
of ``round`` — power-of-two scaling of float32 values produces real .5
ties and engines disagree on tie conventions; integer-scaled error sums
so the DuckDB oracle matches bit-for-bit):

    m    = max(|v_i|)            (1.0 for the all-zero vector)
    q_i  = floor(v_i * 127 / m + 0.5)          in [-127, 127]
    e_i  = |v_i - q_i * m / 127|
    ierr = floor(e_i * 2^30 + 0.5)             error in integer ulps

The reference decodes Parquet's physical types into typed column values
(`ParquetValueConverter.java` primitive paths); this is the write-side
analogue one step earlier: choosing a cheaper physical type and proving,
per corpus slice, what that choice costs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERR_SCALE = 1 << 30  # ~1e-9 resolution on unit-normalized components


def _with_scale(emb: DataFrame, vec_col: str) -> DataFrame:
    """Append ``_m``: the per-vector max-abs quantization scale (1.0 for
    the all-zero vector), materialized as a real column so the lambdas
    that reference it read an attribute (CLAUDE.md: subtrees referenced
    inside HOF lambdas re-evaluate per element)."""
    v = F.col(vec_col)
    d = emb.withColumn(
        "_m", F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))))
    return d.withColumn(
        "_m", F.when(F.col("_m") != 0.0, F.col("_m")).otherwise(F.lit(1.0)))


def sq8_error_stats(emb: DataFrame, group_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-group int8 reconstruction-error profile over the whole corpus:
    (group, n_vecs, n_dims, max_ierr, sum_ierr, n_exact) with errors in
    integer ulps of 2^-30.

    Plan shape at scale: quantize + per-vector error fold are map-only
    projections; the only shuffle is the final groupBy on ``group_col``
    with map-side partial aggregation — same cost as a count(*) per
    group, regardless of dimension.

    Zero-dimension vectors are excluded (they carry no quantization
    information, and keeping the engines' ``n_vecs`` in agreement
    requires it: SQL's unnest emits no rows for an empty list)."""
    v = F.col(vec_col)
    d = _with_scale(emb.filter(F.size(v) > 0), vec_col)
    # per-element integer error; materialized before the aggregate fold
    # so the fold lambda reads one attribute
    ierr = F.transform(
        v, lambda x: F.floor(
            F.abs(x.cast("double")
                  - F.floor(x.cast("double") * 127.0 / F.col("_m")
                            + F.lit(0.5)) * F.col("_m") / 127.0)
            * F.lit(float(ERR_SCALE)) + F.lit(0.5)).cast("long"))
    d = d.withColumn("_ie", ierr)
    return (d.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum(F.size("_ie")).alias("n_dims"),
                 F.max(F.array_max("_ie")).alias("max_ierr"),
                 F.sum(F.aggregate("_ie", F.lit(0).cast("long"),
                                   lambda acc, x: acc + x)).alias("sum_ierr"),
                 F.sum(F.size(F.filter("_ie", lambda x: x == 0)))
                 .alias("n_exact")))
