"""Int8 embedding quantization error stats: exactness and invariants
vs a local numpy reference."""

from __future__ import annotations

import numpy as np

from embulk_input_parquet_hadoop_spark.operators import quant


def _emb_df(spark, vecs, labels=None):
    labels = labels or [i % 3 for i in range(len(vecs))]
    return spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v], int(lb))
         for i, (v, lb) in enumerate(zip(vecs, labels))],
        "vec_id long, embedding array<float>, label int")


RNG = np.random.default_rng(7)
VECS = [RNG.normal(size=24).astype(np.float32) for _ in range(40)]
VECS += [np.zeros(24, dtype=np.float32),             # zero vector
         np.array([1.0] * 24, dtype=np.float32),     # exactly representable
         np.array([-3.5] + [0.25] * 23, dtype=np.float32)]


def _local_quant(v):
    x = v.astype(np.float64)
    m = np.max(np.abs(x))
    if m == 0.0:
        m = 1.0
    return np.floor(x * 127.0 / m + 0.5).astype(np.int64), m


def test_sq8_error_stats_match_local(spark):
    out = {r["label"]: r for r in
           quant.sq8_error_stats(_emb_df(spark, VECS)).collect()}
    agg = {}
    for i, v in enumerate(VECS):
        q, m = _local_quant(v)
        e = np.abs(v.astype(np.float64) - q * m / 127.0)
        ie = np.floor(e * quant.ERR_SCALE + 0.5).astype(np.int64)
        a = agg.setdefault(i % 3, dict(n_vecs=0, n_dims=0, max_ierr=0,
                                       sum_ierr=0, n_exact=0))
        a["n_vecs"] += 1
        a["n_dims"] += len(ie)
        a["max_ierr"] = max(a["max_ierr"], int(ie.max()))
        a["sum_ierr"] += int(ie.sum())
        a["n_exact"] += int((ie == 0).sum())
    assert set(out) == set(agg)
    for lb, a in agg.items():
        for k, v in a.items():
            assert out[lb][k] == v, (lb, k)


def test_sq8_exact_vectors_have_zero_error(spark):
    # constant-magnitude vectors quantize exactly: q = ±127, dequant == v
    vecs = [np.full(8, 2.0, dtype=np.float32),
            np.array([1, -1, 1, -1, 1, -1, 1, -1], dtype=np.float32)]
    out = quant.sq8_error_stats(_emb_df(spark, vecs, [0, 0])).collect()
    assert len(out) == 1 and out[0]["max_ierr"] == 0
    assert out[0]["n_exact"] == out[0]["n_dims"] == 16


def test_sq8_plan_single_shuffle_no_python(spark):
    # quantize + error fold are projections; the only exchange is the
    # final groupBy (map-side partial agg), and nothing drops to Python
    plan = (quant.sq8_error_stats(_emb_df(spark, VECS))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan
