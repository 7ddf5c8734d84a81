"""Measure how close the encode stack sits to the corpus's entropy floor.

The north-star metric is compressed bytes/token; this job computes the
information-theoretic context for that number on any tokens parquet tree:

- order-0 (unigram) entropy H0 of the token distribution — the floor for
  ANY codec that treats tokens i.i.d. (every lightweight codec here, plus
  zstd's FSE entropy stage, is in that class),
- the engine's achieved frame density on the same values (full cascade:
  sampled codec selection -> int kernel -> outer zstd/plane stage),
- their ratio ("overhead vs H0") — how much of the remaining gap is
  closable without context modeling.

Run: python jobs/entropy_floor.py [tokens_dir] (defaults to bench-shaped
synthetic data). Pure numpy/pyarrow — no Spark session; the kernel being
measured is exactly what encode tasks run per chunk.

Measured on the bench corpus (150k docs, seed 7, Zipf token ids): H0 =
8.888 bits/token = 1.1111 B/token; engine frame density 1.1619 B/token ->
1.046x the order-0 floor. The bucketed order-1 "floors" this job reports
(h1_bucket*) are EMPIRICAL conditional entropies and overstate the real
headroom on this corpus: datagen draws tokens i.i.d. (sources/datagen.py
``rng.zipf(1.2) % VOCAB``), so the apparent conditional structure is
small-sample bias (~500 samples per context over a 50k alphabet).
Earlier builds carried an opt-in order-1 rANS coder aimed at these
floors; it bought 2.2% on this corpus and 0-4% on a real token corpus
at a 40-50x slower encode, and was retired (``codecs/rans.py`` keeps
only its decoder). The floors stay the yardstick for any future context
model.
"""
from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from embulk_input_parquet_hadoop_spark.operators import encode  # noqa: E402


def measure(tokens_dir: str, max_files: int = 4) -> dict:
    files = sorted(glob.glob(f"{tokens_dir}/*.parquet"))[:max_files]
    if not files:
        raise FileNotFoundError(f"no parquet under {tokens_dir}")
    flats = []
    for f in files:
        t = pq.read_table(f, columns=["tokens"])
        flats.append(t.column("tokens").combine_chunks().values
                     .to_numpy(zero_copy_only=False))
    flat = np.concatenate(flats)
    cnt = np.bincount(flat)
    p = cnt[cnt > 0] / len(flat)
    h0_bits = float(-(p * np.log2(p)).sum())
    blob = encode._int_frame(flat.astype(np.int32), "int32")
    density = len(blob) / len(flat)

    # Bucketed order-1 floors: what a PRACTICAL context model (prev
    # token hashed into B buckets -> bounded CDF tables) could reach.
    # Measured on the bench corpus: B=256 -> 1.055 B/token, B=4096 ->
    # 0.995 (full-context H1 ~0.94) vs engine 1.16 — a real 10-15%
    # headroom, BUT the quantized model is B x vocab x 2 bytes (26MB at
    # B=256), amortizable only at wave scale. This function records the
    # numbers so the trade stays quantified.
    V = int(flat.max()) + 1
    prev, cur = flat[:-1].astype(np.int64), flat[1:].astype(np.int64)
    bucketed = {}
    for B in (256, 4096):
        jm = np.bincount((prev % B) * V + cur,
                         minlength=B * V).reshape(B, V)
        n = jm.sum()
        hc = 0.0
        for b in range(B):
            row = jm[b]
            s = row.sum()
            if s:
                q = row[row > 0] / s
                hc += (s / n) * float(-(q * np.log2(q)).sum())
        bucketed[f"h1_bucket{B}_bytes_per_token"] = round(hc / 8, 4)
        bucketed[f"model_bytes_bucket{B}"] = int(B * V * 2)
    return {
        "n_tokens": int(len(flat)),
        "vocab": int(len(p)),
        "h0_bits_per_token": round(h0_bits, 4),
        "h0_bytes_per_token": round(h0_bits / 8, 4),
        "engine_bytes_per_token": round(density, 4),
        "overhead_vs_h0": round(density / (h0_bits / 8), 4),
        **bucketed,
    }


if __name__ == "__main__":
    if len(sys.argv) > 1:
        tdir = sys.argv[1]
    else:
        tdir = "/tmp/entropy_floor_tokens"
        if not glob.glob(f"{tdir}/*.parquet"):
            from embulk_input_parquet_hadoop_spark.sources import datagen
            datagen.generate(tdir, n_docs=50000, seed=7, n_files=1)
    print(json.dumps(measure(tdir)))
