"""Seeded benchmark inputs, generated once per (workload, seed, scale).

The program under test only ever sees the Parquet files written here. Every
input is a pure function of the seed, so the same seed always yields the
same bytes; a finished input set is marked with ``_COMPLETE`` and reused by
later runs with that seed. Generation happens before any timed window and
is never counted in ``setup_s``.

Three input kinds:

- ``encode_tokens``: a datagen Zipf token corpus (``doc_id, tokens, n_tok,
  source``) of ``2 * cores`` files, written by parallel child processes
  (one ``datagen.generate`` call per file, each with its own derived seed);
- ``read_tokens``: a smaller corpus of the same kind with every file sorted
  by ``n_tok``, so chunk zone maps are narrow;
- ``append_mixed``: tables with the schema and per-column value shapes of
  the sf0.1 ``lineitem`` and ``events`` test tables, cut into small
  row-slice files; their int, float, string and timestamp columns reach
  every scalar codec path.

Every input set also holds a small *kernel sample* — one token file and one
slice of each mixed table — so the Spark-free kernel leg times every column
kind on every workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_DOCS_PER_FILE = 10_000   # ~3M tokens per file at scale 1
SORTED_DOCS_PER_FILE = 5_000    # ~1.5M tokens per file at scale 1
SAMPLE_DOCS = 2_000
LINEITEM_SLICE_ROWS = 3_000
EVENTS_SLICE_ROWS = 1_000
N_SLICES = 128                 # per table; more than a run's appends use
KEEP_SEEDS = 3                 # cached input sets kept per workload

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])

_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_DAY_US = 86_400_000_000

# Column shapes of the sf0.1 ``lineitem`` (600k rows) and ``events`` (100k
# rows) test tables, measured column by column: every column is uniform over
# the ranges below unless noted, and rows are in no order but ``events``'
# event_id/ts order. A slice of either table is a run of consecutive rows.
LINEITEM_ORDERS = 150_000        # l_orderkey in [0, 150000)
LINEITEM_PARTS = 20_000          # l_partkey in [0, 20000)
LINEITEM_SUPPLIERS = 1_000       # l_suppkey in [0, 1000)
SHIP_DAYS = (9_132, 11_631)      # 1995-01-02 .. 2001-11-04, at midnight
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01
EVENTS_GAP_US = 25_920_000       # mean gap between events (exponential)
EVENTS_USERS = 1_500
EVENTS_PROPS_KEYS = 100          # props is '{"k": N}', N in [0, 100)


def _token_file(out_path: str, n_docs: int, seed: int, start_doc: int,
                sort_by_n_tok: bool) -> None:
    """One datagen file, written through a private directory and
    optionally rewritten with its rows sorted by ``n_tok``."""
    from embulk_input_parquet_hadoop_spark.sources import datagen
    tmp = out_path + ".gen"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(tmp, n_docs, seed=seed, n_files=1, start_doc=start_doc)
    part = os.path.join(tmp, "part-00000.parquet")
    if sort_by_n_tok:
        pq.write_table(pq.read_table(part).sort_by("n_tok"), part,
                       compression="zstd")
    os.replace(part, out_path)
    os.rmdir(tmp)


def _token_files(out_dir: str, n_files: int, docs_per_file: int, seed: int,
                 procs: int, sort_by_n_tok: bool = False) -> list[str]:
    """Write ``n_files`` datagen files, ``procs`` child processes at a
    time (``python3 -m perfbench.inputs``, one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    jobs = [(os.path.join(out_dir, f"part-{i:05d}.parquet"), docs_per_file,
             seed * 1000 + i, i * docs_per_file, int(sort_by_n_tok))
            for i in range(n_files)]
    env = dict(os.environ, PYTHONPATH=_ROOT)
    running: list[subprocess.Popen] = []
    try:
        for job in jobs:
            if len(running) >= max(1, procs):
                _wait_ok(running.pop(0))
            running.append(subprocess.Popen(
                [sys.executable, "-m", "perfbench.inputs"]
                + [str(a) for a in job], cwd=_ROOT, env=env))
        while running:
            _wait_ok(running.pop(0))
    finally:
        for p in running:
            p.kill()
            p.wait()
    return [j[0] for j in jobs]


def _wait_ok(p: subprocess.Popen) -> None:
    if p.wait() != 0:
        raise RuntimeError(f"input generation failed: {p.args}")


def lineitem_table(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(*SHIP_DAYS, n)
    return pa.table({
        "l_orderkey": rng.integers(0, LINEITEM_ORDERS, n),
        "l_partkey": rng.integers(0, LINEITEM_PARTS, n),
        "l_suppkey": rng.integers(0, LINEITEM_SUPPLIERS, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        # independent of l_quantity in the test table
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(days * _DAY_US, pa.timestamp("us")),
    }, schema=LINEITEM_SCHEMA)


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(EVENTS_GAP_US, n).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EVENTS_START_US + np.cumsum(gaps),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, EVENTS_USERS, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}'
                  for k in rng.integers(0, EVENTS_PROPS_KEYS, n)],
    }, schema=EVENTS_SCHEMA)


def _slices(table: pa.Table, rows: int, out_dir: str, prefix: str,
            count: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(count):
        p = os.path.join(out_dir, f"{prefix}-{k:03d}.parquet")
        pq.write_table(table.slice(k * rows, rows), p, compression="zstd")
        paths.append(p)
    return paths


def _kernel_sample(out_dir: str, seed: int, scale: float) -> list[str]:
    rng = np.random.default_rng([seed, 7])
    tok = _token_files(os.path.join(out_dir, "tokens"), 1,
                       max(50, int(SAMPLE_DOCS * scale)), seed * 1000 + 999,
                       1)
    li = os.path.join(out_dir, "lineitem.parquet")
    ev = os.path.join(out_dir, "events.parquet")
    pq.write_table(lineitem_table(rng, max(100, int(LINEITEM_SLICE_ROWS
                                                    * scale))), li)
    pq.write_table(events_table(rng, max(100, int(EVENTS_SLICE_ROWS
                                                  * scale))), ev)
    return tok + [li, ev]


def _build(workload: str, out: str, seed: int, scale: float,
           cores: int) -> dict:
    n_files = 2 * cores
    man: dict = {"workload": workload, "seed": seed, "scale": scale,
                 "kernel_sample": _kernel_sample(
                     os.path.join(out, "sample"), seed, scale)}
    if workload == "encode_tokens":
        man["files"] = _token_files(
            os.path.join(out, "corpus"), n_files,
            max(50, int(TOKEN_DOCS_PER_FILE * scale)), seed, cores)
    elif workload == "read_tokens":
        man["files"] = _token_files(
            os.path.join(out, "sorted"), n_files,
            max(50, int(SORTED_DOCS_PER_FILE * scale)), seed, cores,
            sort_by_n_tok=True)
    elif workload != "append_mixed":
        raise ValueError(f"unknown workload {workload!r}")
    else:
        man["slices"] = _mixed_slices(out, seed, scale)
    return man


def _mixed_slices(out: str, seed: int, scale: float) -> dict:
    """Row slices of one lineitem- and one events-shaped table, listed in
    a seed-permuted append order."""
    rng = np.random.default_rng(seed)
    li_rows = max(20, int(LINEITEM_SLICE_ROWS * scale))
    ev_rows = max(20, int(EVENTS_SLICE_ROWS * scale))
    li = _slices(lineitem_table(rng, li_rows * N_SLICES), li_rows,
                 os.path.join(out, "lineitem"), "lineitem", N_SLICES)
    ev = _slices(events_table(rng, ev_rows * N_SLICES), ev_rows,
                 os.path.join(out, "events"), "events", N_SLICES)
    return {"lineitem": [li[i] for i in rng.permutation(N_SLICES)],
            "events": [ev[i] for i in rng.permutation(N_SLICES)]}


def _evict(cache_root: str, workload: str, keep: str) -> None:
    """Keep at most KEEP_SEEDS input sets per workload (newest first)."""
    sets = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-s")]
    sets.sort(key=os.path.getmtime, reverse=True)
    for d in sets[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def prepare(workload: str, seed: int, scale: float, cores: int,
            cache_root: str) -> dict:
    """Return the input manifest for (workload, seed, scale), generating
    it on first use. Paths in the manifest are absolute."""
    os.makedirs(cache_root, exist_ok=True)
    out = os.path.join(cache_root, f"{workload}-s{seed}-x{scale:g}-c{cores}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            man = json.load(f)
        os.utime(out)
    else:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        man = _build(workload, out, seed, scale, cores)
        with open(marker + ".tmp", "w") as f:
            json.dump(man, f)
        os.replace(marker + ".tmp", marker)
    _evict(cache_root, workload, out)
    return man


if __name__ == "__main__":
    _token_file(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                int(sys.argv[4]), bool(int(sys.argv[5])))
