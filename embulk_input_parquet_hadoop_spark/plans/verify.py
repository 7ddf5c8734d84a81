"""Decode + bit-identity verification.

The correctness contract, inverted from the reference's round-trip tests
(write with Spark -> read with the plugin -> compare every value,
``parquet-msgpack/src/test/java/jp/co/cyberagent/parquet/msgpack/spark/
SparkTestBase.java:115-133``): here we encode with our engine, decode with
our engine, and require per-row token-array equality with the input — plus
equality of every other column. The comparison itself is pure DataFrame API
(null-safe equality join), fully JVM-side, so it scales like any join.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import decode_column
from . import manifest as mf
from . import pipeline
from .filetasks import run_file_tasks

TOKENS_SPARK_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                       "source string")
TOKENS_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]


def decoded_df(spark: SparkSession, out_dir: str) -> DataFrame:
    chunks = pipeline.read_chunks(spark, out_dir)
    return pipeline.decode_chunks(chunks, TOKENS_COLUMNS,
                                  TOKENS_SPARK_SCHEMA)


def verify_bit_identity(input_df: DataFrame, decoded: DataFrame) -> dict:
    """Join on doc_id; count any row whose columns aren't null-safe equal."""
    a = input_df.select(
        F.col("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
        F.col("n_tok").cast("int").alias("n_tok"), F.col("source"))
    b = decoded.select(
        F.col("doc_id").alias("doc_id_d"),
        F.col("tokens").alias("tokens_d"),
        F.col("n_tok").alias("n_tok_d"),
        F.col("source").alias("source_d"))
    j = a.join(b, a.doc_id == b.doc_id_d, "full_outer")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("doc_id").isNull() | F.col("doc_id_d").isNull(),
                     1).otherwise(0)).alias("unmatched"),
        F.sum(F.when(~F.col("tokens").eqNullSafe(F.col("tokens_d")), 1)
              .otherwise(0)).alias("token_mismatch"),
        F.sum(F.when(~F.col("n_tok").eqNullSafe(F.col("n_tok_d")), 1)
              .otherwise(0)).alias("ntok_mismatch"),
        F.sum(F.when(~F.col("source").eqNullSafe(F.col("source_d")), 1)
              .otherwise(0)).alias("source_mismatch"),
    ).collect()[0]
    result = {
        "rows_compared": int(agg.n),
        "unmatched": int(agg.unmatched or 0),
        "token_mismatch": int(agg.token_mismatch or 0),
        "ntok_mismatch": int(agg.ntok_mismatch or 0),
        "source_mismatch": int(agg.source_mismatch or 0),
    }
    result["ok"] = (result["unmatched"] == 0
                    and result["token_mismatch"] == 0
                    and result["ntok_mismatch"] == 0
                    and result["source_mismatch"] == 0)
    return result


def verify_path(spark: SparkSession, input_path: str, out_dir: str) -> dict:
    return verify_bit_identity(spark.read.parquet(input_path),
                               decoded_df(spark, out_dir))


# --------------------------------------------------------------------------
# Channel-free verify: decode + compare where the data lives
# --------------------------------------------------------------------------
#
# verify_bit_identity ships every decoded row across the Python->JVM Arrow
# channel (measured 17-40 MB/s on this host) — fine as the strong
# small-scale gate, but the channel, not the codec, bounds its throughput
# (VERDICT r1: decode path 19x slower than encode). The scalable path
# exploits the per-source-file chunk layout: each task re-reads ONE source
# file with the exact batch iteration the encoder used, decodes the
# matching chunk file, and compares positionally in-process. Only
# per-file stat rows cross the channel. This is also a *stronger* check
# than the join (positional, catches duplicate-row aliasing).

# one verify task input row per source file: the source and its chunk
# file, plus the same per-file side inputs as an encode input row
VERIFY_ROWS_ARROW_SCHEMA = pa.schema([
    pa.field("source_file", pa.string()),
    pa.field("chunk_file", pa.string()),
    pa.field("deletes", pa.list_(pa.string())),
    pa.field("eq", pa.string()),
    pa.field("consts", pa.string()),
])

VERIFY_FILES_ARROW_SCHEMA = pa.schema([
    pa.field("source_file", pa.string()),
    pa.field("chunk_file", pa.string()),
    pa.field("rows", pa.int64()),
    pa.field("tokens", pa.int64()),
    pa.field("mismatch_chunks", pa.int64()),
    pa.field("err", pa.string()),
])


def _source_batches(path: str, batch_rows: int, columns: list[str],
                    del_pos=None, eqf=None, pf=None,
                    consts=None, const_schema=None,
                    column_renames=None):
    """The encoder's exact source iteration (row-group at a time, corrupt
    groups skipped mid-stream) so batch boundaries line up with chunks.

    ``del_pos`` (sorted file-absolute row positions, or None) replays the
    encoder's Iceberg position-delete masking: the same rows are dropped
    from each batch and fully-deleted batches are skipped entirely — so a
    delete-masked tree verifies positionally against its MOR source.
    ``eqf`` (a ``pipeline._EqualityDeleteFilter``, or None) replays
    equality deletes the same way; its key columns are read alongside
    ``columns`` (the encode may not have stored them) and dropped again
    before yielding, so the comparison stays on the encoded columns.
    ``pf`` reuses an already-open ParquetFile (one footer read per
    source file, not one per consumer)."""
    import numpy as np
    from . import fsutil
    if pf is None:
        pf = fsutil.parquet_file(path)
    # injected constant columns live in chunk names but NOT in the
    # source file — read the physical remainder and re-inject after
    # the filters, exactly as the encoder did
    phys_cols = ([c for c in columns if c not in consts]
                 if consts else columns)
    if column_renames:
        # chunk names are LOGICAL; translate to the physical read set
        # and rename each batch back, exactly as the encoder did
        phys_cols = pipeline._physical_columns(
            pf.schema_arrow, column_renames, phys_cols)
    read_cols = phys_cols
    if eqf is not None:
        extra = [c for c in eqf.columns_needed if c not in phys_cols]
        read_cols = list(phys_cols) + extra
    rg_start = 0
    for rg in range(pf.metadata.num_row_groups):
        rg_rows = pf.metadata.row_group(rg).num_rows
        rows_read = 0
        it = pf.iter_batches(batch_size=batch_rows, row_groups=[rg],
                             columns=read_cols, use_threads=False)
        while True:
            try:
                batch = next(it)
            except StopIteration:
                break
            except Exception:  # noqa: BLE001  (same skip as the encoder)
                break
            n_read = batch.num_rows
            if del_pos is not None:
                off = rg_start + rows_read
                lo = int(np.searchsorted(del_pos, off))
                hi = int(np.searchsorted(del_pos, off + n_read))
                if hi > lo:
                    keep = np.ones(n_read, dtype=bool)
                    keep[del_pos[lo:hi] - off] = False
                    batch = batch.filter(pa.array(keep))
            if eqf is not None and batch.num_rows:
                batch = eqf.apply(batch)
            if batch.num_rows == 0:
                rows_read += n_read
                continue
            rows_read += n_read
            if column_renames:
                batch = pipeline.rename_batch(batch, column_renames)
            if consts:
                for nm, arr in pipeline._const_arrays(
                        consts, batch.num_rows, const_schema or {}):
                    batch = batch.append_column(nm, arr)
            if read_cols is not columns or consts or column_renames:
                batch = batch.select(columns)
            yield batch
        rg_start += rg_rows


def _verify_one(src: str, chk: str, batch_rows: int,
                del_files=None, eq_json=None, consts_json=None,
                const_schema=None, column_renames=None) -> tuple:
    """``del_files``/``eq_json`` are the RAW per-file delete inputs
    (position-delete paths / equality-descriptor JSON); they are
    resolved here, inside the error capture, so a missing or corrupt
    source, delete file, or descriptor yields a per-file ``err`` row
    instead of aborting the whole Spark job."""
    from . import fsutil
    rows = toks = mism = 0
    err = None
    try:
        if not fsutil.exists(chk):
            # every row group of the file was skipped within threshold
            return (src, chk, 0, 0, 0, None)
        del_pos = (pipeline._read_delete_positions(src, del_files)
                   if del_files else None)
        consts = json.loads(consts_json) if consts_json else None
        spf = None
        eqf = None
        if eq_json:
            spf = fsutil.parquet_file(src)
            eqf = pipeline._EqualityDeleteFilter.build(
                json.loads(eq_json), data_schema=spf.schema_arrow)
        cpf = fsutil.parquet_file(chk)
        columns: list[str] | None = None
        src_iter = None
        for cb in cpf.iter_batches(batch_size=32, use_threads=False):
            cols_list = cb.column("cols")
            blobs_list = cb.column("blobs")
            cvals = cols_list.values
            names_flat = cvals.field("name").to_pylist()
            kinds_flat = cvals.field("kind").to_pylist()
            coffs = cols_list.offsets.to_numpy(zero_copy_only=False)
            bvals = blobs_list.values
            boffs = blobs_list.offsets.to_numpy(zero_copy_only=False)
            toks += int(pa.compute.sum(cb.column("n_tokens")).as_py() or 0)
            for i in range(cb.num_rows):
                lo, hi = int(coffs[i]), int(coffs[i + 1])
                blo = int(boffs[i])
                names = names_flat[lo:hi]
                kinds = kinds_flat[lo:hi]
                if columns is None:
                    columns = names
                    src_iter = _source_batches(
                        src, batch_rows, columns, del_pos, eqf, pf=spf,
                        consts=consts, const_schema=const_schema,
                        column_renames=column_renames)
                try:
                    sb = next(src_iter)
                except StopIteration:
                    err = "chunk file has more batches than source"
                    break
                chunk_ok = True
                for j, (nm, kd) in enumerate(zip(names, kinds)):
                    da = decode_column(kd, bvals[blo + j].as_buffer())
                    sa = sb.column(nm)
                    try:
                        if da.type != sa.type:
                            da = da.cast(sa.type)
                        if not da.equals(sa):
                            chunk_ok = False
                    except pa.ArrowInvalid:
                        chunk_ok = False
                rows += len(sb)
                if not chunk_ok:
                    mism += 1
            if err:
                break
        if err is None and src_iter is not None:
            if next(src_iter, None) is not None:
                err = "source has batches the chunk file lacks"
    except Exception as exc:  # noqa: BLE001
        err = f"{type(exc).__name__}: {exc}"
    return (src, chk, rows, toks, mism, err)


def make_verify_files_fn(batch_rows: int = pipeline.DEFAULT_BATCH_ROWS,
                         const_schema: dict[str, str] | None = None,
                         column_renames: list[dict] | None = None):
    def fn(batches):
        for b in batches:
            dcol = (b.column("deletes").to_pylist()
                    if "deletes" in b.schema.names else [None] * b.num_rows)
            ecol = (b.column("eq").to_pylist()
                    if "eq" in b.schema.names else [None] * b.num_rows)
            ccol = (b.column("consts").to_pylist()
                    if "consts" in b.schema.names else [None] * b.num_rows)
            for src, chk, dfiles, eqjson, cjson in zip(
                    b.column("source_file").to_pylist(),
                    b.column("chunk_file").to_pylist(), dcol, ecol, ccol):
                # raw inputs only — _verify_one resolves them (JSON
                # included) inside its per-file error capture
                s, c, r, t, m, e = _verify_one(
                    src, chk, batch_rows, del_files=dfiles,
                    eq_json=eqjson, consts_json=cjson,
                    const_schema=const_schema,
                    column_renames=column_renames)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([s], type=pa.string()),
                     pa.array([c], type=pa.string()),
                     pa.array([r], type=pa.int64()),
                     pa.array([t], type=pa.int64()),
                     pa.array([m], type=pa.int64()),
                     pa.array([e], type=pa.string())],
                    schema=VERIFY_FILES_ARROW_SCHEMA)

    return fn


def verify_files(spark: SparkSession, out_dir: str,
                 batch_rows: int = pipeline.DEFAULT_BATCH_ROWS,
                 row_deletes: dict[str, list[str]] | None = None,
                 eq_deletes: dict[str, list[dict]] | None = None,
                 const_columns: dict[str, dict] | None = None,
                 const_schema: dict[str, str] | None = None,
                 column_renames: list[dict] | None = None) -> dict:
    """Distributed positional bit-identity check per source file.

    Source files are LPT-packed on their bytes into at most one task per
    core (``filetasks.run_file_tasks``); each file is still checked, and
    reports its error, on its own. Requires the file-source encode path
    (chunks_meta carries the source-file -> chunk-file lineage);
    ``batch_rows`` must match the encode run's. Only O(n_files) stat rows
    come back to the driver.

    ``row_deletes``/``eq_deletes``: the same position-/equality-delete
    mappings the encode ran with (``iceberg_meta.snapshot_scan``) — each
    task replays the delete masking on its source file, so a MOR-encoded
    tree verifies against the live rows only. Without them a
    delete-masked tree correctly FAILS this check (the tree really
    doesn't match the raw files).

    ``const_columns``/``const_schema``: the same per-file constant
    injection the encode ran with (``encode_path(const_columns=)``) —
    each task re-injects the constants after its filters, so a
    partition-augmented tree verifies bit-identically. Without them the
    check correctly fails (the chunk columns don't exist in the source).
    """
    from . import fsutil
    pairs = set()
    for w in sorted(mf.completed_waves(spark, out_dir)):
        for p in pipeline.meta_files(out_dir, w):
            t = fsutil.read_parquet(
                p, columns=["source_file", "chunk_file", "error"])
            for s, c, e in zip(t.column("source_file").to_pylist(),
                               t.column("chunk_file").to_pylist(),
                               t.column("error").to_pylist()):
                if e is None and c:
                    pairs.add((s, c))
    if not pairs:
        raise FileNotFoundError(
            f"no chunks_meta lineage under {out_dir} (verify_files needs "
            f"the file-source encode path; use verify_path otherwise)")
    pairs = sorted(pairs)
    sources = [s for s, _ in pairs]
    sides = pipeline._side_inputs(sources, row_deletes, eq_deletes,
                                  const_columns)
    rows = [(s, c, *side) for (s, c), side in zip(pairs, sides)]
    res = run_file_tasks(
        spark, rows, VERIFY_ROWS_ARROW_SCHEMA,
        make_verify_files_fn(batch_rows, const_schema=const_schema,
                             column_renames=column_renames),
        VERIFY_FILES_ARROW_SCHEMA,
        weights=fsutil.file_sizes(sources))
    import pyarrow.compute as pc
    errs = [e for e in res.column("err").to_pylist() if e]
    mism = int(pc.sum(res.column("mismatch_chunks")).as_py() or 0)
    out = {
        "files_compared": res.num_rows,
        "rows_compared": int(pc.sum(res.column("rows")).as_py() or 0),
        "tokens_compared": int(pc.sum(res.column("tokens")).as_py() or 0),
        "mismatch_chunks": mism,
        "errors": errs[:5],
        "ok": not errs and mism == 0,
    }
    return out
