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

import pyarrow as pa
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
# file through the encoder's own reader (``pipeline._source_batches``:
# same row groups, corrupt-group skips, delete masking, renames and
# constants, so the same batch boundaries), decodes the matching chunk
# file, and compares positionally in-process. Only per-file stat rows
# cross the channel. This is also a *stronger* check than the join
# (positional, catches duplicate-row aliasing). Because the reader is
# shared, a masking bug in it cannot show here; the masking is pinned by
# tests that compute their expected rows independently.

# one verify task input row per source file: the source and its chunk
# file, then the side inputs of its encode input row, built from the
# same recorded wave plan (``pipeline.task_sides``)
VERIFY_ROWS_ARROW_SCHEMA = pa.schema([
    pa.field("source_file", pa.string()),
    pa.field("chunk_file", pa.string()),
    *pipeline.SIDE_FIELDS,
])

VERIFY_FILES_ARROW_SCHEMA = pa.schema([
    pa.field("source_file", pa.string()),
    pa.field("chunk_file", pa.string()),
    pa.field("rows", pa.int64()),
    pa.field("tokens", pa.int64()),
    pa.field("mismatch_chunks", pa.int64()),
    pa.field("err", pa.string()),
])


def _verify_one(src: str, chk: str, batch_rows: int, side=None,
                wave_plan=None) -> tuple:
    """Decode chunk file ``chk`` and compare it positionally, batch by
    batch, with source file ``src`` read through the encoder's own
    ``pipeline._source_batches``. ``side`` (the RAW per-file side
    inputs) and ``wave_plan`` (the wave's ``const_schema``/
    ``column_renames`` JSON) are those of the file's encode input row;
    the reader resolves them inside this function's error capture, so a
    missing or corrupt source, delete file, or descriptor yields a
    per-file ``err`` row instead of aborting the whole Spark job."""
    from . import fsutil

    def replay(columns):
        # the encode committed this file, so its corrupt-group skips
        # were within its threshold
        return pipeline._source_batches(
            src, batch_rows, columns, side, wave_plan, 1.0, [])

    rows = toks = mism = 0
    err = None
    try:
        if not fsutil.exists(chk):
            # right only when every row group of the file was skipped
            # within threshold: then the source reads to no batch
            if next(replay(None), None) is not None:
                err = f"chunk file {chk} is missing"
            return (src, chk, 0, 0, 0, err)
        cpf = fsutil.parquet_file(chk)
        src_iter = None
        for cb in cpf.iter_batches(batch_size=32, use_threads=False):
            toks += int(pa.compute.sum(cb.column("n_tokens")).as_py() or 0)
            for entries in pipeline.chunk_columns(cb):
                if src_iter is None:
                    # the chunk's names are the encoded projection
                    src_iter = replay([nm for nm, _k, _b in entries])
                sb = next(src_iter, None)
                if sb is None:
                    err = "chunk file has more batches than source"
                    break
                chunk_ok = True
                for nm, kd, buf in entries:
                    da = decode_column(kd, buf)
                    sa = sb.column(nm)
                    try:
                        if da.type != sa.type:
                            da = da.cast(sa.type)
                        if not _same_values(da, sa):
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


_FLOAT_BITS = {16: pa.uint16(), 32: pa.uint32(), 64: pa.uint64()}


def _same_values(decoded: pa.Array, source: pa.Array) -> bool:
    """Arrow ``equals``, except that every float leaf (top-level or inside
    a struct, list or map) compares its validity and the bits of its
    valid values, through a view with each float as the unsigned int of
    its width: ``equals`` calls NaN unequal to itself (a bit-exact NaN
    would fail) and -0.0 equal to 0.0 (a flipped sign would pass)."""
    t = pipeline._plain_type(source.type, lambda t: _FLOAT_BITS[
        t.bit_width] if pa.types.is_floating(t) else t)
    if t == source.type:
        return decoded.equals(source)
    return decoded.view(t).equals(source.view(t))


def make_verify_files_fn(batch_rows: int = pipeline.DEFAULT_BATCH_ROWS):
    def fn(_pid, files):
        for src, chk, *side, wave_plan in zip(*files.to_pydict().values()):
            s, c, r, t, m, e = _verify_one(src, chk, batch_rows, side,
                                           wave_plan)
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
                 batch_rows: int = pipeline.DEFAULT_BATCH_ROWS) -> dict:
    """Distributed positional bit-identity check per source file.

    Source files are LPT-packed on their bytes into at most one task per
    core (``filetasks.run_file_tasks``; a tree of small source files is
    checked in the driver); each file is still checked, and
    reports its error, on its own. Requires the file-source encode path
    (chunks_meta carries the source-file -> chunk-file lineage);
    ``batch_rows`` must match the encode run's. Only O(n_files) stat rows
    come back to the driver.

    Each source file is replayed with the scan plan recorded in the
    manifest record of the wave that committed it: the position and
    equality deletes, constant columns with their types, and column
    renames that ``encode_path`` applied to that file. So a
    delete-masked, partition-augmented or column-mapped tree verifies
    against its live, augmented, logical rows, and a tree appended
    across table snapshots verifies each wave against the masking it
    was encoded with. The caller passes no mappings. A tree committed
    before waves recorded their plan is replayed with none: if it was
    encoded with deletes, constants or renames it now FAILS this check
    and must be re-encoded to verify — a false fail, never a false
    pass. So does a tree holding a wave with no chunks_meta lineage (a
    ``cluster_partitions`` wave, or one whose lineage file is gone):
    each such wave is named in ``errors``.
    """
    from . import fsutil
    rows = {}
    unverified = []
    for rec in mf.wave_records(out_dir):
        metas = pipeline.meta_files(out_dir, rec["wave_id"])
        if not metas:
            unverified.append(
                f"wave {rec['wave_id']}: no chunks_meta lineage to "
                "replay; check it with verify_path")
        pairs = []
        for p in metas:
            t = fsutil.read_parquet(
                p, columns=["source_file", "chunk_file", "error"])
            pairs += [(s, c) for s, c, e in zip(
                t.column("source_file").to_pylist(),
                t.column("chunk_file").to_pylist(),
                t.column("error").to_pylist()) if e is None and c]
        sides = pipeline.task_sides(rec.get("plan"), [s for s, _c in pairs])
        for (s, c), side in zip(pairs, sides):
            rows[s, c] = (s, c, *side)
    if not rows:
        raise FileNotFoundError(
            f"no chunks_meta lineage under {out_dir} (verify_files needs "
            f"the file-source encode path; use verify_path otherwise)")
    rows = [rows[k] for k in sorted(rows)]
    res = run_file_tasks(
        spark, rows, VERIFY_ROWS_ARROW_SCHEMA,
        make_verify_files_fn(batch_rows), VERIFY_FILES_ARROW_SCHEMA,
        weights=fsutil.file_sizes([r[0] for r in rows]))
    import pyarrow.compute as pc
    errs = unverified + [e for e in res.column("err").to_pylist() if e]
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
