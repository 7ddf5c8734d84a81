"""Resumable manifest: per-wave commit records with lineage + codec metrics.

The reference explicitly lacks resume ("Resume supported: no",
``/root/reference/README.md:9``); the north rule adds it. Design:

- ``{out}/chunks/wave=K/``      chunk rows (blobs) — overwritten idempotently
- ``{out}/manifest/wave-K.json`` one commit record per wave, written by the
  driver via temp-file + atomic rename *after* the wave's chunk data is
  fully written (write-ahead ordering: a wave is complete iff its manifest
  record exists). Driver-side metadata stays a driver-side file write —
  running a Spark job to persist one row costs seconds of fixed overhead
  per wave and buys nothing. A wave encoded with deletes, constants or
  renames also records that scan plan (``"plan"``), O(files) like its
  ``input_files`` lineage, for ``verify_files`` to replay, and a
  file-source wave records its files' schema keys (``"schemas"``).
- ``{out}/manifest/checkpoint-K.json`` optional compaction of every wave
  record <= K (:func:`compact_manifest`) — the Delta last-checkpoint
  reader shape for OUR tree: lineage/metrics reads become one object
  read + the post-checkpoint tail instead of O(waves) small reads on a
  long-lived append tree. Purely a read cache; per-wave records remain
  the visibility source of truth and are never deleted by compaction.
- chunk-level codec metrics are aggregated from the wave's chunk files with
  the ``blobs`` payload column pruned at the Parquet scan (stats are
  top-level columns — see ``pipeline.CHUNK_SPARK_SCHEMA``), so the commit
  aggregation is metadata-sized regardless of encoded data volume.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsutil

_WAVE_RE = re.compile(r"^wave-(\d+)\.json$")
_CKPT_RE = re.compile(r"^checkpoint-(\d+)\.json$")


def _manifest_dir(out_dir: str) -> str:
    return f"{out_dir}/manifest"


def wave_records(out_dir: str) -> list[dict]:
    """Every committed wave's manifest record, checkpoint-accelerated:
    the newest ``checkpoint-K.json`` serves the waves it lists in ONE
    read, and every other present wave file is read individually — the
    post-checkpoint tail, plus any wave re-committed at an id <= K after
    the checkpoint was written (rollback: delete ``wave-K.json``, compact,
    resume). The same reader shape as a Delta last-checkpoint replay.
    Per-wave files stay the single VISIBILITY point (``completed_waves``
    never consults the checkpoint), and that extends to lineage: a
    checkpoint entry is served ONLY while its wave's record file still
    exists, so deleting ``wave-K.json`` (the rollback gesture) removes
    wave K from every reader — visibility, metrics, AND the append-lineage
    set — and an append re-encodes its files instead of silently skipping
    them. A checkpoint that would describe a re-committed wave with its
    pre-rollback entry does not survive the re-commit (``commit_wave``
    drops it first). The checkpoint caches record *contents*, never
    record *existence*; a stale, absent or concurrently removed one only
    costs extra reads."""
    mdir = _manifest_dir(out_dir)
    if not fsutil.isdir(mdir):
        return []
    names = fsutil.listdir(mdir)
    present = {int(m.group(1)): f for f in names
               if (m := _WAVE_RE.match(f))}
    ckpts = [(int(m.group(1)), f) for f in names if (m := _CKPT_RE.match(f))]
    recs: dict[int, dict] = {}
    if ckpts:
        try:
            entries = fsutil.read_json(f"{mdir}/{max(ckpts)[1]}")["waves"]
        except FileNotFoundError:
            # a concurrent compact_manifest removed the checkpoint this
            # listing picked: the per-wave records below are the truth
            entries = []
        for r in entries:
            if int(r["wave_id"]) in present:
                recs[int(r["wave_id"])] = r
    for k, f in present.items():
        if k not in recs:
            recs[k] = fsutil.read_json(f"{mdir}/{f}")
    return [recs[k] for k in sorted(recs)]


def compact_manifest(out_dir: str, keep_old: bool = False) -> dict:
    """Compact every committed wave record into ``checkpoint-K.json``
    (K = the highest committed wave id), atomically visible via the
    same ``fsutil`` put discipline as wave commits. Per-wave records
    are NOT deleted — they remain the visibility source of truth for
    ``completed_waves``/readers and the resume protocol; the checkpoint
    only collapses the O(waves) lineage/metrics reads
    (``committed_input_files``, ``read_manifest``) to one read plus the
    post-checkpoint tail. Superseded older checkpoints are removed
    AFTER the new one is visible (``keep_old=True`` skips that); a
    crash between the two leaves two checkpoints and readers pick the
    newest — never an inconsistent view. Like ``vacuum``, do not run
    concurrently with another compact on the same tree.
    """
    recs = wave_records(out_dir)
    if not recs:
        raise FileNotFoundError(f"no committed waves under {out_dir}")
    k = max(int(r["wave_id"]) for r in recs)
    mdir = _manifest_dir(out_dir)
    old = [f for f in fsutil.listdir(mdir)
           if (m := _CKPT_RE.match(f)) and int(m.group(1)) != k]
    fsutil.write_json_atomic(mdir, f"checkpoint-{k}.json",
                             {"max_wave": k, "n_waves": len(recs),
                              "waves": recs})
    removed = 0
    if not keep_old:
        for f in old:
            fsutil.delete_quiet(f"{mdir}/{f}")
            removed += 1
    return {"checkpoint": f"{mdir}/checkpoint-{k}.json",
            "max_wave": k, "n_waves": len(recs),
            "old_checkpoints_removed": removed}


def completed_waves(spark: SparkSession, out_dir: str) -> set[int]:
    """Wave ids whose commit record exists. URI-aware (file:/hdfs:/s3:),
    like the input listing — the two halves of the pipeline must agree on
    supported filesystems (ADVICE r2)."""
    return {int(m.group(1)) for f in fsutil.listdir(_manifest_dir(out_dir))
            if (m := _WAVE_RE.match(f))}


def committed_input_files(out_dir: str) -> set[str]:
    """Union of every committed wave's input-file lineage — the set an
    incremental (``append``) encode subtracts so already-encoded source
    files are never re-encoded. One checkpoint read plus the
    post-checkpoint tail (see :func:`wave_records`); without a
    checkpoint, O(waves) driver-side JSON reads — at 100 TB in one
    encode (~64 waves) a few MB of strings, and a long-lived
    append-every-day tree keeps it O(1) via :func:`compact_manifest`."""
    out: set[str] = set()
    for r in wave_records(out_dir):
        out.update(r["input_files"])
    return out


def _chunk_stats(chunks: DataFrame) -> DataFrame:
    return (chunks
            .select("chunk_id", "part_id", "n_rows", "n_tokens", "wall_ms",
                    F.explode("cols").alias("c"))
            .select("chunk_id", "part_id", "n_rows", "n_tokens", "wall_ms",
                    F.col("c.name").alias("column"),
                    F.col("c.kind").alias("kind"),
                    F.col("c.n_values").alias("n_values"),
                    F.col("c.raw_bytes").alias("raw_bytes"),
                    F.col("c.enc_bytes").alias("enc_bytes")))


def all_chunk_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(chunk, column) metrics across all committed waves (manifest-
    gated: an aborted wave's chunk parts are invisible here too)."""
    from .pipeline import _committed_wave_paths
    paths = _committed_wave_paths(spark, out_dir)
    if not paths:
        raise FileNotFoundError(f"no committed waves under {out_dir}")
    return _chunk_stats(spark.read.parquet(*paths))


def commit_wave(spark: SparkSession, out_dir: str, wave_id: int,
                files: list[str], wall_s: float,
                meta_table=None, plan: dict | None = None,
                schemas: list[str] | None = None) -> dict:
    """Aggregate the wave's chunk metrics and commit its manifest record.

    ``meta_table``: the wave's chunk stat rows
    (``pipeline.CHUNK_META_ARROW_SCHEMA``) from a file-source wave,
    aggregated driver-side with no Spark job; rows with ``batch_idx ==
    -1`` (a failed file, or a file's skipped corrupt rows) are not
    chunks. Without it (the ``encode_df`` path) the stats are aggregated
    from the wave's chunk files with the payload column pruned.

    ``plan``: the wave's scan plan from ``pipeline.encode_path`` (the
    files' side inputs, ``const_schema``, ``column_renames``), recorded
    under ``"plan"`` so ``verify.verify_files`` replays exactly what the
    wave was encoded with; a wave without one keeps the plain record.

    ``schemas``: the wave's files' distinct ``pipeline._schema_key``s,
    recorded under ``"schemas"``.
    """
    if meta_table is not None:
        import pyarrow.compute as pc
        agg = {c: int(pc.sum(meta_table.column(c)).as_py() or 0)
               for c in ("n_rows", "n_tokens", "raw_bytes", "enc_bytes",
                         "n_bad_rows")}
        # error rows and per-file skipped-row summaries
        # (batch_idx == -1) are bookkeeping, not chunks
        agg["n_chunks"] = int(pc.sum(pc.not_equal(
            meta_table.column("batch_idx"), -1)).as_py() or 0)
        agg["n_bad_files"] = (meta_table.num_rows
                              - meta_table.column("error").null_count)
    else:
        chunks = spark.read.parquet(
            fsutil.spark_path(f"{out_dir}/chunks/wave={wave_id}"))
        row = (chunks.agg(F.count(F.lit(1)).alias("n_chunks"),
                          F.sum("n_rows").alias("n_rows"),
                          F.sum("n_tokens").alias("n_tokens"),
                          F.sum("raw_bytes").alias("raw_bytes"),
                          F.sum("enc_bytes").alias("enc_bytes"))
               .collect()[0])
        agg = {"n_chunks": int(row.n_chunks or 0),
               "n_rows": int(row.n_rows or 0),
               "n_tokens": int(row.n_tokens or 0),
               "raw_bytes": int(row.raw_bytes or 0),
               "enc_bytes": int(row.enc_bytes or 0),
               "n_bad_files": 0, "n_bad_rows": 0}
    out = {
        "wave_id": wave_id,
        "input_files": list(files),
        "n_chunks": agg["n_chunks"],
        "n_rows": agg["n_rows"],
        "n_tokens": agg["n_tokens"],
        "raw_bytes": agg["raw_bytes"],
        "enc_bytes": agg["enc_bytes"],
        "n_bad_files": agg["n_bad_files"],
        "n_bad_rows": agg["n_bad_rows"],
        "wall_s": float(wall_s),
    }
    if plan:
        out["plan"] = plan
    if schemas is not None:
        out["schemas"] = schemas
    mdir = _manifest_dir(out_dir)
    # a checkpoint covering this id may hold the entry of a rolled-back
    # earlier commit of the same wave, which readers would serve in place
    # of this record: drop it BEFORE the commit point, so no listing ever
    # shows both (a crash in between only costs readers extra reads)
    for f in fsutil.listdir(mdir):
        if (m := _CKPT_RE.match(f)) and int(m.group(1)) >= wave_id:
            fsutil.delete_quiet(f"{mdir}/{f}")
    # atomic commit point (temp file + rename)
    fsutil.write_json_atomic(mdir, f"wave-{wave_id}.json", out)
    return out


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Wave commit records as a DataFrame (lineage + metrics).

    A missing ``out_dir`` raises (a mistyped path must not read as "zero
    waves"); an existing out_dir with no committed waves yet is a
    legitimate empty manifest.
    """
    if not fsutil.isdir(out_dir):
        raise FileNotFoundError(
            f"encode output dir does not exist: {out_dir}")
    recs = wave_records(out_dir)
    schema = ("wave_id int, input_files array<string>, n_chunks long, "
              "n_rows long, n_tokens long, raw_bytes long, enc_bytes long, "
              "n_bad_files long, n_bad_rows long, wall_s double")
    return spark.createDataFrame(
        [(r["wave_id"], r["input_files"], r["n_chunks"], r["n_rows"],
          r["n_tokens"], r["raw_bytes"], r["enc_bytes"],
          r.get("n_bad_files", 0), r.get("n_bad_rows", 0), r["wall_s"])
         for r in recs], schema)


def vacuum(out_dir: str) -> dict:
    """Remove crashed-job debris the manifest does not reference: chunk
    directories and chunks_meta of UNCOMMITTED waves (either chunks_meta
    layout), plus stray ``.tmp`` files anywhere under ``chunks/``,
    ``chunks_meta/`` and ``manifest/`` (a writer killed mid-rename).

    The manifest is the single visibility point, so nothing removed here
    was ever readable (`read_chunks`/`decode_chunks` are manifest-gated);
    a resume re-encodes the removed waves from their source files. Like
    Iceberg's remove-orphan-files, this must NOT run concurrently with an
    encode on the same tree — an in-flight wave is indistinguishable
    from a crashed one until its commit record lands.

    Works on any supported filesystem through the ``fsutil`` layer
    (os.walk locally, pyarrow recursive listing + prefix delete on
    remote/object-store trees). Returns
    {"waves_removed", "tmp_removed", "bytes_reclaimed"}.
    """
    from pyarrow import fs as pafs

    filesystem, root = fsutil.get_fs(out_dir)
    committed = {int(m.group(1))
                 for f in fsutil.listdir(f"{out_dir}/manifest")
                 if (m := re.match(r"wave-(\d+)\.json$", f))}

    def _tree_size(p):
        info = filesystem.get_file_info(p)
        if info.type == pafs.FileType.File:
            return info.size or 0
        return sum(f.size or 0 for f in filesystem.get_file_info(
            pafs.FileSelector(p, recursive=True))
            if f.type == pafs.FileType.File)

    def _rm(p):
        info = filesystem.get_file_info(p)
        if info.type == pafs.FileType.Directory:
            filesystem.delete_dir(p)
        elif info.type == pafs.FileType.File:
            filesystem.delete_file(p)

    waves_removed = tmp_removed = reclaimed = 0
    if fsutil.isdir(f"{out_dir}/chunks"):
        for d in fsutil.listdir(f"{out_dir}/chunks"):
            m = re.match(r"wave=(\d+)$", d)
            if m and int(m.group(1)) not in committed:
                p = f"{root}/chunks/{d}"
                reclaimed += _tree_size(p)
                _rm(p)
                waves_removed += 1
    if fsutil.isdir(f"{out_dir}/chunks_meta"):
        for d in fsutil.listdir(f"{out_dir}/chunks_meta"):
            m = re.match(r"wave-(\d+)(\.parquet)?$", d)
            if m and int(m.group(1)) not in committed:
                p = f"{root}/chunks_meta/{d}"
                reclaimed += _tree_size(p)
                _rm(p)
    # a writer killed between its temp write and the rename leaves a
    # ``.tmp`` (a chunk task, ``fsutil.put_bytes``/``write_json_atomic``),
    # in committed waves too when a retry then committed the wave
    for sub in ("chunks", "chunks_meta", "manifest"):
        if not fsutil.isdir(f"{out_dir}/{sub}"):
            continue
        for f in filesystem.get_file_info(
                pafs.FileSelector(f"{root}/{sub}", recursive=True)):
            if f.type == pafs.FileType.File and f.path.endswith(".tmp"):
                reclaimed += f.size or 0
                filesystem.delete_file(f.path)
                tmp_removed += 1
    return {"waves_removed": waves_removed, "tmp_removed": tmp_removed,
            "bytes_reclaimed": reclaimed}
