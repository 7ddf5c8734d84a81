"""The encode pipeline: plan files -> fan out -> encode chunks -> commit.

Lifecycle mirrors the reference's transaction/run split
(``ParquetHadoopInputPlugin.java:78-128``: driver plans the file list, the
host executor fans out one task per file) re-expressed Spark-first, with
files LPT-packed into at most one Spark task per core:

- the driver lists input files and groups them into *waves* (the resumable
  checkpoint unit; the reference has no resume — ``README.md:9`` — ours adds
  it per the north rule);
- within a wave, **file paths** (not rows) are distributed to tasks; each
  task opens its Parquet files one after another with pyarrow and
  iterates record batches — the direct analogue of the reference's
  per-file ``ParquetRowReader`` with its one-row-group-at-a-time loop
  (``ParquetRowReader.java:105-118``), except each batch is decoded and
  encoded as whole Arrow columns, never per value. Shipping paths instead
  of rows keeps the bulk data out of the JVM->Python serialization
  channel entirely: measured on the 180M-token bench table this is ~9x
  faster than funnelling rows through ``mapInArrow`` on a Spark scan.
  The reference runs one task per file
  (``ParquetHadoopInputPlugin.java:116``); here a wave is ONE Python stage
  of ``min(files, cores)`` tasks, files packed by greedy LPT on their
  source bytes (``filetasks.run_file_tasks``), because every extra task
  round costs about 0.05 s (4-core host: a no-op Python job takes
  0.06–0.09 s as 4 tasks and 0.12–0.13 s as 8, with the daemon's zip
  re-read guard and the Unix domain socket worker channel; see
  ``daemon.py`` and ``session.py``), which a task per file would pay
  once per round. A wave of at most ``filetasks.DRIVER_WAVE_BYTES``
  (192 KiB) of source bytes, such as an append of two lineitem- or
  events-sized slices, runs the same tasks in the driver, without a
  job. The commit and error unit is still the file: each file's chunks
  commit, or fail, on their own;
- each chunk (one Arrow batch, the row-group analogue) is encoded per
  column with the codec cascade and appended to an uncompressed Parquet
  chunk file per source file, written with pyarrow (uncompressed: the
  container must not distort the codec's measured size). The file lands
  under a temp name and is atomically renamed when its source file
  finishes — task retries overwrite deterministically, and a wave is only
  *visible* once its manifest record commits (see ``manifest.py``), which
  is our output-commit protocol;
- tasks return lightweight per-chunk stat rows (no payloads) to the driver;
  the driver aggregates them for the wave's manifest record and writes
  them as the wave's ``chunks_meta/wave-K.parquet``. What the driver holds
  is one wave's rows, so ``waves`` bounds it at any tree size.

Table sources with row-level deletes take the file path too: each task
masks its own file's position and equality deletes (``encode_path``'s
``row_deletes`` / ``eq_deletes``). An alternative DataFrame-source path
(``encode_df``) keeps the ``mapInArrow``-on-a-scan route for inputs that
are DataFrames rather than files (pre-filtered DataFrames, and the
``cluster_partitions`` clustering): there Catalyst pushdown and the salted
clustering repartition apply first.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.encode import decode_column, encode_column, temporal_int_view
from . import manifest as mf
from .filetasks import run_file_tasks

# Chunk rows: stats in top-level columns and a blob-free `cols` struct
# array; payloads in the parallel `blobs` array (cols[i] describes
# blobs[i]). Metadata readers prune the payload column at the Parquet scan.
CHUNK_SPARK_SCHEMA = (
    "chunk_id string, wave_id int, part_id int, batch_idx int, "
    "n_rows bigint, n_tokens bigint, raw_bytes bigint, enc_bytes bigint, "
    "wall_ms double, "
    "cols array<struct<name:string, kind:string, n_values:bigint, "
    "raw_bytes:bigint, enc_bytes:bigint, vmin:bigint, vmax:bigint>>, "
    "blobs array<binary>"
)

# vmin/vmax: zone-map stats (int columns and list<int32> values; null for
# strings) enabling chunk-level pruning without touching payloads
_COL_STRUCT = pa.struct([
    pa.field("name", pa.string()),
    pa.field("kind", pa.string()),
    pa.field("n_values", pa.int64()),
    pa.field("raw_bytes", pa.int64()),
    pa.field("enc_bytes", pa.int64()),
    pa.field("vmin", pa.int64()),
    pa.field("vmax", pa.int64()),
])

CHUNK_ARROW_SCHEMA = pa.schema([
    pa.field("chunk_id", pa.string()),
    pa.field("wave_id", pa.int32()),
    pa.field("part_id", pa.int32()),
    pa.field("batch_idx", pa.int32()),
    pa.field("n_rows", pa.int64()),
    pa.field("n_tokens", pa.int64()),
    pa.field("raw_bytes", pa.int64()),
    pa.field("enc_bytes", pa.int64()),
    pa.field("wall_ms", pa.float64()),
    pa.field("cols", pa.list_(_COL_STRUCT)),
    pa.field("blobs", pa.list_(pa.binary())),
])

# what the encode tasks yield back to the driver: chunk stats, no payloads.
# n_bad_rows: rows lost to corrupt row groups of an otherwise-kept file
# (error stays NULL — the file succeeded within bad_record_threshold);
# error non-NULL marks a *failed* file, none of whose chunks committed;
# schema: the source file's ``_schema_key``, NULL on rows that describe
# no chunk.
CHUNK_META_ARROW_SCHEMA = pa.schema([
    pa.field("chunk_id", pa.string()),
    pa.field("wave_id", pa.int32()),
    pa.field("part_id", pa.int32()),
    pa.field("batch_idx", pa.int32()),
    pa.field("n_rows", pa.int64()),
    pa.field("n_tokens", pa.int64()),
    pa.field("raw_bytes", pa.int64()),
    pa.field("enc_bytes", pa.int64()),
    pa.field("wall_ms", pa.float64()),
    pa.field("source_file", pa.string()),
    pa.field("chunk_file", pa.string()),
    pa.field("cols", pa.list_(_COL_STRUCT)),
    pa.field("n_bad_rows", pa.int64()),
    pa.field("error", pa.string()),
    pa.field("schema", pa.string()),
])

DEFAULT_BATCH_ROWS = 16384

# one encode task input row per source file: the path, its Iceberg
# position-delete files, its equality-delete descriptors (JSON) and its
# constant columns (JSON); the side inputs are null when absent
FILE_ROWS_ARROW_SCHEMA = pa.schema([
    pa.field("path", pa.string()),
    pa.field("deletes", pa.list_(pa.string())),
    pa.field("eq", pa.string()),
    pa.field("consts", pa.string()),
])


def meta_files(out_dir: str, wave_id: int) -> list[str]:
    """chunks_meta parquet paths for a wave, either layout: the single
    driver-written file (``wave-K.parquet``) or the per-file sidecar dir
    (``wave-K/part-*.parquet``) that earlier builds could write, so their
    trees still verify. URI-aware via ``fsutil`` like the
    manifest reads — a tree encoded locally then served from hdfs:/file:
    must list lineage the same way it lists waves."""
    from . import fsutil
    single = f"{out_dir}/chunks_meta/wave-{wave_id}.parquet"
    if fsutil.is_local(out_dir):
        import glob as _glob
        single = fsutil.strip_file_scheme(single)
        if os.path.exists(single):
            return [single]
        return sorted(_glob.glob(
            f"{fsutil.strip_file_scheme(out_dir)}/chunks_meta/"
            f"wave-{wave_id}/*.parquet"))
    if any(n == f"wave-{wave_id}.parquet"
           for n in fsutil.listdir(f"{out_dir}/chunks_meta")):
        return [single]
    sidecar_dir = f"{out_dir}/chunks_meta/wave-{wave_id}"
    return [f"{sidecar_dir}/{n}"
            for n in sorted(fsutil.listdir(sidecar_dir))
            if n.endswith(".parquet")]


def _encode_one_batch(batch: pa.RecordBatch, wave_id: int, pid: int,
                      bidx: int) -> tuple[pa.RecordBatch, dict]:
    """Encode every column of one Arrow batch -> (chunk row, stats dict)."""
    t0 = time.perf_counter()
    col_rows = []
    blobs = []
    n_tokens = 0
    for name in batch.schema.names:
        col = batch.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        kind, blob = encode_column(col)
        vmin = vmax = None
        if kind == "list_i32":
            # flatten() honors the array's logical window (a raw .values
            # would span the whole child buffer for sliced arrays,
            # overcounting tokens and widening the zone map)
            flat = col.flatten()
            n_tokens += len(flat)
            mm = pa.compute.min_max(flat)
        elif kind == "int":
            mm = pa.compute.min_max(col)
        elif kind == "temporal":
            # zone maps on the storage ints, NORMALIZED to a fixed unit
            # (µs for clock types, days for dates) so prune bounds and
            # read_decoded's residual filter agree whatever unit the
            # source file stored — a ns source with µs-assumed bounds
            # would otherwise silently prune wrong chunks
            mm = pa.compute.min_max(
                temporal_int_view(col).cast(pa.int64()))
        else:
            mm = None
        if mm is not None and mm["min"].is_valid:
            vmin, vmax = mm["min"].as_py(), mm["max"].as_py()
            if kind == "temporal":
                num, den = _temporal_zone_scale(col.type)
                # floor the min, ceil the max: scaled zone maps may only
                # widen, never exclude a row the chunk actually holds
                lo64, hi64 = -(1 << 63), (1 << 63) - 1
                vmin = max(lo64, min(hi64, (vmin * num) // den))
                vmax = max(lo64, min(hi64, -((-vmax * num) // den)))
        col_rows.append({
            "name": name,
            "kind": kind,
            "n_values": len(col),
            "raw_bytes": col.nbytes,
            "enc_bytes": len(blob),
            "vmin": vmin,
            "vmax": vmax,
        })
        blobs.append(blob)
    wall_ms = (time.perf_counter() - t0) * 1000.0
    stats = {
        "chunk_id": f"w{wave_id}-p{pid}-b{bidx}",
        "wave_id": wave_id,
        "part_id": pid,
        "batch_idx": bidx,
        "n_rows": batch.num_rows,
        "n_tokens": n_tokens,
        "raw_bytes": sum(c["raw_bytes"] for c in col_rows),
        "enc_bytes": sum(c["enc_bytes"] for c in col_rows),
        "wall_ms": wall_ms,
    }
    chunk_row = pa.RecordBatch.from_arrays(
        [
            pa.array([stats["chunk_id"]]),
            pa.array([wave_id], type=pa.int32()),
            pa.array([pid], type=pa.int32()),
            pa.array([bidx], type=pa.int32()),
            pa.array([stats["n_rows"]], type=pa.int64()),
            pa.array([n_tokens], type=pa.int64()),
            pa.array([stats["raw_bytes"]], type=pa.int64()),
            pa.array([stats["enc_bytes"]], type=pa.int64()),
            pa.array([wall_ms], type=pa.float64()),
            pa.array([col_rows], type=pa.list_(_COL_STRUCT)),
            pa.array([blobs], type=pa.list_(pa.binary())),
        ],
        schema=CHUNK_ARROW_SCHEMA)
    return chunk_row, stats


def make_encode_fn(wave_id: int):
    """mapInArrow fn for the DataFrame-source path: rows in, chunk rows
    (with payloads) out."""

    def encode_batches(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for bidx, batch in enumerate(batches):
            chunk_row, _ = _encode_one_batch(batch, wave_id, pid, bidx)
            yield chunk_row

    return encode_batches


# Constant-column injection: types a per-file constant may carry.
# Partition values in Delta live only in the commit log and in Hive
# trees only in the directory names — injecting them as constant
# columns is the only way the encoded output can serve them. A constant
# chunk costs a frame header or two: its ints take FOR at width 0 with an
# empty payload, its strings a one-entry dictionary.
_CONST_TYPES = {
    "string": pa.string(), "bool": pa.bool_(),
    "int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
    "int64": pa.int64(), "float32": pa.float32(),
    "float64": pa.float64(), "date32": pa.date32(),
    "timestamp_us": pa.timestamp("us"),
}


def _const_arrays(consts: dict, n: int,
                  types: dict[str, str]) -> list[tuple[str, "pa.Array"]]:
    """[(name, n-long constant Arrow array)] in sorted-name order.
    Values ride JSON (so dates arrive as ISO strings) and cast to the
    declared type; None becomes a typed null column."""
    out = []
    for name in sorted(consts):
        t = _CONST_TYPES[types[name]]
        v = consts[name]
        if v is None:
            arr = pa.nulls(n, t)
        else:
            arr = pa.array([v] * n)
            if arr.type != t:
                arr = arr.cast(t)
        out.append((name, arr))
    return out


def _read_delete_positions(data_path: str, delete_files: list[str]):
    """Sorted unique row positions deleted from ``data_path``, gathered
    from Iceberg position-delete Parquet files (spec columns
    ``file_path``/``pos``).

    Runs INSIDE the encode task that owns ``data_path``: the
    ``file_path ==`` filter pushes down to the delete file's row groups
    (the spec orders delete rows by (file_path, pos)), so each task reads
    only its own file's delete rows — per-task cost is O(own deletes),
    never O(table deletes). The filter matches every common spelling of
    the path (plain, ``file:`` single- and double-slash URIs) — writers
    record absolute URIs while scan plans carry plain paths.

    A delete file reaches this function only because the scan saw it
    REFERENCE ``data_path`` — if the pushdown filter then matches zero
    rows, the references use a path spelling we cannot equate (a table
    tree copied to a new location without manifest/delete rewriting:
    the scan's prefix remap resolves the mapping, but the raw strings
    inside the delete parquet still carry the old location). Refuse
    loudly rather than silently resurrecting the deleted rows.
    """
    from . import fsutil
    from ..sources import puffin
    plain = _lineage_key(data_path)
    keys = sorted({data_path, plain, f"file:{plain}", f"file://{plain}"})
    parts = []
    for dp in delete_files:
        if dp.startswith(puffin.DV_DESC_PREFIX):
            # Iceberg v3 deletion vector: one ranged read of this data
            # file's own blob (offset/length came from the manifest or
            # puffin footer at planning), CRC-checked roaring decode.
            # Positions are path-free, so the zero-match relocation
            # refusal below does not apply — the planning-side resolve
            # already equated the spellings.
            d = puffin.parse_dv_desc(dp)
            parts.append(puffin.read_dv(d["path"], d["offset"],
                                        d["length"]))
            continue
        if dp.startswith("deltadv:"):
            # Delta Lake deletion vector (file-stored: one ranged read
            # of this data file's own frame; inline: decoded straight
            # from the descriptor). Positions are path-free, like the
            # puffin branch above.
            from ..sources import delta_meta
            parts.append(delta_meta.read_dv_positions(dp))
            continue
        t = fsutil.read_parquet(dp, columns=["pos"],
                                filters=[("file_path", "in", keys)])
        if not t.num_rows:
            raise ValueError(
                f"position-delete file {dp} was mapped to {data_path} "
                "but none of its file_path values match any spelling of "
                "that path — a relocated/copied table whose delete files "
                "still reference the original location? Rewrite the "
                "table's paths (or encode from the original location); "
                "skipping would silently serve the deleted rows")
        parts.append(t.column("pos").to_numpy(zero_copy_only=False))
    if not parts:
        return None
    return np.unique(np.concatenate(parts))


# Per-task ceiling on materialized equality-delete keys. Equality deletes
# are CDC upserts — spec guidance is to compact them promptly, and every
# encode task re-reads the full key set (they are not keyed by file_path
# like position deletes, so nothing prunes). Past this bound the job
# should compact deletes (rewrite_position_delete_files / major
# compaction) rather than drag 100M keys through every task.
_EQ_MAX_KEYS = 20_000_000


def _norm_eq_tuple(vals) -> tuple:
    """Key tuple with spec null semantics: null matches null (to_pylist
    gives None == None), and float NaN — which Python's ``!=`` itself —
    is folded to a marker so NaN keys still match exactly."""
    return tuple("__nan__" if isinstance(v, float) and v != v else v
                 for v in vals)


def _eq_hashes(tab: "pa.Table", cols: list[str]) -> np.ndarray:
    """Deterministic per-row uint64 hash of the key columns, identical
    for the same logical values whether they came from a delete file or
    a data batch: every column casts to string (so int32 5 and int64 5
    collide as they must), nulls fill with "" plus an explicit null-mask
    column (pyarrow nulls become NaN/objects in pandas and would hash
    type-dependently). Floating columns widen to float64 FIRST —
    Iceberg's float→double type promotion means the delete file can
    hold float32 while the data file holds the widened double, and
    their direct string forms differ ("1.1" vs "1.100000023841858");
    hashing both at double width keeps the prefilter sound (ints are
    already width-stable through the string cast, and the spec has no
    width promotion for temporal or decimal-scale types). Hash hits are
    CANDIDATES only — exact tuple confirmation follows — so a collision
    can never delete a wrong row. The hash ignores column NAMES
    (pandas hashes values), so a data batch whose physical column names
    differ (column renames, field-id resolved) hashes identically.
    Raises ArrowInvalid/ArrowNotImplementedError for uncastable types
    (binary); the caller falls back to exact-only matching."""
    import pandas as pd
    import pyarrow.compute as pc
    frame = {}
    for j, c in enumerate(cols):
        col = tab[c]
        if pa.types.is_floating(col.type):
            # widen, then fold -0.0 into 0.0 (x + 0.0 is exact for every
            # other float incl. NaN/inf): the exact-tuple confirmation
            # uses Python ==, which equates signed zeros — the prefilter
            # must be a SUPERSET of it, and "-0" vs "0" string forms
            # would silently diverge between the hash path and the
            # exact-only fallback
            col = pc.add(pc.cast(col, pa.float64()), 0.0)
        s = pc.cast(col, pa.large_string())
        # positional frame keys: both sides must build the same-shaped
        # frame even when their physical column names differ
        frame[f"k{j}"] = pc.fill_null(s, "").to_pandas()
        frame[f"k{j}\x00null"] = pc.is_null(col).to_pandas()
    return pd.util.hash_pandas_object(
        pd.DataFrame(frame), index=False).to_numpy()


def _fieldid_map(schema: "pa.Schema") -> dict[int, str]:
    """{Iceberg field id: physical column name} from a Parquet file's
    Arrow schema (pyarrow surfaces the Parquet field ids as
    ``PARQUET:field_id`` field metadata). Empty when the writer stamped
    no ids (plain pyarrow output) — callers fall back to name matching,
    which is exact for tables that never renamed a column."""
    out: dict[int, str] = {}
    for f in schema:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            try:
                out[int(fid)] = f.name
            except ValueError:
                pass
    return out


class _EqualityDeleteFilter:
    """Applies Iceberg EQUALITY deletes to Arrow batches inside the
    encode/verify task that owns one data file.

    Built once per data file from its applicable delete descriptors
    ([{"path", "columns", "ids"}], from ``iceberg_meta.snapshot_scan``):
    descriptors sharing a key-column tuple union their key sets. Key
    columns resolve BY FIELD ID wherever Parquet field ids are present
    (the spec's rule — it is what survives column renames), both in the
    delete files and, via ``data_schema``, in the data file this filter
    is built for; files without field ids fall back to the current
    schema's names. Per batch, a vectorized uint64 hash prefilter
    (``_eq_hashes``) narrows to candidate rows, which are then
    confirmed by EXACT tuple equality (null==null, NaN folded) — hash
    collisions cannot delete a wrong row, and typical batches with no
    hits cost 3-4 vector ops. Key widths may differ per Iceberg's
    int→long / float→double promotions (the hash width-normalizes;
    exact confirmation compares at the promoted width, matching engine
    semantics)."""

    def __init__(self, groups):
        self.groups = groups
        self.columns_needed = sorted(
            {c for cols, _h, _t in groups for c in cols})

    @classmethod
    def build(cls, descs: list[dict],
              data_schema: "pa.Schema | None" = None
              ) -> "_EqualityDeleteFilter":
        from . import fsutil
        by_cols: dict[tuple, list[str]] = {}
        for d in descs:
            key = (tuple(d["columns"]), tuple(d.get("ids") or ()))
            by_cols.setdefault(key, []).append(d["path"])
        data_fmap = (_fieldid_map(data_schema)
                     if data_schema is not None else {})
        groups = []
        total = 0
        for (cols, ids), paths in sorted(by_cols.items()):
            tabs = []
            for p in sorted(set(paths)):
                pf = fsutil.parquet_file(p)
                total += pf.metadata.num_rows
                if total > _EQ_MAX_KEYS:
                    raise ValueError(
                        f"equality-delete key set exceeds {_EQ_MAX_KEYS:,}"
                        " rows per task — compact the table's delete "
                        "files before encoding")
                # resolve the delete file's physical columns by field id
                # when both sides carry ids; else by current-schema name
                fmap = _fieldid_map(pf.schema_arrow)
                if ids and all(i in fmap for i in ids):
                    phys = [fmap[i] for i in ids]
                else:
                    phys = list(cols)
                t = pf.read(columns=phys, use_threads=False)
                # unify to the current-schema names so delete files
                # written before/after a rename union into one key set
                tabs.append(t.select(phys).rename_columns(list(cols)))
            # "permissive": delete files for the same field written
            # before/after an int->long or float->double type promotion
            # carry different physical widths; widening is value-exact,
            # so the tuple set and hash planes are unchanged by it
            tab = pa.concat_tables(tabs, promote_options="permissive")
            tupleset = set(map(_norm_eq_tuple,
                               zip(*(tab[c].to_pylist() for c in cols))))
            try:
                hashes = np.unique(_eq_hashes(tab, list(cols)))
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                hashes = None  # uncastable key type: exact-only matching
            # the DATA side's physical names for these keys (renames)
            if ids and data_fmap and all(i in data_fmap for i in ids):
                dcols = [data_fmap[i] for i in ids]
            else:
                dcols = list(cols)
            groups.append((dcols, hashes, tupleset))
        return cls(groups)

    def apply(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        tab = pa.Table.from_batches([batch])
        drop = np.zeros(batch.num_rows, dtype=bool)
        for cols, hashes, tupleset in self.groups:
            missing = [c for c in cols if c not in tab.column_names]
            if missing:
                raise ValueError(
                    f"equality-delete key column(s) {missing} not in the "
                    f"data batch (have {tab.column_names}) — the data "
                    "file predates a column add/rename and carries no "
                    "Parquet field ids to resolve it")
            if hashes is not None:
                cand = np.nonzero(np.isin(_eq_hashes(tab, cols),
                                          hashes))[0]
                if not len(cand):
                    continue
                sub = tab.take(pa.array(cand))
                vals = zip(*(sub[c].to_pylist() for c in cols))
                hit = [int(i) for i, t in zip(cand, vals)
                       if _norm_eq_tuple(t) in tupleset]
            else:
                vals = zip(*(tab[c].to_pylist() for c in cols))
                hit = [i for i, t in enumerate(vals)
                       if _norm_eq_tuple(t) in tupleset]
            if hit:
                drop[hit] = True
        if drop.any():
            batch = batch.filter(pa.array(~drop))
        return batch


# uncompressed row-group bytes decoded per sub-batch (see _source_batches)
_SUB_BATCH_BYTES = 1 << 20


def _row_group_chunks(pf: "pq.ParquetFile", rg: int, batch_rows: int,
                      columns: list[str] | None):
    """Row group ``rg`` of ``pf`` as ``batch_rows``-row batches, the last
    one the remainder: the same boundaries as
    ``iter_batches(batch_size=batch_rows)``. Each is decoded in
    sub-batches of about ``_SUB_BATCH_BYTES`` uncompressed bytes (the row
    count comes from the group's footer, capped at ``batch_rows``) and
    assembled with one ``combine_chunks`` into the system pool; a batch
    made of one sub-batch passes through uncopied.

    A decode error propagates from the batch a chunk-size read fails at:
    the failing sub-batch may straddle into the next batch, so the group
    is re-read at ``batch_size=batch_rows`` from the first batch not yet
    yielded, which then yields or raises exactly as that read does."""
    md = pf.metadata.row_group(rg)
    sub_rows = max(1, min(batch_rows, md.num_rows * _SUB_BATCH_BYTES
                          // max(1, md.total_byte_size)))
    parts, have, done = [], 0, 0
    try:
        for sub in pf.iter_batches(batch_size=sub_rows, row_groups=[rg],
                                   columns=columns, use_threads=False):
            while sub.num_rows:
                take = min(batch_rows - have, sub.num_rows)
                parts.append(sub if take == sub.num_rows
                             else sub.slice(0, take))
                sub = sub.slice(take)
                have += take
                if have == batch_rows:
                    yield _join_parts(parts)
                    parts, have = [], 0
                    done += 1
        if parts:
            yield _join_parts(parts)
    except Exception:  # noqa: BLE001  (corrupt pages)
        it = pf.iter_batches(batch_size=batch_rows, row_groups=[rg],
                             columns=columns, use_threads=False)
        for _ in range(done):
            next(it)
        yield from it


def _join_parts(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(parts) == 1:
        return parts[0]
    return (pa.Table.from_batches(parts)
            .combine_chunks(memory_pool=pa.system_memory_pool())
            .to_batches()[0])


def _source_batches(path: str, batch_rows: int, columns: list[str] | None,
                    dfiles: list[str] | None, eqjson: str | None,
                    cjson: str | None, const_schema: dict[str, str] | None,
                    column_renames: list[dict] | None,
                    bad_record_threshold: float, skipped: list[int]):
    """One source file's batches, exactly as encoded: the single read
    that the encode task encodes and ``verify_files`` compares against,
    so both see the same rows at the same batch boundaries.

    ``dfiles``/``eqjson``/``cjson`` are the file's RAW side inputs from
    its task input row (position-delete files, equality-delete
    descriptors JSON, constant columns JSON). They are resolved at the
    first ``next()``, inside the caller's per-file error capture, so a
    missing or corrupt source, delete file or descriptor fails that file
    alone.

    Row groups are read one at a time (``ParquetRowReader.java:105-118``),
    single-threaded: one task <-> one executor core; pyarrow would
    otherwise fan out to every machine core behind Spark's back,
    oversubscribing real executors and falsifying per-core accounting.
    Each group is decoded in sub-batches of about 1 MiB uncompressed and
    each ``batch_rows`` batch assembled once (``_row_group_chunks``), at
    the boundaries a ``batch_size=batch_rows`` read gives. Decoding whole
    batches grows each list column's buffers by doubling past 8 MiB (up
    to 16 MiB on a 3M-token file), and Arrow's default jemalloc pool
    gives every block of 8 MiB or more back to the kernel when it is
    freed, so each 3M-token file paid about 9,800 fresh page faults: on
    a 4-core VM about 26 ms of system time in a 61 ms read (38 ms, with
    next to no faults, sub-batched). Sub-batch buffers stay near 2 MiB,
    which the pool keeps; the assembled batch lives in the system
    (glibc) pool, which reuses freed blocks.

    A corrupt row group is skipped from its first undecodable batch on
    (its already-decoded batches are kept) and the rows lost are appended
    to ``skipped``; past ``bad_record_threshold`` of the file's rows the
    read raises (``ParquetRowReader.java:101,142-147``). Per batch, in
    this order: position deletes (file-absolute row positions), equality
    deletes (on physical names, so the key columns are read even when
    ``columns=`` projects them out, then dropped), the column-mapping
    rename to logical names, then constant-column injection. A batch
    left empty by the deletes is not yielded.

    ``columns`` is the LOGICAL projection (None: every column); names of
    injected constants in it are not read from the file. A constant
    whose name is also a column of the file fails the file."""
    from . import fsutil
    pf = fsutil.parquet_file(path)
    schema = pf.schema_arrow
    del_pos = _read_delete_positions(path, dfiles) if dfiles else None
    eqf = (_EqualityDeleteFilter.build(json.loads(eqjson),
                                       data_schema=schema)
           if eqjson else None)
    consts = json.loads(cjson) if cjson else None
    if consts:
        names = (_logical_names(schema, column_renames) if column_renames
                 else schema.names)
        clash = [c for c in consts if c in names]
        if clash:
            raise ValueError(
                f"constant column(s) {clash} already exist physically in "
                f"{path} — injecting would shadow real data")
        if columns is not None:
            columns = [c for c in columns if c not in consts]
    if columns is not None and not column_renames:
        # iter_batches(columns=) ignores unknown names; the column-mapped
        # path refuses them in _physical_columns
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise ValueError(
                f"projected column(s) {missing} not in {path} "
                f"(columns: {schema.names})")
    read_cols = (_physical_columns(schema, column_renames, columns)
                 if column_renames and columns is not None else columns)
    extra = ([c for c in eqf.columns_needed if c not in read_cols]
             if eqf is not None and read_cols is not None else [])
    if extra:
        read_cols = read_cols + extra
    rg_start = 0  # file-absolute row offset of this group
    for rg in range(pf.metadata.num_row_groups):
        rg_rows = pf.metadata.row_group(rg).num_rows
        rows_read = 0
        it = _row_group_chunks(pf, rg, batch_rows, read_cols)
        while True:
            try:
                batch = next(it)
            except StopIteration:
                break
            except Exception:  # noqa: BLE001  (corrupt pages)
                skipped.append(rg_rows - rows_read)
                break
            off = rg_start + rows_read
            n_read = batch.num_rows
            rows_read += n_read
            if del_pos is not None:
                lo = int(np.searchsorted(del_pos, off))
                hi = int(np.searchsorted(del_pos, off + n_read))
                if hi > lo:
                    keep = np.ones(n_read, dtype=bool)
                    keep[del_pos[lo:hi] - off] = False
                    batch = batch.filter(pa.array(keep))
            if eqf is not None and batch.num_rows:
                batch = eqf.apply(batch)
            if batch.num_rows == 0:
                continue
            if extra:
                batch = batch.drop_columns(extra)
            if column_renames:
                batch = rename_batch(batch, column_renames)
            if consts:
                for nm, arr in _const_arrays(consts, batch.num_rows,
                                             const_schema or {}):
                    batch = batch.append_column(nm, arr)
            yield batch
        rg_start += rg_rows
    total_rows = pf.metadata.num_rows
    if total_rows and sum(skipped) > bad_record_threshold * total_rows:
        raise RuntimeError(
            f"{sum(skipped)}/{total_rows} rows in {len(skipped)} corrupt "
            f"row groups exceeds "
            f"bad_record_threshold={bad_record_threshold}")


def _plain_type(t: pa.DataType, leaf=None) -> pa.DataType:
    """``t`` with nested fields nullable, metadata-free and list items
    named ``item``, each leaf type mapped through ``leaf`` if given."""
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _plain_type(f.type, leaf))
                          for f in t])
    if pa.types.is_map(t):
        return pa.map_(_plain_type(t.key_type, leaf),
                       _plain_type(t.item_type, leaf))
    if pa.types.is_list(t):
        return pa.list_(_plain_type(t.value_type, leaf))
    if pa.types.is_large_list(t):
        return pa.large_list(_plain_type(t.value_type, leaf))
    if pa.types.is_fixed_size_list(t):
        return pa.list_(_plain_type(t.value_type, leaf), t.list_size)
    return leaf(t) if leaf else t


def _schema_key(schema: pa.Schema) -> str:
    """A file's schema as ``schema_mode`` compares it: column names in
    order and their types, without metadata (Spark's row metadata,
    ``PARQUET:field_id``), nullability or list item names."""
    return ", ".join(f"{f.name}: {_plain_type(f.type)}" for f in schema)


def make_encode_files_fn(wave_id: int, wave_dir: str,
                         batch_rows: int = DEFAULT_BATCH_ROWS,
                         columns: list[str] | None = None,
                         bad_record_threshold: float = 0.0,
                         const_schema: dict[str, str] | None = None,
                         column_renames: list[dict] | None = None):
    """Task fn for the file-source path (run by
    ``filetasks.run_file_tasks``): paths in, chunk *stats* out. ``pid``,
    the index of the task's bin, names its chunk ids and chunk files.

    Each input row is one source file in ``FILE_ROWS_ARROW_SCHEMA``:
    its path and its raw per-file side inputs (position deletes,
    equality-delete descriptors, constant columns). The task reads each
    file through ``_source_batches`` — the same read ``verify_files``
    replays — encodes each batch, and streams chunk rows into one
    uncompressed Parquet chunk file *per source file*, atomically renamed
    only when that source file finishes cleanly. A mid-file failure
    discards the partial chunk file (and its pending stat rows), so no
    partially-processed input is ever visible — reprocessing a failed
    file in a later wave cannot duplicate rows, and an aborted wave
    leaves nothing a manifest-gated reader can see.

    ``const_schema`` ({column: _CONST_TYPES key}) declares the types of
    the per-file CONSTANT columns (partition values for Delta / Hive
    sources — see ``encode_path(const_columns=)``).

    ``column_renames`` ([{"logical", "physical", "id"}], table-uniform)
    maps column-mapped physical parquet names to the table's logical
    schema (Delta columnMapping modes name/id,
    ``delta_meta.column_renames``); a ``columns=`` projection is
    LOGICAL.

    ``bad_record_threshold``: tolerated fraction of rows per file lost to
    corrupt row groups — the reference's per-record tolerance
    (``ParquetRowReader.java:101,142-147``, knob ``README.md:25-27``)
    at Arrow's row-group decode granularity. Above it the whole file
    fails (none of its chunks commit) and the driver's per-wave
    ``bad_file_threshold`` takes over.

    Each file's stat rows carry the ``_schema_key`` of its
    first batch (after projection, renames and constants).
    """

    def meta_row(stats, path, final, cols, error=None, n_bad_rows=0,
                 schema=None):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([stats["chunk_id"]]),
                pa.array([wave_id], type=pa.int32()),
                pa.array([stats["part_id"]], type=pa.int32()),
                pa.array([stats["batch_idx"]], type=pa.int32()),
                pa.array([stats["n_rows"]], type=pa.int64()),
                pa.array([stats["n_tokens"]], type=pa.int64()),
                pa.array([stats["raw_bytes"]], type=pa.int64()),
                pa.array([stats["enc_bytes"]], type=pa.int64()),
                pa.array([stats["wall_ms"]], type=pa.float64()),
                pa.array([path]),
                pa.array([final]),
                pa.array([cols], type=pa.list_(_COL_STRUCT)),
                pa.array([n_bad_rows], type=pa.int64()),
                pa.array([error], type=pa.string()),
                pa.array([schema], type=pa.string()),
            ],
            schema=CHUNK_META_ARROW_SCHEMA)

    def _zero_stats(chunk_id, pid):
        return {"chunk_id": chunk_id, "part_id": pid, "batch_idx": -1,
                "n_rows": 0, "n_tokens": 0, "raw_bytes": 0, "enc_bytes": 0,
                "wall_ms": 0.0}

    def encode_files(pid, files):
        from . import fsutil
        # local out_dirs commit with in-place tmp + os.replace; non-local
        # ones spool the chunk file on task-local disk and publish it via
        # fsutil.put_file (atomic-at-visibility: direct final-key PUT on
        # object stores, temp+move on rename-capable remote filesystems)
        local = fsutil.is_local(wave_dir)
        fsutil.makedirs_any(wave_dir)
        bidx = 0
        fseq = 0
        # the per-file side inputs ride the input rows themselves — no
        # closure state, the task gets them with the file
        for path, dfiles, eqjson, cjson in zip(
                *files.to_pydict().values()):
            if local:
                final = os.path.join(
                    wave_dir, f"part-{pid:05d}-f{fseq:04d}.parquet")
                tmp = os.path.join(
                    wave_dir,
                    f".part-{pid:05d}-f{fseq:04d}."
                    f"{uuid.uuid4().hex}.tmp")
            else:
                final = f"{wave_dir}/part-{pid:05d}-f{fseq:04d}.parquet"
                import tempfile as _tf
                # spool on Spark's executor-local dirs when set (sized
                # for shuffle spill; /tmp is often a small tmpfs on
                # real clusters), else the system tempdir. Unique name
                # per attempt; the except path removes it, and a
                # hard-killed worker's spool dies with the local dir's
                # normal app cleanup
                spool_base = (os.environ.get("SPARK_LOCAL_DIRS", "")
                              .split(",")[0].strip()
                              or _tf.gettempdir())
                tmp = os.path.join(
                    spool_base,
                    f".spool-{uuid.uuid4().hex}.parquet")
            fseq += 1
            writer = None
            pending = []  # stat rows held until the file commits
            skipped = []  # rows lost per skipped corrupt row group
            schema = None
            try:
                for batch in _source_batches(
                        path, batch_rows, columns, dfiles, eqjson,
                        cjson, const_schema, column_renames,
                        bad_record_threshold, skipped):
                    if schema is None:
                        schema = _schema_key(batch.schema)
                    chunk_row, stats = _encode_one_batch(
                        batch, wave_id, pid, bidx)
                    if writer is None:
                        # blobs are already coded: a dictionary
                        # attempt on them always falls back to
                        # plain, and their min/max statistics cost
                        # more footer than small chunks' blobs.
                        # Nothing reads chunk-file statistics
                        # (prune_chunks filters the cols zone maps)
                        writer = pq.ParquetWriter(
                            tmp, CHUNK_ARROW_SCHEMA,
                            compression="none", use_dictionary=False,
                            write_statistics=False)
                    writer.write_batch(chunk_row)
                    pending.append(meta_row(stats, path, final,
                                            _cols_of(chunk_row),
                                            schema=schema))
                    bidx += 1
                if writer is not None:
                    writer.close()
                    writer = None
                    if local:
                        os.replace(tmp, final)  # per-file commit point
                    else:
                        # publish the spooled chunk file at its final
                        # key (atomic at upload completion); the
                        # finally below drops the spool
                        fsutil.put_file(final, tmp)
                yield from pending
                bad_rows = sum(skipped)
                if bad_rows:
                    yield meta_row(
                        _zero_stats(f"w{wave_id}-p{pid}-skip{fseq - 1}",
                                    pid),
                        path, final, [], n_bad_rows=bad_rows)
            except Exception as exc:  # noqa: BLE001
                # file-level failure (unreadable footer, over-threshold
                # corruption, encode error): discard the partial chunk
                # file; record the failure and keep going — the driver
                # enforces bad_file_threshold per wave
                if writer is not None:
                    writer.close()
                    writer = None
                yield meta_row(
                    _zero_stats(f"w{wave_id}-p{pid}-err{fseq - 1}", pid),
                    path, "", [], error=f"{type(exc).__name__}: {exc}")
            finally:
                # a failed file's partial chunk file or a published
                # file's spool (nothing is left after os.replace)
                try:
                    os.remove(tmp)
                except OSError:
                    pass

    return encode_files


def _cols_of(chunk_row: pa.RecordBatch) -> list[dict]:
    return chunk_row.column("cols")[0].as_py()


def chunk_columns(batch: pa.RecordBatch):
    """Per chunk row of ``batch`` (chunk-file rows, ``CHUNK_ARROW_SCHEMA``
    columns ``cols`` and ``blobs``): its encoded columns as
    ``[(name, kind, blob buffer)]``. The buffers are zero-copy views into
    the batch (no ``.as_py()`` copies)."""
    cols, blobs = batch.column("cols"), batch.column("blobs")
    names = cols.values.field("name").to_pylist()
    kinds = cols.values.field("kind").to_pylist()
    coffs = cols.offsets.to_numpy(zero_copy_only=False)
    boffs = blobs.offsets.to_numpy(zero_copy_only=False)
    bvals = blobs.values
    for i in range(batch.num_rows):
        lo, hi = int(coffs[i]), int(coffs[i + 1])
        shift = int(boffs[i]) - lo
        yield [(names[j], kinds[j], bvals[shift + j].as_buffer())
               for j in range(lo, hi)]


def _temporal_zone_scale(t: pa.DataType) -> tuple[int, int]:
    """(num, den) scaling a temporal column's storage ints into its
    zone-map unit: epoch DAYS for dates, epoch MICROSECONDS for
    timestamps/times/durations — the units ``read_decoded``'s residual
    filters (``datediff`` / ``unix_micros``) compare in."""
    if pa.types.is_date32(t):
        return 1, 1
    if pa.types.is_date64(t):
        return 1, 86_400_000  # ms -> days
    unit = getattr(t, "unit", "us")
    return {"s": (1_000_000, 1), "ms": (1_000, 1),
            "us": (1, 1), "ns": (1, 1_000)}[unit]


def cluster_for_encode(df: DataFrame, num_partitions: int,
                       salt_buckets: int = 4) -> DataFrame:
    """Salted clustering repartition: (source, length-bucket, salt).

    Co-locates same-source, similar-length documents into the same chunk
    (homogeneous chunks -> smaller dictionaries, tighter FOR ranges) while
    the salt defeats skew from a dominant source or a heavy length bucket —
    the explicit skew control the north rule requires, replacing the
    reference's degenerate one-task-per-file plan
    (``ParquetHadoopInputPlugin.java:116``).
    """
    length_bucket = F.floor(F.log2(F.col("n_tok") + F.lit(1))).alias("_lb")
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
    return (df.repartition(num_partitions, F.col("source"), length_bucket,
                           salt)
              .sortWithinPartitions("source", "n_tok"))


def decode_chunks(chunks_df: DataFrame, column_order: list[str],
                  spark_schema: str) -> DataFrame:
    """Inverse of the encode map: chunk rows -> original-schema DataFrame.

    Zero-copy per chunk: blob payloads are read as views into the Arrow
    batch's buffers (no ``.as_py()`` copies — VERDICT r1 decode gap), and
    all chunk rows of an incoming batch are concatenated into ONE outgoing
    RecordBatch, so the Python->JVM channel sees few large batches.

    Columns missing from a chunk decode as nulls (heterogeneous-schema
    trees: the reference decodes files with incompatible schemas side by
    side into the union, ``test-data/incompatible-schema/expected.csv`` +
    ``TestParquetHadoopInputPlugin.java:48-53``); decoded arrays are cast
    to the declared type when they differ (e.g. int widening across
    per-file schemas).
    """
    spark = chunks_df.sparkSession
    struct = spark.createDataFrame([], spark_schema).schema
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(struct)
    types = {f.name: f.type for f in target}
    missing = [n for n in column_order if n not in types]
    if missing:
        raise ValueError(f"columns {missing} absent from spark_schema")

    def decode_batches(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            n_rows_arr = batch.column("n_rows").to_numpy(
                zero_copy_only=False)
            outs: dict[str, list[pa.Array]] = {n: [] for n in column_order}
            for n_rows, entries in zip(n_rows_arr, chunk_columns(batch)):
                by_name = {nm: (kd, buf) for nm, kd, buf in entries}
                for name in column_order:
                    ent = by_name.get(name)
                    if ent is None:
                        outs[name].append(
                            pa.nulls(int(n_rows), type=types[name]))
                        continue
                    arr = decode_column(*ent)
                    if arr.type != types[name]:
                        arr = arr.cast(types[name])
                    outs[name].append(arr)
            yield pa.RecordBatch.from_arrays(
                [pa.concat_arrays(outs[n]) for n in column_order],
                names=column_order)

    return chunks_df.mapInArrow(decode_batches, spark_schema)


def encode_df(spark: SparkSession, df: DataFrame, out_dir: str,
              wave_id: int = 0,
              cluster_partitions: int | None = None) -> DataFrame:
    """DataFrame-source encode (Catalyst filters/pushdown upstream apply).

    Writes chunk rows (with payloads) via Spark's writer; returns nothing
    to Python until action. Use for non-file sources; ``encode_path`` is
    the fast path for plain Parquet file trees. Like the file-source
    chunk files, these carry no column statistics and no dictionary
    pages: the blobs are already coded, and nothing reads chunk-file
    statistics.
    """
    if cluster_partitions:
        df = cluster_for_encode(df, cluster_partitions)
    from . import fsutil
    wave_path = fsutil.spark_path(f"{out_dir}/chunks/wave={wave_id}")
    enc = df.mapInArrow(make_encode_fn(wave_id), CHUNK_SPARK_SCHEMA)
    (enc.write.mode("overwrite")
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.column.statistics.enabled", "false")
        .parquet(wave_path))
    return spark.read.parquet(wave_path)


def _resolve_fields(fields, renames: list[dict]) -> list[dict]:
    """Rename-plan entry per physical field (``fields``: a pa.Schema or
    pa.StructType — any iterable of pa.Field), from a column-mapping
    plan ([{"logical", "physical", "id", "children"?}],
    ``delta_meta.column_renames``). A field resolves by its parquet
    FIELD ID when both sides carry one (the mode=id rule — survives
    physical renames), else by physical name. A physical column the
    plan doesn't cover fails loudly: it is not part of the table's
    schema, and silently passing its physical name through would serve
    a column the table doesn't have."""
    by_id = {r["id"]: r for r in renames if r.get("id") is not None}
    by_phys = {r["physical"]: r for r in renames}
    out = []
    for f in fields:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None and int(fid) in by_id:
            out.append(by_id[int(fid)])
        elif f.name in by_phys:
            out.append(by_phys[f.name])
        else:
            raise ValueError(
                f"physical column {f.name!r} (field id {fid}) has no "
                "entry in the column-mapping plan — a foreign or "
                "stale data file?")
    names = [r["logical"] for r in out]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"column-mapping plan resolves multiple physical columns "
            f"to the same logical name(s) {sorted(dupes)}")
    return out


def _logical_names(schema: "pa.Schema",
                   renames: list[dict]) -> list[str]:
    """LOGICAL name per physical top-level field (see
    ``_resolve_fields`` for the resolution rule)."""
    return [r["logical"] for r in _resolve_fields(schema, renames)]


def _logical_type(t: "pa.DataType", plan: dict | None) -> "pa.DataType":
    """The LOGICAL Arrow type for a physical nested type ``t`` under a
    recursive rename plan (``delta_meta._rename_plan_type`` shape).
    Same memory layout as ``t`` — only struct field names change — so
    the conversion is a zero-copy ``Array.view``. ``plan`` None means
    nothing below needs renaming."""
    if plan is None:
        return t
    kind = plan["kind"]
    if kind == "struct":
        if not pa.types.is_struct(t):
            raise ValueError(
                f"column-mapping plan expects a struct, data file has "
                f"{t}")
        entries = _resolve_fields(t, plan["fields"])
        return pa.struct([
            pa.field(r["logical"],
                     _logical_type(f.type, r.get("children")),
                     f.nullable)
            for f, r in zip(t, entries)])
    if kind == "array":
        if not (pa.types.is_list(t) or pa.types.is_large_list(t)
                or pa.types.is_fixed_size_list(t)):
            raise ValueError(
                f"column-mapping plan expects a list, data file has "
                f"{t}")
        vf = t.value_field.with_type(
            _logical_type(t.value_type, plan["element"]))
        if pa.types.is_large_list(t):
            return pa.large_list(vf)
        if pa.types.is_fixed_size_list(t):
            return pa.list_(vf, t.list_size)
        return pa.list_(vf)
    if kind == "map":
        if not pa.types.is_map(t):
            raise ValueError(
                f"column-mapping plan expects a map, data file has "
                f"{t}")
        return pa.map_(
            t.key_field.with_type(
                _logical_type(t.key_type, plan["key"])),
            t.item_field.with_type(
                _logical_type(t.item_type, plan["value"])),
            t.keys_sorted)
    raise ValueError(f"unknown rename-plan kind {kind!r}")


def rename_batch(batch: "pa.RecordBatch",
                 renames: list[dict]) -> "pa.RecordBatch":
    """Physical->logical batch rename under a column-mapping plan:
    top-level names always, nested struct fields via a zero-copy
    ``view`` to the renamed type (field-id resolution at every struct
    level). Shared by the encode task and ``verify_files`` so both
    sides serve the table's logical schema."""
    entries = _resolve_fields(batch.schema, renames)
    cols, fields = [], []
    for f, col, r in zip(batch.schema, batch.columns, entries):
        nt = _logical_type(f.type, r.get("children"))
        if nt != f.type:
            col = col.view(nt)
        cols.append(col)
        fields.append(pa.field(r["logical"], nt, f.nullable))
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


def _physical_columns(schema: "pa.Schema", renames: list[dict],
                      columns: list[str]) -> list[str]:
    """Physical read columns for the requested LOGICAL projection."""
    logical = _logical_names(schema, renames)
    phys_of = {ln: f.name for ln, f in zip(logical, schema)}
    missing = [c for c in columns if c not in phys_of]
    if missing:
        raise ValueError(
            f"projected column(s) {missing} not in the column-mapped "
            f"schema (logical columns: {sorted(phys_of)})")
    return [phys_of[c] for c in columns]


def _uri_to_path(uri: str) -> str:
    """Decode a Spark-listed file URI to the raw path pyarrow opens:
    ``file:/tmp/a%20b.parquet`` -> ``/tmp/a b.parquet``; non-file
    schemes keep scheme+authority with the path percent-decoded; plain
    paths (no scheme) pass through UNdecoded — only URIs are encoded."""
    from urllib.parse import unquote, urlparse
    if ":" not in uri.split("/", 1)[0]:
        return uri
    u = urlparse(uri)
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return unquote(u.path)
    if u.scheme:
        return f"{u.scheme}://{u.netloc}{unquote(u.path)}"
    return uri


# UTF-16 units per py4j answer of the listing, far below the ~8 KB at
# which an answer stalls (``spark_input_files``)
_LISTING_CHUNK = 2048


def spark_input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()`` in a few py4j calls. pyspark's own
    ``inputFiles`` converts the JVM array one element per round trip
    (13-18 ms for 128 files on a 4-core host); this joins it JVM-side
    into a ``StringBuilder`` and fetches the joined string in substrings
    of at most ``_LISTING_CHUNK`` UTF-16 units. A single py4j answer
    above ~8 KB costs a fixed ~43 ms on that host (a listing of 110
    append_mixed files, ~9.9 KB, took 44 ms in one answer and 1 ms at
    5.3 KB); the likely cause, not verified, is delayed ACK against
    Nagle on the gateway's JVM side (setting ``TCP_NODELAY`` or
    ``TCP_QUICKACK`` on the Python side did not help). Each substring
    ends on a code-point boundary (``offsetByCodePoints``), so a name
    with an astral-plane character is never cut inside its surrogate
    pair. The classes are named directly, not walked package by package
    from ``spark._jvm``, which would cost one round trip per name
    component. Spark lists URIs, which percent-encode a newline in a
    name (``%0A``), so the joined string splits back exactly."""
    from py4j.java_gateway import JavaClass
    gateway = df.sparkSession._jvm._gateway_client
    builder = JavaClass("scala.collection.mutable.StringBuilder", gateway)()
    joined = (JavaClass("scala.collection.immutable.ArraySeq", gateway)
              .unsafeWrapArray(df._jdf.inputFiles())
              .addString(builder, "\n").underlying())
    n, start, parts = joined.length(), 0, []
    while start < n:
        end = (n if n - start <= _LISTING_CHUNK else
               joined.offsetByCodePoints(start + _LISTING_CHUNK, -1))
        parts.append(joined.substring(start, end))
        start = end
    return "".join(parts).split("\n") if n else []


def _lineage_key(path: str) -> str:
    """Scheme-normalized file identity for manifest-lineage comparison:
    ``file:/p``, ``file:///p``, ``file://localhost/p`` and ``/p`` all mean
    the same local file (Spark's ``inputFiles()`` emits URIs; pyarrow
    listings emit paths). Parsed with urllib so a host-qualified authority
    is recognized as such rather than folded into the path; non-local
    authorities keep their netloc in the key (``s3://bkt/p`` from two
    buckets must not collide)."""
    if ":" not in path.split("/", 1)[0]:
        return path  # plain path, no scheme
    from urllib.parse import urlparse
    u = urlparse(path)
    if u.scheme == "file":
        if u.netloc in ("", "localhost"):
            return u.path
        return f"//{u.netloc}{u.path}"  # genuinely remote file:// host
    if u.scheme:
        return f"{u.scheme}://{u.netloc}{u.path}"
    return path


def _side_inputs(files: list[str],
                 row_deletes: dict[str, list[str]] | None,
                 eq_deletes: dict[str, list[dict]] | None,
                 const_columns: dict[str, dict] | None) -> list[tuple]:
    """Per-file task side inputs ``(position-delete files, equality-delete
    descriptors JSON, constant columns JSON)``, None where absent. Keys
    match on the scheme-normalized identity (``_lineage_key``): the
    listing is Spark's (file:/ URIs) while scan plans carry plain
    paths. Descriptors and constants go as JSON (a struct
    column would pin one fixed shape)."""
    rd = {_lineage_key(k): v for k, v in (row_deletes or {}).items()}
    eq = {_lineage_key(k): v for k, v in (eq_deletes or {}).items()}
    cc = {_lineage_key(k): v for k, v in (const_columns or {}).items()}
    out = []
    for f in files:
        k = _lineage_key(f)
        e, c = eq.get(k), cc.get(k)
        out.append((rd.get(k), json.dumps(e) if e else None,
                    json.dumps(c) if c else None))
    return out


def encode_path(spark: SparkSession, input_path: str, out_dir: str,
                waves: int = 1, resume: bool = False,
                cluster_partitions: int | None = None,
                batch_rows: int = DEFAULT_BATCH_ROWS,
                columns: list[str] | None = None,
                expected_schema: str | None = None,
                bad_file_threshold: float = 0.0,
                bad_record_threshold: float = 0.0,
                schema_mode: str = "single",
                input_files: list[str] | None = None,
                append: bool = False,
                row_deletes: dict[str, list[str]] | None = None,
                eq_deletes: dict[str, list[dict]] | None = None,
                const_columns: dict[str, dict] | None = None,
                const_schema: dict[str, str] | None = None,
                column_renames: list[dict] | None = None) -> dict:
    """Run the full encode job; returns aggregate metrics.

    ``row_deletes`` ({data_file_path: [position-delete parquet paths]})
    applies Iceberg merge-on-read POSITION deletes during encode: each
    task reads its own file's deleted row positions (filter-pushed into
    the delete files) and masks them out batch-by-batch before encoding,
    so the tree holds exactly the snapshot's live rows. Feed it
    ``iceberg_meta.snapshot_scan(...)["position_deletes"]`` together
    with ``input_files=scan["data_files"]``. File-source path only
    (``cluster_partitions`` reads through Spark, which has no
    row-position access).

    ``eq_deletes`` ({data_file_path: [{"path": delete_parquet,
    "columns": [key cols]}]}) applies Iceberg EQUALITY deletes the same
    way: each task reads the delete files' key columns, builds a key
    set (hash prefilter + exact tuple confirmation,
    ``_EqualityDeleteFilter``), and drops matching rows batch-by-batch.
    Feed it ``snapshot_scan(...)["equality_deletes"]`` — the scan
    already scoped deletes by sequence number, so the mapping IS the
    application plan. Key columns a ``columns=`` projection leaves out
    are still read for the masking, then dropped. Per-task key
    materialization is capped at
    ``_EQ_MAX_KEYS`` (equality deletes are not file-keyed, so every
    task reads the full set — compact delete files past that). Same
    file-source-only restriction as ``row_deletes``.

    ``const_columns`` ({data_file_path: {column: value}}) +
    ``const_schema`` ({column: type name from ``_CONST_TYPES``}) inject
    per-file CONSTANT columns into every batch after delete masking —
    how partition values reach the encoded tree for sources that store
    them outside the data files (Delta:
    ``delta_meta.partition_const_columns``; Hive trees:
    ``table.hive_partitioned_files``). Values ride the path DataFrame
    as JSON and cast to the declared type in-task (dates as ISO
    strings; None = typed null). A constant chunk takes FOR at width 0
    (an empty payload), so the storage cost is nil; a name colliding with
    a physical column fails that file loudly. File-source path only, like
    the delete mappings.

    ``column_renames`` ([{"logical", "physical", "id"}]) maps
    column-mapped physical parquet names to the table's LOGICAL schema
    (Delta columnMapping name/id modes —
    ``delta_meta.snapshot_scan(...)["column_renames"]``): batches
    rename after the delete masking, ``columns=`` becomes a logical
    projection, and field-id resolution wins over physical names.
    ``expected_schema`` (a pre-read Spark probe) still sees physical
    names. File-source path only.

    Each wave's manifest record carries the part of these five mappings
    that its files were encoded with (``"plan"``: the per-file side
    inputs, ``const_schema``, ``column_renames``; absent when none), so
    ``verify.verify_files(spark, out_dir)`` replays every wave's own
    masking, constants and renames without being handed them again.

    ``append=True`` is the INCREMENTAL mode: source files already present
    in any committed wave's manifest lineage are subtracted from the
    input, and the remaining (new) files are encoded as fresh waves
    numbered past the existing ones. Feed it a growing directory, or an
    Iceberg snapshot diff (``iceberg_meta.snapshot_scan_diff``'s
    ``data_files``), and each run encodes exactly the unseen files —
    idempotent under crashes for the same reason ``resume`` is: a killed
    append run's committed waves are in the manifest, so the re-run
    subtracts their files and only encodes the remainder (file identity
    is the listing string, which is stable across runs of the same
    listing path). ``resume`` and
    ``append`` are mutually exclusive: resume re-runs a fixed input's
    missing waves; append extends a tree with new input.

    ``input_files``: explicit data-file list overriding the tree listing
    of ``input_path`` — the integration point for table formats whose
    file set comes from metadata rather than a directory walk
    (``sources.iceberg_meta.snapshot_data_files`` feeds this: the encode
    then runs against one frozen snapshot, immune to concurrent
    commits). ``input_path`` is still used in messages/manifest lineage.

    Listing, in both schema modes, is Spark's file index of
    ``input_path`` or ``input_files``, asked for with a fixed schema
    (``spark.read.schema(...).parquet(...).inputFiles()``) with
    ``recursiveFileLookup``: every non-hidden directory under a root is
    walked, ``k=v`` or not, as the reference expands directories
    (``ParquetHadoopInputPlugin.java:204-239``), and no partition
    columns are inferred. Globs, the hidden-name filter, names without a
    ``.parquet`` suffix and qualified URIs follow Spark's rules, and no
    Spark job runs. Only ``expected_schema`` and ``cluster_partitions``
    make Spark infer the source schema (one Spark job that reads a
    footer); otherwise the listing opens no footer (the encode tasks of
    a wave of at most ``filetasks.DRIVER_WAVE_BYTES`` run in the driver
    and open theirs there). The listing comes back through
    ``spark_input_files`` in answers of at most ``_LISTING_CHUNK``
    UTF-16 units, so a long one costs no py4j stall. Schemes the JVM
    cannot list (``mock-s3``) are listed with pyarrow
    (``_list_parquet_files``). An empty listing still fails with
    Spark's ``UNABLE_TO_INFER_SCHEMA`` and a missing path with
    ``PATH_NOT_FOUND``, before anything is written under ``out_dir``.

    ``waves`` > 1 splits the input *file list* into that many sub-jobs, each
    committed to the manifest on completion — kill the job after wave k and a
    ``resume=True`` rerun processes only waves k+1.. (idempotent: each wave
    overwrites its own chunk subdirectory).

    ``cluster_partitions`` switches to the DataFrame-source path with the
    salted clustering repartition (slower: rows cross the JVM->Python
    channel) — use when chunk homogeneity is worth more than throughput.

    ``columns`` projects the encode to a column subset (the reference's
    ReadSupport always takes the full file schema,
    ``MessagePackReadSupport.java:36-40``; ours prunes at the Parquet read).

    ``expected_schema`` (DDL string) asserts the input schema before any
    work — the write-side analogue of the reference's
    ``strictTypeChecking`` (``ParquetRowReader.java:70,113``).

    ``bad_file_threshold``: tolerated fraction of failed input files per
    wave (errors are recorded in chunks_meta and the manifest); above the
    threshold the wave fails before committing.

    ``bad_record_threshold``: tolerated fraction of rows *within* a file
    lost to corrupt row groups before that file counts as failed — the
    reference's ``parquet.read.bad.record.threshold`` semantics
    (``README.md:25-27``, ``ParquetRowReader.java:101,142-147``): skip the
    corrupt unit, keep the rest, fail only past the fraction. Both knobs
    default to 0.0 (strict).

    ``schema_mode`` is one policy line over the same listing and waves.
    The tasks key each file's schema (``_schema_key``); a wave record
    keeps its keys (``"schemas"``). ``"single"`` refuses the first wave
    that brings a second schema (in the wave, an earlier wave, or under
    append/resume a committed record) with a ``ValueError`` naming both;
    that wave does not commit, so its chunk files stay invisible until
    ``vacuum``. ``"mixed"`` lets files of *incompatible* schemas share
    waves, as the reference decodes them side by side
    (``TestParquetHadoopInputPlugin.java:48-53``); ``decode_chunks``
    reads the union with nulls. It refuses ``expected_schema`` and
    ``cluster_partitions`` (one ``spark.read.parquet`` per wave applies
    one file's schema to all). A table snapshot's data files differ in
    schema after schema evolution (an added column, int widened to
    long): encode such a snapshot with ``"mixed"``, as
    ``jobs/encode_job.py`` does by default for table sources.

    Every file-source wave's per-chunk stat rows come back to the driver,
    which writes them as ``chunks_meta/wave-K.parquet`` (one
    ``fsutil.put_bytes`` on every scheme) before it commits the wave's
    manifest record. The driver holds one wave's rows at a time, about
    0.5 KB per chunk row, so raising ``waves`` bounds its memory at any
    tree size (SCALE.md break-order #2).
    """
    if schema_mode not in ("single", "mixed"):
        raise ValueError(f"unknown schema_mode {schema_mode!r}")
    if schema_mode == "mixed" and expected_schema is not None:
        raise ValueError("expected_schema requires schema_mode='single'")
    if schema_mode == "mixed" and cluster_partitions:
        raise ValueError(
            "cluster_partitions requires schema_mode='single': it reads "
            "each wave through one spark.read.parquet, which applies one "
            "file's schema to all of them")
    if append and resume:
        raise ValueError("append and resume are mutually exclusive: "
                         "resume re-runs a fixed input's missing waves, "
                         "append extends the tree with new input")
    if (row_deletes or eq_deletes) and cluster_partitions:
        raise ValueError(
            "row_deletes/eq_deletes need the file-source path (deletes "
            "apply per-file); cluster_partitions reads through Spark — "
            "pre-apply deletes and use encode_df instead")
    if const_columns:
        # per-file constant columns (partition values for Delta / Hive
        # sources, delta_meta.partition_const_columns /
        # table.hive_partitioned_files). File-source path only: the
        # injection is keyed by source file.
        if cluster_partitions:
            raise ValueError(
                "const_columns need the file-source path (constants "
                "apply per-file); pre-join them and use encode_df "
                "instead")
        need = {c for v in const_columns.values() for c in v}
        missing = sorted(need - set(const_schema or {}))
        if missing:
            raise ValueError(
                f"const_schema missing type declarations for {missing} "
                f"(supported: {sorted(_CONST_TYPES)})")
        bad_t = sorted(t for t in (const_schema or {}).values()
                       if t not in _CONST_TYPES)
        if bad_t:
            raise ValueError(
                f"unsupported const_schema type(s) {bad_t} "
                f"(supported: {sorted(_CONST_TYPES)})")
    if column_renames and cluster_partitions:
        raise ValueError(
            "column_renames need the file-source path (renames apply "
            "at the pyarrow read); cluster_partitions reads through "
            "Spark — rename via the DataFrame and use encode_df")
    if input_files is not None and not input_files:
        # an explicit empty list must NEVER fall back to listing
        # input_path (`if input_files` is falsy for []) — under append it
        # is the snapshot-diff steady state (nothing new), otherwise it
        # is the empty-glob error
        if append:
            return {"waves_run": 0, "waves_skipped": 0, "n_rows": 0,
                    "n_tokens": 0, "raw_bytes": 0, "enc_bytes": 0,
                    "wall_s": 0.0, "n_files_already_committed": 0}
        raise FileNotFoundError("input_files is empty")
    from . import fsutil
    if fsutil.is_local(out_dir):
        out_dir = fsutil.strip_file_scheme(out_dir)  # os.* fast paths below
    # non-local out_dirs run the same wave protocol through fsutil's
    # capability layer: tasks spool chunk files locally and publish them
    # with atomic-at-visibility PUTs (direct final-key write on object
    # stores, temp+move on rename-capable remotes), and the wave manifest
    # record stays the single visibility point (SCALE.md commit protocol)
    paths = input_files or [input_path]
    # only these two need Spark's schema of the source: expected_schema
    # compares Spark types, and the clustering path reads every wave
    # through spark.read.parquet. Everything else asks Spark for its
    # file index alone — a fixed schema skips inference, which is one
    # Spark job per call and reads a footer a bad file can fail
    infer = expected_schema is not None or bool(cluster_partitions)
    try:
        # every directory under a root is walked, as the reference
        # expands directories (ParquetHadoopInputPlugin.java:204-239);
        # without recursiveFileLookup Spark's index keeps only a root's
        # own files unless it finds k=v partition directories
        df0 = (spark.read if infer else spark.read.schema(StructType())) \
            .option("recursiveFileLookup", "true").parquet(*paths)
        # inputFiles() returns percent-ENCODED URIs (a literal "%"
        # or space in a file name comes back as %25 / %20, which
        # pyarrow then fails to open); decode back to raw paths
        files = sorted(_uri_to_path(f) for f in spark_input_files(df0))
        if not files:
            # an empty listing still gets Spark's own refusal
            # (UNABLE_TO_INFER_SCHEMA)
            spark.read.parquet(*paths)
    except Exception as exc:
        # Sources OUR pyarrow-reading encode tasks handle fine but
        # Spark cannot: filesystem schemes the JVM has no FileSystem
        # for (mock-s3, or s3/gs without the hadoop cloud jars —
        # fsutil reads them via pyarrow.fs), and, under inference,
        # footer types Spark's reader lacks (TIMESTAMP(NANOS) ->
        # PARQUET_TYPE_ILLEGAL). Listing falls back to pyarrow;
        # inference cannot.
        msg = str(exc)
        no_fs = ("No FileSystem for scheme" in msg
                 or "UnsupportedFileSystem" in msg)
        if infer and (no_fs or "PARQUET_TYPE_ILLEGAL" in msg):
            what = ("expected_schema" if expected_schema is not None
                    else "cluster_partitions")
            raise TypeError(
                f"{what} needs a Spark-readable source schema, but "
                f"Spark rejects this tree: {exc}; without it the "
                "file-source path reads with pyarrow") from exc
        if not no_fs:
            raise
        files = sorted(input_files or _list_parquet_files(input_path))
    if expected_schema is not None:
        expected = spark.createDataFrame([], expected_schema).schema
        got = [(f.name, f.dataType) for f in df0.schema.fields]
        want = [(f.name, f.dataType) for f in expected.fields]
        if got != want:
            raise TypeError(
                f"input schema mismatch: got "
                f"{df0.schema.simpleString()}, "
                f"expected {expected.simpleString()}")
    if not files:
        # parity with the reference's empty-glob failure
        # (ParquetHadoopInputPlugin.java:92-94 -> PathNotFoundException)
        raise FileNotFoundError(f"no parquet files under {input_path}")
    totals = {"waves_run": 0, "waves_skipped": 0, "n_rows": 0, "n_tokens": 0,
              "raw_bytes": 0, "enc_bytes": 0, "wall_s": 0.0}
    # one manifest read (none for a fresh encode): append's lineage and
    # next wave id, resume's done set, the committed waves' schemas
    recs = mf.wave_records(out_dir) if append or resume else []
    wave_base = 0
    if append:
        # lineage identity is scheme-normalized: Spark's listing gives
        # file:/ URIs while the pyarrow fallback and input_files carry
        # plain paths — an append must still recognize committed files
        seen = {_lineage_key(f) for r in recs for f in r["input_files"]}
        kept = [f for f in files if _lineage_key(f) not in seen]
        totals["n_files_already_committed"] = len(files) - len(kept)
        files = kept
        # wave_base must advance past EVERY committed wave, independent of
        # whether any lineage was recorded (a committed wave with empty
        # lineage — e.g. a future meta-only wave — must still not be
        # overwritten by the next append run)
        wave_base = max((r["wave_id"] for r in recs), default=-1) + 1
        if not files:
            # nothing new — a legitimate no-op, NOT the empty-glob error
            return totals
    # a deterministic wave list, so wave ids are resume-stable across runs
    # over the same file tree
    wave_files = [w for i in range(waves) if (w := files[i::waves])]
    done = {r["wave_id"] for r in recs} if resume else set()
    # schema key -> the file or committed wave that brought it (records
    # written before waves kept keys have none)
    schemas = {k: f"committed wave {r['wave_id']}"
               for r in recs for k in r.get("schemas", ())}
    for wave_id, wfiles in enumerate(wave_files, start=wave_base):
        if wave_id in done:
            totals["waves_skipped"] += 1
            continue
        t0 = time.perf_counter()
        wave_dir = f"{out_dir}/chunks/wave={wave_id}"
        # an uncommitted wave dir may hold parts from a previous failed
        # attempt; a retry with a different file list would otherwise
        # leave stale parts behind and duplicate data on decode
        # (prefix delete on object stores, rmtree locally)
        fsutil.rmtree_any(wave_dir)
        plan = wave_schemas = None
        if cluster_partitions:
            df = spark.read.parquet(*wfiles)
            encode_df(spark, df, out_dir, wave_id, cluster_partitions)
            meta = None
        else:
            # per-file delete/constant inputs ride each file's input row;
            # a file's lineage identity is unchanged (deletes alter row
            # content, constants add columns — neither changes which
            # source files were consumed)
            sides = _side_inputs(wfiles, row_deletes, eq_deletes,
                                 const_columns)
            rows = [(f, *side) for f, side in zip(wfiles, sides)]
            # the wave's scan plan, committed with its manifest record so
            # verify_files replays what this wave applied: the side inputs
            # of the files that have any, the constant types and renames
            plan = {k: v for k, v in (
                ("files", {f: side for f, side in zip(wfiles, sides)
                           if any(side)}),
                ("const_schema", const_schema),
                ("column_renames", column_renames)) if v}
            # files LPT-packed on source bytes into at most one task per
            # core; the commit and error unit is still the file. What
            # comes back to the driver is the wave's stat rows, never
            # payloads
            meta = run_file_tasks(
                spark, rows, FILE_ROWS_ARROW_SCHEMA,
                make_encode_files_fn(wave_id, wave_dir, batch_rows,
                                     columns=columns,
                                     bad_record_threshold=(
                                         bad_record_threshold),
                                     const_schema=const_schema,
                                     column_renames=column_renames),
                CHUNK_META_ARROW_SCHEMA,
                weights=fsutil.file_sizes(wfiles))
            bad = meta.filter(pa.compute.is_valid(meta.column("error")))
            if bad.num_rows > len(wfiles) * bad_file_threshold:
                errs = bad.select(["source_file", "error"]).to_pylist()
                raise RuntimeError(
                    f"wave {wave_id}: {bad.num_rows}/{len(wfiles)} input "
                    f"files failed exceeds bad_file_threshold="
                    f"{bad_file_threshold}: {errs[:3]}")
            wave_schemas = sorted(
                k for k in pa.compute.unique(meta.column("schema")).to_pylist()
                if k is not None)
            if schema_mode == "single":
                _refuse_second_schema(wave_id, meta, wave_schemas, schemas)
            buf = pa.BufferOutputStream()
            pq.write_table(meta, buf)
            fsutil.put_bytes(f"{out_dir}/chunks_meta/wave-{wave_id}.parquet",
                             buf.getvalue().to_pybytes())
        wall_s = time.perf_counter() - t0
        stats = mf.commit_wave(spark, out_dir, wave_id, wfiles, wall_s,
                               meta_table=meta, plan=plan,
                               schemas=wave_schemas)
        totals["waves_run"] += 1
        totals["n_rows"] += stats["n_rows"]
        totals["n_tokens"] += stats["n_tokens"]
        totals["raw_bytes"] += stats["raw_bytes"]
        totals["enc_bytes"] += stats["enc_bytes"]
        totals["wall_s"] += wall_s
    return totals


def _refuse_second_schema(wave_id: int, meta: pa.Table,
                          wave_schemas: list[str],
                          schemas: dict[str, str]) -> None:
    """``schema_mode="single"``: add the wave's keys to ``schemas`` (key
    -> the file or committed wave that brought it); raise past one."""
    col = meta.column("schema")
    for k in wave_schemas:
        if k not in schemas:
            i = pa.compute.index(col, k).as_py()
            schemas[k] = meta.column("source_file")[i].as_py()
    if len(schemas) > 1:
        (k1, w1), (k2, w2) = list(schemas.items())[:2]
        raise ValueError(
            f"wave {wave_id}: schema_mode='single' refuses files of "
            f"{len(schemas)} different schemas: {w1} has ({k1}), {w2} "
            f"has ({k2}); encode with schema_mode='mixed' to keep them "
            "side by side")


def _list_parquet_files(input_path: str) -> list[str]:
    """Recursive parquet listing via pyarrow.fs (works for local paths and
    file:/s3:/hdfs: URIs): ``encode_path``'s listing for filesystem
    schemes the JVM cannot list (``mock-s3``, or s3/gs without the
    hadoop cloud jars). Hidden files and files under hidden directories
    are skipped (the reference's ``HiddenFileFilter``). Unlike Spark's
    file index, only names ending in ``.parquet`` are listed."""
    from pyarrow import fs as pafs

    from . import fsutil
    filesystem, root = fsutil.get_fs(input_path)
    info = filesystem.get_file_info(root)
    if info.type == pafs.FileType.File:
        return [root]
    sel = pafs.FileSelector(root, recursive=True)
    rootlen = len(root.rstrip("/")) + 1
    return sorted(f.path for f in filesystem.get_file_info(sel)
                  if f.type == pafs.FileType.File
                  and f.path.endswith(".parquet")
                  and not fsutil.is_hidden(f.path[rootlen:]))


def read_chunks(spark: SparkSession, out_dir: str,
                committed_only: bool = True) -> DataFrame:
    """Chunk rows of the output, gated through the manifest.

    A wave is visible iff ``{out}/manifest/wave-K.json`` exists (the
    atomic commit point) — an aborted wave's renamed chunk parts must
    never be served (ADVICE r1: uncommitted-wave visibility). The wave id
    lives in the data (``wave_id``), so no partition-discovery column is
    needed. ``committed_only=False`` bypasses the gate for debugging.
    """
    from . import fsutil
    if not committed_only:
        return (spark.read
                .parquet(fsutil.spark_path(f"{out_dir}/chunks"))
                .drop("wave"))
    paths = _committed_wave_paths(spark, out_dir)
    if not paths:
        return spark.createDataFrame([], CHUNK_SPARK_SCHEMA)
    return spark.read.parquet(*paths)


def _committed_wave_paths(spark: SparkSession, out_dir: str) -> list[str]:
    """Committed wave dirs that contain chunk parts (a committed wave whose
    files all failed is legitimately empty — unreadable for schema).
    URI-aware via pyarrow.fs, matching ``_list_parquet_files`` (ADVICE r2:
    the two halves of the pipeline must agree on supported filesystems).
    Paths come back Spark-readable (mock-s3 resolves to its local view)."""
    from . import fsutil
    return [fsutil.spark_path(p)
            for w in sorted(mf.completed_waves(spark, out_dir))
            if fsutil.has_parquet_files(p := f"{out_dir}/chunks/wave={w}")]


def read_decoded(spark: SparkSession, out_dir: str, columns: list[str],
                 spark_schema: str,
                 int_ranges: dict[str, tuple[int | None, int | None]]
                 | None = None) -> DataFrame:
    """One-call read path: manifest-gated chunks -> zone-map pruning ->
    decode -> exact residual filters.

    The consumer-facing composition of the read primitives: chunk-level
    ``[vmin, vmax]`` pruning drops chunks *before* any payload decode
    (chunks whose stats prove no row can match are never decompressed —
    the same contract as Parquet row-group statistics pruning), then the
    same ranges re-apply as exact row filters on the decoded output, so
    callers get precisely the rows they asked for regardless of how
    coarse the chunk zone maps are.

    ``int_ranges``: {column: (lo, hi)} with either bound ``None`` for
    open-ended; applies to int and temporal columns. Temporal bounds are
    epoch MICROSECONDS for timestamp/duration columns and epoch DAYS
    for dates, whatever the source's storage unit — zone maps are
    normalized to those units at encode time (``_temporal_zone_scale``),
    so pruning and the residual filter agree. (TIME columns encode and
    decode arrow-side but this Spark build rejects the TIME type
    entirely, so they cannot appear in a decoded Spark schema at all.) Every range column must be
    in ``columns``: the exactness promise needs the decoded value to
    re-check, so a filter-only column raises instead of silently
    returning a chunk-granular superset.
    """
    missing = [c for c in (int_ranges or {}) if c not in columns]
    if missing:
        raise ValueError(
            f"int_ranges columns {missing} not in decoded columns — "
            f"add them to `columns` (exact residual filtering needs the "
            f"decoded values)")
    chunks = read_chunks(spark, out_dir)
    for col, (lo, hi) in (int_ranges or {}).items():
        chunks = prune_chunks(chunks, col, lo, hi)
    dec = decode_chunks(chunks, columns, spark_schema)
    fields = {f.name: f.dataType.typeName()
              for f in spark.createDataFrame([], spark_schema).schema.fields}
    for col, (lo, hi) in (int_ranges or {}).items():
        c = F.col(col)
        tname = fields.get(col, "long")
        if tname in ("timestamp", "timestamp_ntz"):
            lo_e = hi_e = F.unix_micros(c)
            lo_v = None if lo is None else F.lit(lo)
            hi_v = None if hi is None else F.lit(hi)
        elif tname == "date":
            lo_e = hi_e = F.datediff(c, F.lit("1970-01-01"))
            lo_v = None if lo is None else F.lit(lo)
            hi_v = None if hi is None else F.lit(hi)
        elif tname == "daytimeinterval":
            # compare in-type: timedelta literals are µs-exact, while
            # cast(interval as long) truncates to the end-field unit
            import datetime as _dt
            lo_e = hi_e = c
            lo_v = (None if lo is None
                    else F.lit(_dt.timedelta(microseconds=lo)))
            hi_v = (None if hi is None
                    else F.lit(_dt.timedelta(microseconds=hi)))
        elif tname in ("long", "integer", "short", "byte"):
            lo_e = hi_e = c
            lo_v = None if lo is None else F.lit(lo)
            hi_v = None if hi is None else F.lit(hi)
        else:
            raise ValueError(
                f"int_ranges[{col!r}]: no exact residual filter for "
                f"Spark type {tname!r} — supported: int types, "
                f"timestamp/timestamp_ntz (epoch µs), date (epoch "
                f"days), daytimeinterval (µs)")
        if lo_v is not None:
            dec = dec.filter(lo_e >= lo_v)
        if hi_v is not None:
            dec = dec.filter(hi_e <= hi_v)
    return dec


def prune_chunks(chunks: DataFrame, column: str,
                 lo: int | None = None, hi: int | None = None) -> DataFrame:
    """Zone-map chunk pruning: keep only chunks whose [vmin, vmax] range
    for ``column`` can intersect [lo, hi].

    Works on chunk rows or chunks_meta rows (both carry ``cols``); payloads
    of pruned chunks are never decoded — the write-side analogue of Parquet
    row-group statistics pruning, which Spark's scan does for native
    formats (the reference leaves its filter slot NOOP,
    ``ParquetRowReader.java:71``).
    """
    # F.get is null-safe out of bounds (element_at throws under ANSI when
    # the column is absent from a chunk); null stats (string/float/arrow
    # kinds record no zone map) must be KEPT — pruning may only drop a
    # chunk when its stats prove it cannot match, exactly like Parquet
    # row-group statistics pruning
    c = F.get(F.filter(F.col("cols"),
                       lambda x: x["name"] == F.lit(column)), 0)
    keep = F.lit(True)
    if lo is not None:
        keep = keep & (c["vmax"].isNull() | (c["vmax"] >= F.lit(lo)))
    if hi is not None:
        keep = keep & (c["vmin"].isNull() | (c["vmin"] <= F.lit(hi)))
    return chunks.filter(keep)
