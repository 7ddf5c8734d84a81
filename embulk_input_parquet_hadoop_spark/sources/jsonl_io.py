"""JSONL/CSV/Avro corpus staging: distributed raw-corpus ingestion.

Raw LLM training corpora arrive as JSON-lines (optionally gzipped),
CSV/TSV, or Avro container files;
the encode pipeline's task contract is parquet — row groups, footers,
absolute-row deletes, column renames are all parquet-shaped, and
growing a second decode path inside that task would fork its
bad-record semantics. Staging instead converts each JSONL file to
parquet in ONE embarrassingly parallel pass — the same
ship-paths/read-inside-the-Python-worker pattern as ``encode_path``
(CLAUDE.md: the JVM->Python channel is slow; paths are cheap) — and
the staged tree feeds ``encode_path`` unchanged (zone maps, manifest
lineage, verify, every table-format feature).

Idempotence: a staged file's name is ``md5(source path)``, so

- a re-run skips sources whose staged parquet already exists
  (non-empty), making staging crash-retryable, and
- ``encode_path(append=True)``'s manifest lineage dedupes at the
  encode layer on the same deterministic names — stage+encode+append
  is end-to-end incremental over a growing JSONL drop directory.

Writes publish atomically-at-visibility via ``fsutil.put_file`` (local
spool -> temp+rename, or direct final-key PUT on object stores), so a
half-written staged file is never visible as non-empty.

Scale shape: source files LPT-packed on their bytes into at most one
task per core, one Python stage (``filetasks.run_file_tasks``; a set of
small files runs in the driver), zero shuffles, O(files) summary rows to
the driver. Each file still stages,
and fails, on its own. Per-file schema inference can differ across files
(a field absent from one file infers as missing) — pass ``schema_ddl``
to pin types and column order, or encode with ``schema_mode="mixed"``
(the default ``"single"`` refuses a wave whose staged files differ).

Reference analogue: the reference consumes existing Parquet only
(`ParquetHadoopInputPlugin.java:85-119`); raw-corpus ingestion extends
the pipeline the direction a training-data user needs.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import tempfile
import uuid

import pyarrow as pa
from pyspark.sql import SparkSession

from ..plans import fsutil
from ..plans.filetasks import run_file_tasks

STAGE_SUMMARY_SCHEMA = pa.schema([
    ("source", pa.string()), ("staged", pa.string()),
    ("n_rows", pa.int64()), ("skipped", pa.bool_()),
    ("error", pa.string())])
_STAGE_ROWS_SCHEMA = pa.schema([("path", pa.string())])

# an Avro container's bytes weigh this many source bytes of the other
# formats in the driver-wave cut: decoded a record at a time in Python,
# they cost ~3x as much per byte (``filetasks`` module docstring)
_AVRO_BYTE_COST = 3

_EXTS = {"jsonl": (".jsonl", ".json", ".ndjson", ".jsonl.gz",
                   ".json.gz", ".ndjson.gz"),
         "csv": (".csv", ".tsv", ".csv.gz", ".tsv.gz"),
         "avro": (".avro", ".avro.gz"),
         "orc": (".orc",)}


def _list_files(root: str, exts: tuple) -> list[str]:
    """Recursive listing under ``root``, hidden entries skipped (same
    convention as the parquet glob,
    `ParquetHadoopInputPlugin.java:204-239`)."""
    out: list[str] = []

    def _walk(d: str):
        for name in sorted(fsutil.listdir(d)):
            if fsutil.is_hidden(name):
                continue
            p = f"{d}/{name}"
            if fsutil.isdir(p):
                _walk(p)
            elif name.endswith(exts):
                out.append(p)

    _walk(root.rstrip("/"))
    return out


def staged_name(source_path: str) -> str:
    """Deterministic staged file name: md5 of the (scheme-qualified)
    source path. Same source -> same staged name across runs, which is
    what makes both the skip check and append-mode encode lineage
    idempotent."""
    return hashlib.md5(source_path.encode()).hexdigest() + ".parquet"


def _read_jsonl_table(path: str, arrow_schema):
    import pyarrow as pa
    import pyarrow.json as pa_json
    raw = fsutil.read_bytes(path)
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    parse = None
    if arrow_schema is not None:
        parse = pa_json.ParseOptions(explicit_schema=arrow_schema,
                                     unexpected_field_behavior="ignore")
    # single-threaded: one task <-> one core (the same reason encode
    # tasks read parquet with use_threads=False)
    read = pa_json.ReadOptions(use_threads=False)
    tbl = pa_json.read_json(io.BytesIO(raw), read_options=read,
                            parse_options=parse)
    if arrow_schema is not None:
        # a file where some column never appears still gets the full
        # schema (all-null column) so staged schemas are uniform
        cols = [tbl.column(f.name) if f.name in tbl.schema.names
                else pa.nulls(tbl.num_rows, f.type)
                for f in arrow_schema]
        tbl = pa.Table.from_arrays(cols, schema=arrow_schema)
    return tbl


def _read_csv_table(path: str, arrow_schema, delimiter: str | None):
    import pyarrow.csv as pa_csv
    raw = fsutil.read_bytes(path)
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    if delimiter is None:
        delimiter = "\t" if ".tsv" in path else ","
    convert = None
    if arrow_schema is not None:
        convert = pa_csv.ConvertOptions(
            column_types={f.name: f.type for f in arrow_schema},
            include_columns=[f.name for f in arrow_schema],
            include_missing_columns=True)
    tbl = pa_csv.read_csv(
        io.BytesIO(raw),
        read_options=pa_csv.ReadOptions(use_threads=False),
        parse_options=pa_csv.ParseOptions(delimiter=delimiter),
        convert_options=convert)
    if arrow_schema is not None:
        tbl = tbl.cast(arrow_schema)
    return tbl


def stage_jsonl(spark: SparkSession, inputs: str | list[str],
                staging_dir: str, schema_ddl: str | None = None,
                bad_file_threshold: float = 0.0,
                compression: str = "zstd") -> dict:
    """Convert JSONL files to a parquet staging tree, one Spark task
    per file. ``inputs`` is a directory (recursively listed) or an
    explicit file list. Returns ``{"files": [staged paths in source
    order], "n_rows", "n_staged", "n_skipped", "errors"}`` — feed
    ``files`` to ``encode_path(input_files=...)``.

    ``schema_ddl`` (Spark DDL, e.g. ``"doc_id bigint, text string"``)
    pins column types AND order; extra JSON fields are ignored, absent
    fields become null columns. Without it every file infers its own
    schema (encode with ``schema_mode="mixed"`` if they differ:
    ``"single"`` refuses them).

    Files that fail to parse are reported in ``errors`` and tolerated
    up to ``bad_file_threshold`` (fraction of inputs, same contract as
    ``encode_path``); beyond it the job raises.
    """
    return _stage_files(spark, inputs, staging_dir, "jsonl", schema_ddl,
                        bad_file_threshold, compression, None)


def _avro_to_arrow(avro_type, named: dict):
    """Arrow type for an Avro schema node. Covers what corpus files
    use: primitives, ``["null", X]`` unions, arrays, maps, nested
    records (-> struct), enum (-> string), fixed (-> binary). General
    multi-branch unions and recursive types refuse (per-file error,
    tolerated up to ``bad_file_threshold``)."""
    import pyarrow as pa
    if isinstance(avro_type, list):
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) != 1:
            raise ValueError(
                f"unsupported avro union for staging: {avro_type!r}")
        return _avro_to_arrow(non_null[0], named)
    if isinstance(avro_type, dict):
        t = avro_type["type"]
        if t == "record":
            name = avro_type.get("name")
            if name in named:
                raise ValueError(
                    f"recursive avro record {name!r} is not stageable")
            named[name] = True
            try:
                return pa.struct(
                    [(f["name"], _avro_to_arrow(f["type"], named))
                     for f in avro_type["fields"]])
            finally:
                named.pop(name, None)
        if t == "array":
            return pa.list_(_avro_to_arrow(avro_type["items"], named))
        if t == "map":
            return pa.map_(pa.string(),
                           _avro_to_arrow(avro_type["values"], named))
        if t == "enum":
            return pa.string()
        if t == "fixed":
            return pa.binary()
        return _avro_to_arrow(t, named)
    prim = {"boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
            "float": pa.float32(), "double": pa.float64(),
            "string": pa.string(), "bytes": pa.binary(),
            "null": pa.null()}
    if avro_type not in prim:
        raise ValueError(f"unsupported avro type {avro_type!r}")
    return prim[avro_type]


def _read_avro_table(path: str, arrow_schema):
    """One Avro container file -> Arrow table via the pure-Python
    ``avro_io`` reader (record-at-a-time decode: a staging-pass cost,
    documented in the module docstring; the embedded writer schema
    drives the Arrow schema unless ``arrow_schema`` pins one)."""
    import pyarrow as pa

    from . import avro_io
    raw = fsutil.read_bytes(path)
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    avro_schema, records = avro_io.read_avro_bytes(raw, name=path)
    if arrow_schema is None:
        if avro_schema.get("type") != "record":
            raise ValueError(
                f"avro top-level schema is not a record: {path}")
        arrow_schema = pa.schema(
            [(f["name"], _avro_to_arrow(f["type"], {}))
             for f in avro_schema["fields"]])
    # explicit schema: extra avro fields drop, absent ones become null
    return pa.Table.from_pylist(records, schema=arrow_schema)


def _read_orc_table(path: str, arrow_schema):
    """One ORC file -> Arrow table (pyarrow's native ORC reader —
    vectorized, unlike the Avro path). ``arrow_schema`` pins
    types/order: extra columns drop, absent ones become null, listed
    ones cast."""
    import io as _io

    import pyarrow as pa
    import pyarrow.orc as pa_orc
    tbl = pa_orc.ORCFile(_io.BytesIO(fsutil.read_bytes(path))).read()
    if arrow_schema is not None:
        cols = [tbl.column(f.name) if f.name in tbl.schema.names
                else pa.nulls(tbl.num_rows, f.type)
                for f in arrow_schema]
        names = [f.name for f in arrow_schema]
        tbl = pa.Table.from_arrays(cols, names=names).cast(arrow_schema)
    return tbl


def stage_orc(spark: SparkSession, inputs: str | list[str],
              staging_dir: str, schema_ddl: str | None = None,
              bad_file_threshold: float = 0.0,
              compression: str = "zstd") -> dict:
    """ORC variant of :func:`stage_jsonl` — same idempotent
    staged-tree contract over ``.orc`` files, read by pyarrow's
    vectorized ORC reader (no jar). Unlike Avro this is a columnar
    copy at full Arrow speed; the staging pass exists so the encode
    task contract stays parquet-only (row groups, footers, deletes)."""
    return _stage_files(spark, inputs, staging_dir, "orc", schema_ddl,
                        bad_file_threshold, compression, None)


def stage_avro(spark: SparkSession, inputs: str | list[str],
               staging_dir: str, schema_ddl: str | None = None,
               bad_file_threshold: float = 0.0,
               compression: str = "zstd") -> dict:
    """Avro-container variant of :func:`stage_jsonl` — same idempotent
    staged-tree contract over ``.avro`` files, decoded by the repo's
    pure-Python Avro reader (no avro package, no jar;
    null/deflate/snappy codecs). Each file's embedded writer schema maps to Arrow
    (primitives, null-unions, arrays, maps, nested records, enum,
    fixed); ``schema_ddl`` pins types/order across files exactly like
    the JSONL path. Decode is record-at-a-time Python — a documented
    staging-pass cost (one pass, embarrassingly parallel), not an
    encode-path cost; it is why a container's bytes weigh
    ``_AVRO_BYTE_COST`` times their size in the driver-wave cut."""
    return _stage_files(spark, inputs, staging_dir, "avro", schema_ddl,
                        bad_file_threshold, compression, None)


def _arrow_field_to_avro(field, names: list) -> list:
    """Avro schema node for an Arrow field — the export inverse of
    :func:`_avro_to_arrow`. Every node is wrapped ``["null", X]``
    (lossless for non-null data, and Spark nullability is advisory);
    nested record names are generated unique. Maps and exotic types
    refuse loudly."""
    import pyarrow.types as pt
    t = field.type
    if pt.is_boolean(t):
        core = "boolean"
    elif pt.is_integer(t) and t.bit_width <= 32:
        core = "int"
    elif pt.is_integer(t):
        core = "long"
    elif pt.is_float32(t):
        core = "float"
    elif pt.is_float64(t):
        core = "double"
    elif pt.is_string(t) or pt.is_large_string(t):
        core = "string"
    elif pt.is_binary(t) or pt.is_large_binary(t) \
            or pt.is_fixed_size_binary(t):
        core = "bytes"
    elif pt.is_list(t) or pt.is_large_list(t):
        core = {"type": "array",
                "items": _arrow_field_to_avro(t.value_field, names)}
    elif pt.is_struct(t):
        name = f"r{len(names)}"
        names.append(name)
        core = {"type": "record", "name": name,
                "fields": [{"name": f.name,
                            "type": _arrow_field_to_avro(f, names),
                            "default": None} for f in t]}
    else:
        raise ValueError(
            f"column {field.name!r}: arrow type {t} has no Avro "
            "export mapping (maps/temporal/decimal: export parquet "
            "instead)")
    return ["null", core]


def export_avro(df, output_dir: str, codec: str = "deflate") -> dict:
    """Export a DataFrame as Avro container files — one per non-empty
    partition, written by the repo's pure-Python Avro writer (no avro
    package or jar) and published atomically-at-visibility on any
    fsutil scheme. The schema maps Arrow -> Avro with every field
    nullable (lossless); per-partition record counts come back as
    O(partitions) summary rows. The consumer-facing inverse of
    :func:`stage_avro` (``decode_job --format avro``)."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names: list = []
    arrow_schema = to_arrow_schema(df.schema)
    avro_schema = {"type": "record", "name": "row", "fields": [
        {"name": f.name, "type": _arrow_field_to_avro(f, names),
         "default": None} for f in arrow_schema]}
    schema_json = _json.dumps(avro_schema)
    base = output_dir.rstrip("/")
    fsutil.makedirs_any(base)

    def _write(batches):
        import itertools

        from pyspark import TaskContext

        from . import avro_io
        summary = pa.schema([("file", pa.string()),
                             ("n_rows", pa.int64())])
        # peek for a non-empty batch without materializing the rest —
        # empty partitions yield no file
        it = iter(batches)
        first = next((b for b in it if b.num_rows), None)
        if first is None:
            return
        pid = TaskContext.get().partitionId()
        dest = f"{base}/part-{pid:05d}.avro"
        spool = (os.environ.get("SPARK_LOCAL_DIRS", "")
                 .split(",")[0].strip() or tempfile.gettempdir())
        tmp = os.path.join(spool, f".avro-{uuid.uuid4().hex}")
        try:
            # streamed: one container BLOCK per Arrow batch, so peak
            # memory is one batch of Python dicts, never the partition
            with open(tmp, "wb") as fh:
                n = avro_io.write_avro_stream(
                    fh, _json.loads(schema_json),
                    (b.to_pylist()
                     for b in itertools.chain([first], it)),
                    codec=codec)
            fsutil.put_file(dest, tmp)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        yield pa.RecordBatch.from_pylist(
            [{"file": dest, "n_rows": n}], schema=summary)

    res = df.mapInArrow(_write, "file string, n_rows long") \
        .toArrow().to_pylist()
    return {"files": sorted(r["file"] for r in res),
            "n_rows": sum(r["n_rows"] for r in res)}


def stage_csv(spark: SparkSession, inputs: str | list[str],
              staging_dir: str, schema_ddl: str | None = None,
              bad_file_threshold: float = 0.0,
              compression: str = "zstd",
              delimiter: str | None = None) -> dict:
    """CSV/TSV variant of :func:`stage_jsonl` — same idempotent
    staged-tree contract over ``.csv``/``.tsv``[.gz] files (header row
    required; ``delimiter`` defaults per extension: tab for ``.tsv``,
    comma otherwise). With ``schema_ddl``, listed columns coerce to the
    declared types, extra columns are dropped, and columns absent from
    a file become nulls — the same uniform-schema guarantee as the
    JSONL path."""
    return _stage_files(spark, inputs, staging_dir, "csv", schema_ddl,
                        bad_file_threshold, compression, delimiter)


def _stage_files(spark: SparkSession, inputs: str | list[str],
                 staging_dir: str, fmt: str, schema_ddl: str | None,
                 bad_file_threshold: float, compression: str,
                 delimiter: str | None) -> dict:
    files = (inputs if isinstance(inputs, list)
             else _list_files(inputs, _EXTS[fmt]))
    if not files:
        raise FileNotFoundError(f"no {fmt.upper()} files under {inputs}")
    arrow_schema = None
    if schema_ddl is not None:
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(
            spark.createDataFrame([], schema_ddl).schema)
    schema_ser = arrow_schema.serialize().to_pybytes() \
        if arrow_schema is not None else None
    base = staging_dir.rstrip("/")
    fsutil.makedirs_any(base)
    local = fsutil.is_local(base)

    def _stage(_pid, files):
        import pyarrow.parquet as pq
        schema = (pa.ipc.read_schema(pa.py_buffer(schema_ser))
                  if schema_ser is not None else None)
        for src in files.column("path").to_pylist():
            staged = f"{base}/{staged_name(src)}"
            try:
                src_size = fsutil.file_size(src)
                if fsutil.exists(staged) and \
                        fsutil.file_size(staged) > 0:
                    meta = (fsutil.parquet_file(staged)
                            .schema_arrow.metadata or {})
                    rec = meta.get(b"spark_graft_src_size")
                    if rec is not None and int(rec) != src_size:
                        # a mutated source under an idempotent
                        # staged name would silently lose rows (a
                        # skip) or duplicate them (a re-stage after
                        # the old bytes were already encoded) —
                        # refuse loudly instead
                        raise RuntimeError(
                            f"source changed since staged "
                            f"({int(rec)} -> {src_size} bytes): "
                            "the drop-directory contract is "
                            f"immutable files; remove {staged} AND "
                            "re-encode into a fresh tree to pick "
                            "up the new content")
                    yield pa.RecordBatch.from_pylist(
                        [{"source": src, "staged": staged,
                          "n_rows": 0, "skipped": True,
                          "error": None}], schema=STAGE_SUMMARY_SCHEMA)
                    continue
                tbl = (_read_jsonl_table(src, schema)
                       if fmt == "jsonl"
                       else _read_avro_table(src, schema)
                       if fmt == "avro"
                       else _read_orc_table(src, schema)
                       if fmt == "orc"
                       else _read_csv_table(src, schema, delimiter))
                # record the source identity the skip check needs
                tbl = tbl.replace_schema_metadata(
                    {**(tbl.schema.metadata or {}),
                     b"spark_graft_src_size":
                         str(src_size).encode()})
                if local:
                    tmp = f"{base}/.{uuid.uuid4().hex}.tmp"
                    pq.write_table(tbl, tmp, compression=compression)
                    os.replace(tmp, staged)
                else:
                    spool_base = (os.environ
                                  .get("SPARK_LOCAL_DIRS", "")
                                  .split(",")[0].strip()
                                  or tempfile.gettempdir())
                    tmp = os.path.join(
                        spool_base, f".stage-{uuid.uuid4().hex}")
                    try:
                        pq.write_table(tbl, tmp,
                                       compression=compression)
                        fsutil.put_file(staged, tmp)
                    finally:
                        if os.path.exists(tmp):
                            os.remove(tmp)
                yield pa.RecordBatch.from_pylist(
                    [{"source": src, "staged": staged,
                      "n_rows": tbl.num_rows, "skipped": False,
                      "error": None}], schema=STAGE_SUMMARY_SCHEMA)
            except Exception as exc:  # noqa: BLE001
                yield pa.RecordBatch.from_pylist(
                    [{"source": src, "staged": None, "n_rows": 0,
                      "skipped": False,
                      "error": f"{type(exc).__name__}: {exc}"}],
                    schema=STAGE_SUMMARY_SCHEMA)

    cost = _AVRO_BYTE_COST if fmt == "avro" else 1
    summary = run_file_tasks(spark, [(f,) for f in files],
                             _STAGE_ROWS_SCHEMA, _stage,
                             STAGE_SUMMARY_SCHEMA,
                             weights=[cost * size for size
                                      in fsutil.file_sizes(files)])
    rows = summary.to_pylist()
    by_src = {r["source"]: r for r in rows}
    errors = [(r["source"], r["error"]) for r in rows if r["error"]]
    if len(errors) > len(files) * bad_file_threshold:
        raise RuntimeError(
            f"{len(errors)}/{len(files)} {fmt.upper()} files failed "
            "to stage, "
            f"exceeds bad_file_threshold={bad_file_threshold}: "
            f"{errors[:3]}")
    staged = [by_src[f]["staged"] for f in files
              if by_src[f]["error"] is None]
    return {"files": staged,
            "n_rows": sum(r["n_rows"] for r in rows),
            "n_staged": sum(1 for r in rows
                            if not r["skipped"] and not r["error"]),
            "n_skipped": sum(1 for r in rows if r["skipped"]),
            "errors": errors}


__all__ = ["stage_jsonl", "stage_csv", "stage_avro", "stage_orc",
           "export_avro", "staged_name", "STAGE_SUMMARY_SCHEMA"]
