"""Pluggable table source: Iceberg catalog table or plain Parquet path.

The north rule names Iceberg tables of pre-tokenized sequences as the
input. Three paths, identical DataFrame/file shape:

- Iceberg catalog via the Spark runtime jar when present
  (``read_tokens_table(..., fmt="iceberg")``);
- **Iceberg table format WITHOUT the jar**:
  ``table_files_from_metadata`` reads the table's own metadata
  (metadata.json -> manifest list -> manifests, pure-Python Avro in
  ``iceberg_meta.py``) and returns the current snapshot's data files
  for ``encode_path(input_files=...)`` — snapshot-consistent
  file-granular encode with merge-on-read refusal;
- plain Parquet trees.

The original plugin notes (kept for the jar path):

- ``read_tokens_table(spark, "db.tokens", fmt="iceberg")`` — catalog table
  via the Iceberg Spark runtime when present;
- ``read_tokens_table(spark, "/data/tokens")`` — Parquet file tree.

For the file-granular encode path, ``table_files`` exposes the table's
current data-file snapshot (``DataFrame.inputFiles`` — for Iceberg this is
the planned file scan of the current snapshot, the same per-file unit the
reference fans out on, ``ParquetHadoopInputPlugin.java:85-119``).
Copy-on-write Iceberg tables' data files are plain Parquet and feed
``encode_path`` directly; merge-on-read tables with row-level delete files
must go through the DataFrame path (``encode_df``) so the Iceberg reader
applies the deletes — ``table_files`` raises if it detects that case is
possible and ``allow_mor`` is not set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        # py4j resolves missing packages lazily; Class.forName is definitive
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.SparkTable")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_tokens_table(spark: SparkSession, ref: str,
                      fmt: str | None = None) -> DataFrame:
    """Load the tokens table from an Iceberg identifier or a Parquet path.

    ``fmt``: "iceberg" | "parquet" | None (auto: path-like refs -> parquet,
    dotted identifiers -> iceberg when the runtime is on the classpath).
    """
    if fmt is None:
        looks_like_path = "/" in ref or ref.endswith(".parquet")
        fmt = "parquet" if looks_like_path or not iceberg_available(spark) \
            else "iceberg"
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg runtime not on the Spark classpath; add "
                "org.apache.iceberg:iceberg-spark-runtime or pass a "
                "parquet path")
        return spark.read.format("iceberg").load(ref)
    if fmt == "parquet":
        return spark.read.parquet(ref)
    raise ValueError(f"unknown source format {fmt!r}")


def table_files(df: DataFrame, allow_mor: bool = False) -> list[str]:
    """Data files of the table's current snapshot, for ``encode_path``.

    Raises for Iceberg merge-on-read inputs unless ``allow_mor`` — reading
    those data files directly would resurrect deleted rows; use
    ``encode_df`` on the DataFrame instead.
    """
    from ..plans.pipeline import spark_input_files
    files = sorted(spark_input_files(df))
    non_parquet = [f for f in files if not f.endswith(".parquet")]
    if non_parquet and not allow_mor:
        raise ValueError(
            f"non-parquet data files in scan (merge-on-read deletes?): "
            f"{non_parquet[:3]} — encode via encode_df instead")
    return files


def hive_partitioned_files(root: str,
                           partition_types: dict[str, str] | None = None
                           ) -> tuple[list[str], dict, dict]:
    """Scan a Hive-partitioned Parquet tree (``key=value`` directory
    segments) into the encode inputs: ``(files, const_columns,
    const_schema)`` for ``encode_path(input_files=, const_columns=,
    const_schema=)``.

    Partition values live only in the directory names — a direct
    per-file read drops them — so they are re-injected as typed
    constant columns, the same mechanism Delta partition values use
    (``delta_meta.partition_const_columns``). Values are URL-unquoted;
    Hive's ``__HIVE_DEFAULT_PARTITION__`` becomes NULL.

    ``partition_types`` ({column: ``pipeline._CONST_TYPES`` key})
    declares value types; unlisted columns stay strings (Hive's own
    on-disk representation). Files whose segments disagree on the
    partition-key SET raise — a half-partitioned tree is a layout bug,
    not data. Hidden files/dirs (``.``/``_`` prefixes) are skipped like
    the reference's glob (`ParquetHadoopInputPlugin.java:204-239`).
    """
    from urllib.parse import unquote as _unquote

    from ..plans import fsutil

    base = root.rstrip("/")
    files: list[str] = []
    const_columns: dict[str, dict] = {}
    key_sets: set[tuple] = set()

    def _walk(d: str, parts: dict):
        for name in sorted(fsutil.listdir(d)):
            if name.startswith((".", "_")):
                continue
            p = f"{d}/{name}"
            if fsutil.isdir(p):
                if "=" in name:
                    k, _, v = name.partition("=")
                    v = _unquote(v)
                    sub = dict(parts)
                    sub[_unquote(k)] = (None if v ==
                                        "__HIVE_DEFAULT_PARTITION__"
                                        else v)
                    _walk(p, sub)
                else:
                    _walk(p, parts)
            elif name.endswith(".parquet"):
                files.append(p)
                const_columns[p] = dict(parts)
                key_sets.add(tuple(sorted(parts)))

    _walk(base, {})
    if not files:
        raise FileNotFoundError(f"no parquet files under {root}")
    if len(key_sets) > 1:
        raise ValueError(
            f"inconsistent partition-key sets under {root}: "
            f"{sorted(key_sets)} — every data file must sit under the "
            "same partition columns")
    keys = sorted(next(iter(key_sets)))
    const_schema = {k: (partition_types or {}).get(k, "string")
                    for k in keys}

    def _conv(v, t):
        if v is None or t == "string":
            return v
        if t.startswith("int"):
            return int(v)
        if t.startswith("float"):
            return float(v)
        if t == "bool":
            return v.lower() == "true"
        return v  # date32: ISO string, cast lands in-task
    const_columns = {f: {k: _conv(pv[k], const_schema[k]) for k in pv}
                     for f, pv in const_columns.items()}
    return files, const_columns, const_schema


def table_files_from_metadata(table_dir: str,
                              snapshot_id: int | None = None) -> list[str]:
    """Data files of an Iceberg table's snapshot WITHOUT the runtime jar:
    reads the table format itself (metadata.json -> manifest list ->
    manifests) via the pure-Python Avro layer. Feed the result to
    ``encode_path(input_files=...)`` for a snapshot-consistent
    file-granular encode. Raises for merge-on-read snapshots (delete
    files) — see ``sources.iceberg_meta``."""
    from . import iceberg_meta
    return iceberg_meta.snapshot_data_files(table_dir, snapshot_id)
