"""File-granular table sources for ``encode_path(input_files=...)``.

The north rule names Iceberg tables of pre-tokenized sequences as the
input. Besides plain Parquet trees (listed by ``encode_path`` itself),
two table layouts resolve to data-file lists here, with no runtime jar:

- ``table_files_from_metadata`` reads an Iceberg table's own metadata
  (metadata.json -> manifest list -> manifests, pure-Python Avro in
  ``iceberg_meta.py``) and returns a snapshot's data files —
  snapshot-consistent file-granular encode with merge-on-read refusal;
- ``hive_partitioned_files`` scans a ``key=value`` directory tree and
  re-injects the partition values as constant columns.
"""

from __future__ import annotations


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
