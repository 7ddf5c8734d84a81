"""Iceberg table-metadata reader (no Iceberg runtime jar needed).

The north rule's input is "Iceberg tables of pre-tokenized training
sequences". The sandbox has no iceberg-spark-runtime on the classpath
(``table.py`` handles that path when one exists); this module reads the
TABLE FORMAT itself — the public Iceberg spec
(https://iceberg.apache.org/spec/) — with the pure-Python Avro layer in
``avro_io.py``:

    metadata/version-hint.text -> vN.metadata.json -> current snapshot
      -> manifest list (avro) -> manifests (avro) -> data files

``snapshot_data_files`` returns the current snapshot's live data-file
paths, which feed ``encode_path(input_files=...)`` directly — the same
file-granular fan-out the engine uses for plain Parquet trees, now
snapshot-consistent: concurrent commits after the metadata read cannot
change the file set mid-job (Iceberg files are immutable; a snapshot is
a frozen list).

Merge-on-read: a snapshot whose manifests carry POSITION deletes (spec
v2 ``content`` 1) is handled by ``snapshot_scan``, which returns the
data files plus a {data_file: [position-delete files]} mapping that
``encode_path(row_deletes=...)`` applies row-positionally inside each
encode task — reading the data files without it would resurrect deleted
rows, so the strict ``snapshot_data_files`` still refuses any MOR
snapshot. EQUALITY deletes (``content`` 2) identify rows by column
value; ``snapshot_scan`` resolves their ``equality_ids`` to column
names through the table schema, scopes them by sequence number (a
delete applies to data files whose data sequence number is strictly
lower, per spec), and returns an ``equality_deletes`` mapping that
``encode_path(eq_deletes=...)`` applies value-wise inside each encode
task. Equality deletes written with an unpartitioned spec (empty or
absent ``partition`` record) apply globally; PARTITION-SCOPED ones
(a non-empty ``partition`` record) apply only to data files of the
same partition spec with an equal partition tuple, per spec — a data
file whose manifest carries no partition record while a same-spec
scoped delete is in sequence scope is unresolvable and raises.

Iceberg v3 DELETION VECTORS — position deletes stored as one roaring
bitmap per data file inside PUFFIN containers (delete entries with
``file_format: PUFFIN``) — decode natively via ``puffin.py``: the scan
maps each DV blob to its data file (from the manifest's
``referenced_data_file``/``content_offset``/``content_size_in_bytes``
fields, falling back to the puffin footer) and hands it down the SAME
``row_deletes`` mapping as a ``puffin:{json}`` descriptor; the encode
task ranged-reads just its own blob. Per spec a data file has at most
one DV, and when one exists it supersedes any parquet position-delete
files targeting that file.

``write_table_fixture`` writes a minimal spec-shaped table (v2
metadata.json + manifest list + one manifest per data file) over
existing Parquet files, so tests exercise the real layout end to end.
It is a test fixture generator, not a production writer: it fills only
the fields this reader (and a file-level scan) needs.
"""

from __future__ import annotations

import json
import os
import uuid

from ..plans import fsutil
from . import avro_io

# Avro schemas for the fixture writer: the subset of the spec's manifest
# / manifest-list fields a file-granular scan needs. Readers of OUR
# fixtures and of real tables both go through the file's own embedded
# writer schema, so real tables' richer schemas decode fine too.
_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 515},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
    ]}

def _manifest_schema(partition_fields: list[tuple[str, str]] | None = None,
                     with_equality_ids: bool = False,
                     with_dv_fields: bool = False) -> dict:
    """Manifest-entry schema; ``partition_fields`` [(name, avro_type)]
    adds the spec's per-file ``partition`` record (``r102``), which is
    what metadata-level partition pruning reads; ``with_equality_ids``
    adds the equality-delete key field-id list (spec field-id 135);
    ``with_dv_fields`` adds the v3 deletion-vector fields
    (``referenced_data_file`` 143, ``content_offset`` 144,
    ``content_size_in_bytes`` 145)."""
    df_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
    ]
    if partition_fields:
        df_fields.append({"name": "partition", "field-id": 102, "type": {
            "type": "record", "name": "r102", "fields": [
                {"name": nm, "type": ["null", t]}
                for nm, t in partition_fields]}})
    df_fields += [
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ]
    if with_equality_ids:
        df_fields.append({"name": "equality_ids", "field-id": 135,
                          "type": ["null", {"type": "array",
                                            "items": "int",
                                            "element-id": 136}]})
    if with_dv_fields:
        df_fields += [
            {"name": "referenced_data_file", "type": ["null", "string"],
             "field-id": 143},
            {"name": "content_offset", "type": ["null", "long"],
             "field-id": 144},
            {"name": "content_size_in_bytes", "type": ["null", "long"],
             "field-id": 145},
        ]
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 3},
        {"name": "data_file", "field-id": 2,
         "type": {"type": "record", "name": "r2", "fields": df_fields}},
    ]}


_MANIFEST_SCHEMA = _manifest_schema()

_STATUS_DELETED = 2
_CONTENT_DATA = 0
_CONTENT_POS_DELETES = 1
_CONTENT_EQ_DELETES = 2


class IcebergMetaError(ValueError):
    pass


def _part_eq(manifest_value, filter_value) -> bool:
    """Partition equality with type coercion toward the MANIFEST value's
    type: CLI filters arrive as strings (``--partition year=2024``) while
    the manifest stores typed values — a strict ``!=`` would prune every
    file of an int-typed partition and report an empty table."""
    if manifest_value == filter_value:
        return True
    if isinstance(manifest_value, bool):
        return str(manifest_value).lower() == str(filter_value).lower()
    if isinstance(manifest_value, int) and not isinstance(filter_value,
                                                          bool):
        try:
            return manifest_value == int(filter_value)
        except (TypeError, ValueError):
            return False
    return str(manifest_value) == str(filter_value)


def _latest_metadata(table_dir: str) -> str:
    """Path (or URI — every metadata read routes through ``fsutil``, so
    tables living on object stores / HDFS scan exactly like local ones)
    of the table's current metadata.json."""
    metadata_dir = f"{table_dir.rstrip('/')}/metadata"
    hint = f"{metadata_dir}/version-hint.text"
    if fsutil.exists(hint):
        v = fsutil.read_bytes(hint).decode().strip()
        path = f"{metadata_dir}/v{v}.metadata.json"
        if fsutil.exists(path):
            return path
    cands = sorted(
        (f for f in fsutil.listdir(metadata_dir)
         if f.endswith(".metadata.json")),
        key=lambda f: (len(f), f))
    if not cands:
        raise IcebergMetaError(f"no metadata.json under {metadata_dir}")
    return f"{metadata_dir}/{cands[-1]}"


def _resolve(table_dir: str, location: str, path: str) -> str:
    """Manifest paths are absolute URIs of the writer's filesystem; remap
    them under ``table_dir`` via the table location prefix so a table
    copied/downloaded to a local path still resolves."""
    if path.startswith("file:"):
        path = path[len("file:"):]
    loc = location
    if loc.startswith("file:"):
        loc = loc[len("file:"):]
    if path.startswith(loc.rstrip("/") + "/"):
        return os.path.join(table_dir, path[len(loc.rstrip("/")) + 1:])
    return path


def read_table_meta(table_dir: str) -> dict:
    """Parsed current metadata.json of an Iceberg table directory
    (local path or any fsutil-supported URI)."""
    return fsutil.read_json(_latest_metadata(table_dir))


def _schema_fields_by_id(meta: dict) -> dict[int, dict]:
    """{field id: field record} of the table's CURRENT schema — what
    resolves an equality delete's ``equality_ids`` to the key columns
    (name AND type: equality keys must be primitive per the spec, and
    the type gates that refusal at planning time rather than as an
    unhashable-type crash inside a task). Top-level fields only
    (nested-field equality keys are beyond a file-granular scan and
    surface as a missing-id error)."""
    schemas = meta.get("schemas") or []
    cur = meta.get("current-schema-id")
    schema = None
    if cur is not None:
        schema = next((s for s in schemas
                       if s.get("schema-id") == cur), None)
    if schema is None and len(schemas) == 1:
        schema = schemas[0]
    if schema is None:
        schema = meta.get("schema")  # v1 single-schema layout
    if not schema:
        return {}
    return {f["id"]: f for f in schema.get("fields", [])
            if "id" in f and "name" in f}


def resolve_ref(table_dir: str, ref: str) -> int:
    """Snapshot id of a named BRANCH or TAG from the table metadata's
    ``refs`` map (Iceberg v2 named references — ``main`` is the
    default branch; tags pin audit/reproducibility points). Feed the
    result to any ``snapshot_id=`` parameter: time travel by name
    instead of by raw id."""
    meta = read_table_meta(table_dir)
    refs = meta.get("refs") or {}
    if ref not in refs:
        raise IcebergMetaError(
            f"ref {ref!r} not found in {table_dir} "
            f"(have {sorted(refs)})")
    sid = refs[ref].get("snapshot-id")
    if sid is None:
        raise IcebergMetaError(
            f"ref {ref!r} in {table_dir} carries no snapshot-id")
    return int(sid)


def snapshot_at_timestamp(table_dir: str, ts_ms: int) -> int:
    """Latest snapshot committed at or before ``ts_ms`` (each snapshot
    record carries ``timestamp-ms``) — Iceberg's ``as-of-timestamp``
    resolution; feed the result to any ``snapshot_id=`` parameter.
    Refuses a timestamp before the first snapshot, and refuses a table
    whose snapshot records carry no timestamps (old/hand-rolled
    metadata) rather than guessing."""
    meta = read_table_meta(table_dir)
    snaps = meta.get("snapshots", [])
    stamped = [(s["timestamp-ms"], s["snapshot-id"])
               for s in snaps if s.get("timestamp-ms") is not None]
    if not stamped:
        raise IcebergMetaError(
            f"no snapshot in {table_dir} carries timestamp-ms — "
            "timestamp time travel is undecidable; use snapshot_id=")
    ok = [(t, sid) for t, sid in stamped if t <= ts_ms]
    if not ok:
        raise IcebergMetaError(
            f"timestamp {ts_ms} precedes the first snapshot "
            f"({min(t for t, _ in stamped)}) of {table_dir}")
    return max(ok)[1]


def _scan(table_dir: str, snapshot_id: int | None,
          partition_filter: dict | None) -> dict:
    """Raw snapshot scan: ``{"data": [(path, seq, spec_id, partition)],
    "pos_deletes": [path], "eq_deletes": [{path, seq, equality_ids,
    partition, spec_id}]}``.

    Walks manifest list -> manifests; data entries prune by
    ``partition_filter`` (equality at the metadata level). Delete
    manifests (spec v2 manifest-list ``content`` 1) are read the same
    way; position-delete files are ``data_file.content`` 1, equality
    deletes ``content`` 2. Sequence numbers follow the spec's
    inheritance: a null entry ``sequence_number`` inherits the manifest
    list record's; absent entirely (pre-v2 metadata) they stay None and
    equality-delete scoping refuses downstream.
    """
    meta = read_table_meta(table_dir)
    snap_id = snapshot_id if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snap_id is None or snap_id == -1 or snap_id not in snaps:
        raise IcebergMetaError(
            f"snapshot {snap_id!r} not found in {table_dir} "
            f"(have {sorted(snaps)})")
    snap = snaps[snap_id]
    location = meta.get("location", table_dir)
    mlist_path = _resolve(table_dir, location, snap["manifest-list"])
    _, manifests = avro_io.read_avro_bytes(
        fsutil.read_bytes(mlist_path), name=mlist_path)
    data: list[tuple[str, int | None, int | None, dict | None]] = []
    pos_deletes: list[str] = []
    eq_deletes: list[dict] = []
    dvs: list[dict] = []
    for m in manifests:
        man_path = _resolve(table_dir, location, m["manifest_path"])
        spec_id = m.get("partition_spec_id")
        _, entries = avro_io.read_avro_bytes(
            fsutil.read_bytes(man_path), name=man_path)
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            content = df.get("content", _CONTENT_DATA)
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number")
            fmt = df.get("file_format", "PARQUET").upper()
            path = _resolve(table_dir, location, df["file_path"])
            if fmt == "PUFFIN" and content == _CONTENT_POS_DELETES:
                # Iceberg v3 deletion vector: one roaring bitmap of
                # deleted positions per referenced data file, stored as
                # a puffin blob. v3 manifests carry the mapping inline
                # (field ids 143-145); pre-v3-shaped entries fall back
                # to the puffin footer in snapshot_scan.
                dvs.append({
                    "path": path, "seq": seq,
                    "referenced": df.get("referenced_data_file"),
                    "offset": df.get("content_offset"),
                    "size": df.get("content_size_in_bytes"),
                })
                continue
            if fmt != "PARQUET":
                raise IcebergMetaError(
                    f"non-parquet file ({fmt}): {df['file_path']}")
            if content == _CONTENT_EQ_DELETES:
                eq_deletes.append({
                    "path": path, "seq": seq,
                    "equality_ids": df.get("equality_ids"),
                    "partition": df.get("partition"),
                    "spec_id": spec_id,
                })
                continue
            if content == _CONTENT_POS_DELETES:
                pos_deletes.append(path)
                continue
            if partition_filter:
                part = df.get("partition")
                if isinstance(part, dict) and any(
                        k in part and not _part_eq(part[k], v)
                        for k, v in partition_filter.items()):
                    continue
            data.append((path, seq, spec_id, df.get("partition")))
    data.sort(key=lambda t: t[0])
    pos_deletes.sort()
    eq_deletes.sort(key=lambda d: d["path"])
    dvs.sort(key=lambda d: (d["path"], d.get("offset") or 0))
    return {"data": data, "pos_deletes": pos_deletes,
            "eq_deletes": eq_deletes, "dvs": dvs, "meta": meta}


def snapshot_data_files(table_dir: str,
                        snapshot_id: int | None = None,
                        partition_filter: dict | None = None) -> list[str]:
    """Live data-file paths of a snapshot (default: current).

    ``partition_filter`` ({field: value}) prunes at the METADATA level:
    a file is kept only if its manifest ``partition`` record matches
    every given field by equality — Iceberg scan planning's core move,
    skipping data files without touching them (at 100 TB this is the
    difference between listing 400k files and listing one partition's
    slice). Files whose manifests carry no partition record (unknown
    layout) are KEPT — pruning may only ever widen, never drop data it
    cannot prove out of scope.

    Raises ``IcebergMetaError`` for merge-on-read snapshots (any delete
    files present, position OR equality) — this is the strict COW-only
    entry point whose file list alone fully describes the snapshot;
    ``snapshot_scan`` is the MOR-aware one (deletes applied at encode).
    """
    scan = _scan(table_dir, snapshot_id, partition_filter)
    if scan["pos_deletes"] or scan["eq_deletes"] or scan["dvs"]:
        # strict COW gate
        raise IcebergMetaError(
            f"snapshot carries {len(scan['pos_deletes'])} position-, "
            f"{len(scan['eq_deletes'])} equality-DELETE file(s) and "
            f"{len(scan['dvs'])} deletion vector(s) (merge-on-read) — "
            "use snapshot_scan(), which returns the per-data-file "
            "delete mappings for encode_path(row_deletes=/eq_deletes"
            "=...)")
    return [t[0] for t in scan["data"]]


def snapshot_scan(table_dir: str,
                  snapshot_id: int | None = None,
                  partition_filter: dict | None = None) -> dict:
    """MOR-aware scan plan: ``{"data_files": [...], "position_deletes":
    {data_file_path: [delete_file_paths]}, "equality_deletes":
    {data_file_path: [{"path": ..., "columns": [...]}]}}``.

    Position-delete files (Parquet, spec columns ``file_path``/``pos``)
    are mapped to the data files they reference by reading ONLY their
    ``file_path`` column here (dictionary-encoded in practice — tiny);
    the ``pos`` values are read later, inside the encode task that owns
    each data file, with a ``file_path ==`` filter pushed to the delete
    file's row groups (sorted by (file_path, pos) per spec, so that
    filter prunes). Planning cost stays O(metadata), per-task cost
    O(that file's deletes).

    v3 deletion vectors join the same ``position_deletes`` mapping as
    ``puffin:{json}`` descriptor strings (path + blob offset/length) —
    ``_read_delete_positions`` ranged-reads and CRC-checks the roaring
    blob inside the owning task. A file with a DV gets ONLY the DV
    (the spec requires a DV to carry all deleted positions and readers
    to ignore older position-delete files for that file); two DVs
    referencing one data file raise.

    Equality-delete files (Parquet holding the key columns themselves)
    are scoped per spec: a delete applies to every data file whose data
    sequence number is STRICTLY lower than the delete's. ``equality_ids``
    resolve to column names via the table's current schema. A delete
    written with an unpartitioned spec (empty/absent ``partition``
    record) is GLOBAL; a partition-scoped one (non-empty ``partition``
    record, null values included — a null partition key is still one
    partition) applies only to data files of the SAME partition spec id
    whose partition tuple is equal, per the spec's "same partition of
    the same partition spec" rule. Raises for anything it cannot apply
    exactly: missing ``equality_ids``, a field id absent from the
    schema's top level, missing sequence numbers on either side
    (unscopable), or a sequence-in-scope same-spec data file carrying NO
    partition record (membership undecidable — skipping could resurrect
    deleted rows, applying could delete live ones). Feed the mapping to
    ``encode_path(eq_deletes=...)``.

    Data files never referenced by any delete get no mapping entry; a
    partition-pruned data file's deletes are dropped with it.
    """
    scan = _scan(table_dir, snapshot_id, partition_filter)
    files = [t[0] for t in scan["data"]]
    live = set(files)
    meta = scan["meta"]
    location = meta.get("location", table_dir)
    deletes: dict[str, list[str]] = {}
    if scan["pos_deletes"]:
        for dp in scan["pos_deletes"]:
            refs = fsutil.read_parquet(dp, columns=["file_path"])
            for ref in refs.column("file_path").unique().to_pylist():
                target = _resolve(table_dir, location, ref)
                if target in live:
                    deletes.setdefault(target, []).append(dp)
    if scan["dvs"]:
        from . import puffin
        dv_map: dict[str, str] = {}
        for dv in scan["dvs"]:
            if (dv["referenced"] is not None and dv["offset"] is not None
                    and dv["size"] is not None):
                blobs = [{"referenced": dv["referenced"],
                          "offset": int(dv["offset"]),
                          "length": int(dv["size"])}]
            else:
                # manifest entry lacks the v3 DV fields — the puffin
                # footer itself records each blob's referenced data
                # file; two ranged reads, no blob data
                try:
                    blobs = puffin.dv_blobs_from_footer(
                        puffin.read_footer_path(dv["path"]))
                except Exception as e:  # noqa: BLE001
                    raise IcebergMetaError(
                        f"PUFFIN deletion-vector file {dv['path']}: "
                        "manifest entry carries no referenced_data_file"
                        "/content_offset fields and the footer is "
                        f"unreadable ({type(e).__name__}: {e})"
                    ) from None
                if not blobs:
                    raise IcebergMetaError(
                        f"PUFFIN file {dv['path']} referenced by a "
                        "delete manifest holds no deletion-vector-v1 "
                        "blobs")
            for b in blobs:
                target = _resolve(table_dir, location, b["referenced"])
                if target not in live:
                    continue  # pruned or rewritten-away data file
                if target in dv_map:
                    raise IcebergMetaError(
                        f"data file {target} is referenced by more "
                        "than one deletion vector — the v3 spec allows "
                        "at most one DV per data file")
                dv_map[target] = puffin.DV_DESC_PREFIX + json.dumps(
                    {"path": dv["path"], "offset": b["offset"],
                     "length": b["length"]}, sort_keys=True)
        # spec: a DV must contain ALL deleted positions of its data
        # file, and readers apply the DV INSTEAD of any older
        # position-delete parquet targeting that file
        for target, desc in dv_map.items():
            deletes[target] = [desc]
    eq_map: dict[str, list[dict]] = {}
    if scan["eq_deletes"]:
        fields = _schema_fields_by_id(meta)
        descs = []
        for d in scan["eq_deletes"]:
            if not d["equality_ids"]:
                raise IcebergMetaError(
                    f"equality-delete file {d['path']} carries no "
                    "equality_ids — needs a full Iceberg reader")
            if d["seq"] is None:
                raise IcebergMetaError(
                    f"equality-delete file {d['path']} has no sequence "
                    "number — cannot scope which data files it applies "
                    "to")
            try:
                flds = [fields[i] for i in d["equality_ids"]]
            except KeyError as k:
                raise IcebergMetaError(
                    f"equality_ids {d['equality_ids']} of {d['path']}: "
                    f"field id {k} not a top-level field of the table "
                    "schema") from None
            # spec: equality ids reference primitive fields only; a
            # struct/list/map type is a dict in the schema JSON. Record
            # the violation here but refuse only if the delete actually
            # APPLIES to a data file (below) — a fully out-of-scope
            # delete, e.g. shadowed by later rewrites, must not block a
            # snapshot whose effective rows are perfectly computable.
            # Letting an applying one through would surface hours later
            # as an unhashable-type crash inside the encode task.
            nonprim = [fl for fl in flds
                       if not isinstance(fl.get("type"), str)]
            cols = [fl["name"] for fl in flds]
            part = d.get("partition")
            descs.append({"path": d["path"], "columns": cols,
                          "ids": list(d["equality_ids"]),
                          "nonprim": nonprim,
                          "seq": d["seq"], "spec_id": d.get("spec_id"),
                          # empty/absent record = unpartitioned spec =
                          # global; a non-empty record (null values
                          # included) scopes to that one partition
                          "partition": dict(part) if part else None})
        for path, fseq, fspec, fpart in scan["data"]:
            if fseq is None:
                raise IcebergMetaError(
                    f"data file {path} has no sequence number but the "
                    "snapshot carries equality deletes — cannot scope "
                    "which deletes apply")
            applies = []
            for d in descs:
                if d["seq"] <= fseq:
                    continue
                if d["partition"] is not None:
                    if d["spec_id"] != fspec:
                        continue  # other spec: out of scope per spec
                    if not isinstance(fpart, dict):
                        raise IcebergMetaError(
                            f"data file {path} carries no partition "
                            "record but partition-scoped equality-"
                            f"delete file {d['path']} (partition="
                            f"{d['partition']}) is in sequence scope — "
                            "cannot decide membership")
                    if dict(fpart) != d["partition"]:
                        continue
                if d["nonprim"]:
                    fl = d["nonprim"][0]
                    raise IcebergMetaError(
                        f"equality-delete file {d['path']} applies to "
                        f"{path} but is keyed on non-primitive field "
                        f"{fl['name']!r} (id {fl['id']}, type "
                        f"{json.dumps(fl.get('type'))}) — equality "
                        "delete keys must be primitive per the spec")
                applies.append({"path": d["path"],
                                "columns": d["columns"],
                                "ids": d["ids"]})
            if applies:
                eq_map[path] = applies
    return {"data_files": files, "position_deletes": deletes,
            "equality_deletes": eq_map}


def snapshot_scan_diff(table_dir: str, from_snapshot_id: int,
                       to_snapshot_id: int | None = None,
                       partition_filter: dict | None = None) -> dict:
    """MOR-aware incremental scan plan: data files live in ``to``
    (default: current) but not in ``from``, with the ``to`` snapshot's
    position-/equality-delete mappings restricted to those files — the
    CDC-style ingest unit for merge-on-read tables. Feed to
    ``encode_path(input_files=..., row_deletes=..., eq_deletes=...,
    append=True)``.

    Refuses (``IcebergMetaError``) when the ``to`` snapshot changes the
    effective rows of a file already encoded from ``from``: an
    append-only encode tree cannot retract rows it has already
    committed, and silently skipping the change would serve rows the
    table no longer has. That covers new deletes arriving on old files,
    a delete mapping that shrank (rows resurrected), AND a data file
    REMOVED between the snapshots (COW deletes, compaction, and
    delete-applying rewrites all land as removals — re-encoding the
    rewritten file would duplicate its live rows while any
    newly-retracted rows stay served from the committed chunks).
    Such tables need a fresh full encode (or a downstream anti-join).

    On an append-only COW table this degenerates to the live-file set
    difference with empty mappings, so callers can use it
    unconditionally. Cost: two metadata reads plus the delete-file
    ``file_path``-column reads of both scans.
    """
    old = snapshot_scan(table_dir, from_snapshot_id, partition_filter)
    new = snapshot_scan(table_dir, to_snapshot_id, partition_filter)
    old_files = set(old["data_files"])
    new_files = set(new["data_files"])
    removed = sorted(old_files - new_files)
    if removed:
        raise IcebergMetaError(
            f"data file(s) live at snapshot {from_snapshot_id} were "
            f"removed by snapshot "
            f"{to_snapshot_id if to_snapshot_id is not None else 'current'}"
            f" (first: {removed[0]}, {len(removed)} total) — a rewrite/"
            "compaction/COW-delete retracts or re-homes rows an "
            "append-only encode tree has already committed; re-encode "
            "the snapshot in full instead of diffing")
    added = [f for f in new["data_files"] if f not in old_files]
    added_set = set(added)

    def _norm(mapping, f):
        entries = mapping.get(f, [])
        return sorted(entries, key=repr)

    for f in new["data_files"]:
        if f in added_set:
            continue
        for kind in ("position_deletes", "equality_deletes"):
            if _norm(new[kind], f) != _norm(old[kind], f):
                raise IcebergMetaError(
                    f"{kind.replace('_', ' ')} of already-live data file "
                    f"{f} changed between snapshots {from_snapshot_id} "
                    f"and {to_snapshot_id if to_snapshot_id is not None else 'current'} — an append-only encode tree cannot "
                    "retract committed rows; re-encode the snapshot in "
                    "full instead of diffing")
    return {
        "data_files": added,
        "position_deletes": {f: v for f, v in
                             new["position_deletes"].items()
                             if f in added_set},
        "equality_deletes": {f: v for f, v in
                             new["equality_deletes"].items()
                             if f in added_set},
    }


def _fixture_abs(p: str) -> str:
    """Fixture paths: URIs stay as-is, local paths become absolute."""
    return p if "://" in p else os.path.abspath(p)


def _fixture_size(p: str) -> int:
    if "://" not in p:
        return os.path.getsize(p)
    filesystem, root = fsutil.get_fs(p)
    return int(filesystem.get_file_info(root).size)


def _write_pos_delete_parquet(data_dir: str,
                              position_deletes: dict[str, list[int]]
                              ) -> tuple[str, int]:
    """Spec-shaped position-delete Parquet (``file_path``/``pos``,
    sorted); returns (path, n_rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(data_dir, exist_ok=True)
    rows = sorted((_fixture_abs(p), int(x))
                  for p, xs in position_deletes.items() for x in xs)
    del_path = os.path.join(data_dir,
                            f"pos-del-{uuid.uuid4().hex}.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([r[0] for r in rows], type=pa.string()),
        "pos": pa.array([r[1] for r in rows], type=pa.int64()),
    }), del_path)
    return del_path, len(rows)


def _pos_delete_manifest(metadata_dir: str, snapshot_id: int,
                         sequence_number: int,
                         delete_files: list[tuple[str, int]]) -> dict:
    """Delete manifest (content 1) referencing existing position-delete
    parquet files; returns the manifest-list record for it."""
    del_man = os.path.join(metadata_dir, f"del-{uuid.uuid4().hex}.avro")
    avro_io.write_avro(del_man, _MANIFEST_SCHEMA, [{
        "status": 1, "snapshot_id": snapshot_id,
        "sequence_number": None,
        "data_file": {
            "content": 1,
            "file_path": dp,
            "file_format": "PARQUET",
            "record_count": n,
            "file_size_in_bytes": os.path.getsize(dp),
        }} for dp, n in delete_files])
    return {
        "manifest_path": del_man,
        "manifest_length": os.path.getsize(del_man),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": sequence_number,
        "added_snapshot_id": snapshot_id,
    }


def _write_snapshot(metadata_dir: str, snapshot_id: int,
                    parquet_files: list[str],
                    record_counts: list[int],
                    delete_files: list[tuple[str, int]] | None = None
                    ) -> str:
    """Manifest + manifest list for one snapshot; returns the list path.
    ``delete_files`` ([(pos-delete parquet path, n_rows)]) adds a delete
    manifest so historical snapshots can be MOR too."""
    entries = [{
        "status": 1, "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherited from the manifest list
        "data_file": {
            "content": 0,
            "file_path": _fixture_abs(p),
            "file_format": "PARQUET",
            "record_count": int(n),
            "file_size_in_bytes": _fixture_size(p),
        }} for p, n in zip(parquet_files, record_counts)]
    man_path = os.path.join(metadata_dir, f"man-{uuid.uuid4().hex}.avro")
    avro_io.write_avro(man_path, _MANIFEST_SCHEMA, entries)
    manifests = [{
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": snapshot_id,
        "added_snapshot_id": snapshot_id,
    }]
    if delete_files:
        manifests.append(_pos_delete_manifest(
            metadata_dir, snapshot_id, snapshot_id + 1, delete_files))
    mlist = os.path.join(metadata_dir, f"snap-{snapshot_id}.avro")
    avro_io.write_avro(mlist, _MANIFEST_LIST_SCHEMA, manifests)
    return mlist


def write_table_fixture(table_dir: str, parquet_files: list[str],
                        record_counts: list[int] | None = None,
                        snapshot_id: int = 1,
                        with_deletes: bool = False,
                        older_snapshots: dict[int, list[str]] | None = None,
                        partitions: list[dict] | None = None,
                        position_deletes: dict[str, list[int]] | None = None,
                        equality_deletes: bool = False,
                        schema_fields: list[str] | None = None,
                        data_sequence_number: int = 1,
                        equality_delete_tables: list[dict] | None = None,
                        deletion_vectors: dict[str, list[int]] | None = None,
                        dv_manifest_fields: bool = True,
                        refs: dict[str, int] | None = None
                        ) -> str:
    """Minimal spec-shaped Iceberg v2 table over existing Parquet files.

    Data files stay where they are (absolute paths in the manifest, as
    real writers do). Returns ``table_dir``. ``with_deletes`` adds a
    positional-delete manifest pointing at a phantom file so tests can
    prove the strict reader's MOR refusal without any delete data;
    ``position_deletes`` ({data_file_path: [row positions]}) writes a
    REAL spec-shaped position-delete Parquet (columns ``file_path``,
    ``pos``, sorted) plus its delete manifest — the ``snapshot_scan`` /
    ``encode_path(row_deletes=)`` MOR path end to end.
    ``equality_deletes`` adds an equality-delete manifest entry (content
    2) with NO equality_ids for the refused case. ``older_snapshots``
    ({snapshot_id: files, or {"files": [...], "position_deletes":
    {data_file: [positions]}}}) records historical snapshots in the
    metadata so time-travel reads (``snapshot_data_files(...,
    snapshot_id=)``) are testable — Iceberg keeps every snapshot's
    manifest list live until expiry; an older snapshot's position
    deletes are carried into the CURRENT snapshot's manifest list too
    (the same delete parquet), as real tables do until compaction.

    ``schema_fields`` ([column names, or (name, type) pairs — type a
    primitive string or a struct/list/map dict]) writes a table schema
    with field ids 1..n — what resolves equality_ids to column names.
    ``data_sequence_number`` is the data manifest's sequence number
    (default 1). ``equality_delete_tables`` writes REAL equality-delete
    files: each dict carries ``table`` (a pyarrow Table of the key
    columns — its column names resolve back to equality_ids via
    ``schema_fields``, or pass explicit ``equality_ids`` so the delete
    parquet's physical names may differ from the current schema, the
    column-rename case), ``sequence_number`` (default
    ``data_sequence_number + 1``), optionally ``partition``
    ({name: value}, making the delete partition-scoped), and optionally
    ``partition_spec_id`` (default 0, the data manifests' spec).

    ``deletion_vectors`` ({data_file_path: [row positions]}) writes a
    REAL Iceberg v3 deletion-vector layout: one puffin file holding one
    ``deletion-vector-v1`` blob (portable roaring64, CRC) per
    referenced data file, plus a delete manifest whose entries carry
    ``file_format: PUFFIN`` and — unless ``dv_manifest_fields=False``
    (exercising the puffin-footer fallback of ``snapshot_scan``) — the
    v3 ``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes`` fields. Sets ``format-version: 3``."""
    metadata_dir = os.path.join(table_dir, "metadata")
    os.makedirs(metadata_dir, exist_ok=True)
    if record_counts is None:
        record_counts = [0] * len(parquet_files)
    snap_records = []
    carried_deletes: list[tuple[str, int]] = []
    for sid, spec in sorted((older_snapshots or {}).items()):
        if isinstance(spec, dict):
            sfiles = spec["files"]
            dels = None
            if spec.get("position_deletes"):
                dp, n = _write_pos_delete_parquet(
                    os.path.join(table_dir, "data"),
                    spec["position_deletes"])
                dels = [(dp, n)]
                # real tables keep delete files live until compaction:
                # the CURRENT snapshot's manifest list references the
                # SAME delete parquet, so snapshot diffs see an
                # unchanged mapping on still-live files
                carried_deletes.append((dp, n))
        else:
            sfiles, dels = spec, None
        ml = _write_snapshot(metadata_dir, sid, sfiles, [0] * len(sfiles),
                             delete_files=dels)
        snap_records.append({"snapshot-id": sid, "manifest-list": ml,
                             # deterministic spec-shaped commit time:
                             # 2024-01-01T00:00:00Z + id seconds
                             "timestamp-ms": 1704067200000 + sid * 1000,
                             "summary": {"operation": "append"}})
    part_fields: list[tuple[str, str]] = []
    if partitions:
        if len(partitions) != len(parquet_files):
            raise ValueError("one partition dict per data file required")
        first = partitions[0]
        part_fields = [
            (k, "long" if isinstance(first[k], int) else "string")
            for k in sorted(first)]
    schema = _manifest_schema(part_fields or None)
    entries = []
    for i, (p, n) in enumerate(zip(parquet_files, record_counts)):
        df_rec = {
            "content": 0,
            "file_path": _fixture_abs(p),
            "file_format": "PARQUET",
            "record_count": int(n),
            "file_size_in_bytes": _fixture_size(p),
        }
        if partitions:
            df_rec["partition"] = {k: partitions[i].get(k)
                                   for k, _t in part_fields}
        entries.append({"status": 1, "snapshot_id": snapshot_id,
                        "sequence_number": None,  # inherit from list
                        "data_file": df_rec})
    man_path = os.path.join(metadata_dir, f"man-{uuid.uuid4().hex}.avro")
    avro_io.write_avro(man_path, schema, entries)
    manifests = [{
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": data_sequence_number,
        "added_snapshot_id": snapshot_id,
    }]
    if with_deletes:
        del_man = os.path.join(metadata_dir, f"del-{uuid.uuid4().hex}.avro")
        avro_io.write_avro(del_man, _MANIFEST_SCHEMA, [{
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": 1,  # position deletes
                "file_path": os.path.abspath(
                    os.path.join(table_dir, "data", "del-0.parquet")),
                "file_format": "PARQUET",
                "record_count": 1,
                "file_size_in_bytes": 0,
            }}])
        manifests.append({
            "manifest_path": del_man,
            "manifest_length": os.path.getsize(del_man),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": data_sequence_number + 1,
            "added_snapshot_id": snapshot_id,
        })
    if position_deletes:
        # one delete file covering all referenced data files, rows sorted
        # by (file_path, pos) as the spec requires — that ordering is what
        # lets the task-side `file_path ==` read prune row groups
        dp, n = _write_pos_delete_parquet(
            os.path.join(table_dir, "data"), position_deletes)
        manifests.append(_pos_delete_manifest(
            metadata_dir, snapshot_id, data_sequence_number + 1, [(dp, n)]))
    if deletion_vectors:
        from . import puffin
        data_dir = os.path.join(table_dir, "data")
        os.makedirs(data_dir, exist_ok=True)
        dv_path = os.path.join(data_dir, f"dv-{uuid.uuid4().hex}.puffin")
        locs = puffin.write_dv_puffin(
            dv_path, {_fixture_abs(p): v
                      for p, v in deletion_vectors.items()},
            snapshot_id=snapshot_id,
            sequence_number=data_sequence_number + 1)
        dv_entries = []
        for ref in sorted(locs):
            rec = {
                "content": 1,
                "file_path": dv_path,
                "file_format": "PUFFIN",
                "record_count": locs[ref]["cardinality"],
                "file_size_in_bytes": os.path.getsize(dv_path),
            }
            if dv_manifest_fields:
                rec["referenced_data_file"] = ref
                rec["content_offset"] = locs[ref]["offset"]
                rec["content_size_in_bytes"] = locs[ref]["length"]
            dv_entries.append({"status": 1, "snapshot_id": snapshot_id,
                               "sequence_number": None,
                               "data_file": rec})
        dv_man = os.path.join(metadata_dir, f"dv-{uuid.uuid4().hex}.avro")
        avro_io.write_avro(
            dv_man, _manifest_schema(with_dv_fields=dv_manifest_fields),
            dv_entries)
        manifests.append({
            "manifest_path": dv_man,
            "manifest_length": os.path.getsize(dv_man),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": data_sequence_number + 1,
            "added_snapshot_id": snapshot_id,
        })
    if equality_deletes:
        eq_man = os.path.join(metadata_dir, f"eqdel-{uuid.uuid4().hex}.avro")
        avro_io.write_avro(eq_man, _MANIFEST_SCHEMA, [{
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": 2,  # equality delete with no equality_ids
                "file_path": os.path.abspath(
                    os.path.join(table_dir, "data", "eq-del-0.parquet")),
                "file_format": "PARQUET",
                "record_count": 1,
                "file_size_in_bytes": 0,
            }}])
        manifests.append({
            "manifest_path": eq_man,
            "manifest_length": os.path.getsize(eq_man),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": data_sequence_number + 1,
            "added_snapshot_id": snapshot_id,
        })
    # schema_fields entries: either a name (type "string") or a
    # (name, type) pair — type may be a primitive string or a dict
    # (struct/list/map JSON, for the non-primitive-key refusal tests)
    _sf = [(nm, "string", False) if isinstance(nm, str) else
           (nm[0], nm[1], nm[2] if len(nm) > 2 else False)
           for nm in (schema_fields or [])]
    field_ids = {nm: i + 1 for i, (nm, _t, _r) in enumerate(_sf)}
    for spec in equality_delete_tables or []:
        import pyarrow.parquet as pq
        tab = spec["table"]
        eq_ids = spec.get("equality_ids")  # explicit override: lets the
        # delete parquet's PHYSICAL column names differ from the current
        # schema's (column-rename fixtures resolve by field id)
        if eq_ids is None:
            try:
                eq_ids = [field_ids[c] for c in tab.column_names]
            except KeyError as k:
                raise ValueError(f"equality-delete column {k} needs "
                                 "schema_fields to carry it") from None
        data_dir = os.path.join(table_dir, "data")
        os.makedirs(data_dir, exist_ok=True)
        del_path = os.path.join(data_dir,
                                f"eq-del-{uuid.uuid4().hex}.parquet")
        pq.write_table(tab, del_path)
        part = spec.get("partition")
        eq_schema = _manifest_schema(
            [(k, "long" if isinstance(v, int) else "string")
             for k, v in sorted(part.items())] if part else None,
            with_equality_ids=True)
        df_rec = {
            "content": 2,
            "file_path": del_path,
            "file_format": "PARQUET",
            "record_count": tab.num_rows,
            "file_size_in_bytes": os.path.getsize(del_path),
            "equality_ids": eq_ids,
        }
        if part:
            df_rec["partition"] = dict(part)
        eq_man = os.path.join(metadata_dir, f"eqdel-{uuid.uuid4().hex}.avro")
        avro_io.write_avro(eq_man, eq_schema, [{
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,  # inherited from the list record
            "data_file": df_rec}])
        manifests.append({
            "manifest_path": eq_man,
            "manifest_length": os.path.getsize(eq_man),
            "partition_spec_id": spec.get("partition_spec_id", 0),
            "content": 1,
            "sequence_number": spec.get("sequence_number",
                                        data_sequence_number + 1),
            "added_snapshot_id": snapshot_id,
        })
    if carried_deletes:
        manifests.append(_pos_delete_manifest(
            metadata_dir, snapshot_id, data_sequence_number + 1,
            carried_deletes))
    mlist = os.path.join(metadata_dir, f"snap-{snapshot_id}.avro")
    avro_io.write_avro(mlist, _MANIFEST_LIST_SCHEMA, manifests)
    meta = {
        "format-version": 3 if deletion_vectors else 2,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table_dir),
        "current-snapshot-id": snapshot_id,
        "snapshots": snap_records + [{
            "snapshot-id": snapshot_id,
            "manifest-list": mlist,
            "timestamp-ms": 1704067200000 + snapshot_id * 1000,
            "summary": {"operation": "append"},
        }],
        # spec-required v2/v3 top-level fields (readers like
        # pyiceberg reject metadata without them); partition-specs must
        # carry at least the default empty spec 0
        "last-sequence-number": max(
            [m["sequence_number"] for m in manifests] + [0]),
        "last-updated-ms": 1704067200000 + snapshot_id * 1000,
        "last-column-id": 0,  # raised below when a schema is written
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "schemas": [],
        # named references: main tracks the current snapshot (as real
        # writers maintain); ``refs`` adds branches/tags by name
        "refs": {"main": {"snapshot-id": snapshot_id,
                          "type": "branch"},
                 **{name: {"snapshot-id": sid, "type": "tag"}
                    for name, sid in (refs or {}).items()}},
    }
    if schema_fields:
        def _ids_of(t):
            """Every field id a type JSON carries (nested included)."""
            out = []
            if isinstance(t, dict):
                k = t.get("type")
                if k == "struct":
                    for f in t["fields"]:
                        out.append(f["id"])
                        out.extend(_ids_of(f["type"]))
                elif k == "list":
                    out.append(t["element-id"])
                    out.extend(_ids_of(t["element"]))
                elif k == "map":
                    out.extend([t["key-id"], t["value-id"]])
                    out.extend(_ids_of(t["key"]))
                    out.extend(_ids_of(t["value"]))
            return out

        def _name_map(nm, fid, t):
            """schema.name-mapping.default entry: lets readers resolve
            data parquet written WITHOUT field ids (e.g. our export's
            Spark writer) by name, per the spec's name-mapping rules."""
            e = {"field-id": fid, "names": [nm]}
            if isinstance(t, dict):
                k = t.get("type")
                if k == "struct":
                    e["fields"] = [
                        _name_map(f["name"], f["id"], f["type"])
                        for f in t["fields"]]
                elif k == "list":
                    e["fields"] = [_name_map("element", t["element-id"],
                                             t["element"])]
                elif k == "map":
                    e["fields"] = [
                        _name_map("key", t["key-id"], t["key"]),
                        _name_map("value", t["value-id"], t["value"])]
            return e

        meta["current-schema-id"] = 0
        meta["schemas"] = [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": field_ids[nm], "name": nm,
                 "required": bool(req), "type": typ}
                for nm, typ, req in _sf]}]
        all_ids = list(field_ids.values())
        for _nm, typ, _r in _sf:
            all_ids.extend(_ids_of(typ))
        meta["last-column-id"] = max(all_ids)
        meta["properties"] = {
            "schema.name-mapping.default": json.dumps(
                [_name_map(nm, field_ids[nm], typ)
                 for nm, typ, _r in _sf])}
    with open(os.path.join(metadata_dir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(metadata_dir, "version-hint.text"), "w") as f:
        f.write("1")
    return table_dir


def _iceberg_type(dt, alloc) -> "str | dict":
    """Spark DataType -> Iceberg schema-JSON type. ``alloc`` is a
    callable returning the next unused field id (nested list/map/struct
    member ids must be unique across the WHOLE schema, spec
    schemas.md). Unsupported Spark types refuse loudly — an exported
    table another engine cannot interpret is worse than no table."""
    from pyspark.sql import types as T

    prim = {
        T.BooleanType: "boolean", T.IntegerType: "int",
        T.ShortType: "int", T.ByteType: "int", T.LongType: "long",
        T.FloatType: "float", T.DoubleType: "double",
        T.StringType: "string", T.BinaryType: "binary",
        T.DateType: "date", T.TimestampType: "timestamptz",
    }
    if type(dt) in prim:
        return prim[type(dt)]
    if hasattr(T, "TimestampNTZType") and \
            isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {"type": "list", "element-id": eid,
                "element": _iceberg_type(dt.elementType, alloc),
                "element-required": not dt.containsNull}
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = alloc()
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": _iceberg_type(f.dataType, alloc)})
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.MapType):
        kid, vid = alloc(), alloc()
        return {"type": "map", "key-id": kid,
                "key": _iceberg_type(dt.keyType, alloc),
                "value-id": vid,
                "value": _iceberg_type(dt.valueType, alloc),
                "value-required": not dt.valueContainsNull}
    raise NotImplementedError(
        f"no Iceberg mapping for Spark type {dt.simpleString()}")


def export_table(df, table_dir: str, snapshot_id: int = 1) -> dict:
    """Write a DataFrame as a SINGLE-SNAPSHOT, unpartitioned Iceberg v2
    table any Iceberg reader can open: Spark writes the data parquet
    under ``{table_dir}/data``, then the same spec-shaped metadata
    emission the test fixtures use (metadata.json + manifest list +
    manifest Avro through the repo's pure-Python Avro writer) records
    the snapshot with real per-file record counts and a full
    field-id-assigned schema (nested list/struct/map ids allocated
    uniquely per spec).

    Production caveats, stated rather than hidden: one snapshot, no
    partition spec, no column stats in the manifests (readers that
    min/max-prune get no pruning, correctness unaffected), local
    filesystem only (the metadata writer is os.path-based). Spark's
    parquet writer emits no field ids, so the metadata sets
    ``schema.name-mapping.default`` — the spec's mechanism for
    resolving id-less data files by name. Appends =
    re-export; this is the EXPORT inverse of the native Iceberg
    *reader* (`snapshot_data_files`), not a transactional writer.

    Returns {"table_dir", "files", "n_rows"} after a readback gate
    through our own reader: the snapshot's file list must equal the
    written parquet set and the manifest record counts must sum to the
    written row count.
    """
    import pyarrow.parquet as pq

    if fsutil.is_local(table_dir) is False:
        raise NotImplementedError(
            "export_table writes local trees only (metadata writer is "
            "os.path-based); copy or mount remote targets")
    data_dir = os.path.join(table_dir, "data")
    df.write.parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_")))
    counts = [pq.read_metadata(f).num_rows for f in files]

    # top-level ids are 1..n (write_table_fixture's contract); nested
    # member ids continue after them
    n_top = len(df.schema.fields)
    next_id = [n_top]

    def alloc():
        next_id[0] += 1
        return next_id[0]

    schema_fields = [(f.name, _iceberg_type(f.dataType, alloc),
                      not f.nullable)
                     for f in df.schema.fields]
    write_table_fixture(table_dir, files, counts,
                        snapshot_id=snapshot_id,
                        schema_fields=schema_fields)
    back = snapshot_data_files(table_dir)
    if sorted(back) != [os.path.abspath(f) for f in files]:
        raise RuntimeError(
            f"export readback mismatch: wrote {len(files)} files, "
            f"snapshot lists {len(back)}")
    n_rows = sum(counts)
    return {"table_dir": table_dir, "files": files, "n_rows": n_rows}
