"""Apache Hudi copy-on-write table reader (no jar, no hudi runtime).

Third table format next to ``iceberg_meta`` and ``delta_meta``, same
split: read the table's OWN metadata — here the ``.hoodie`` timeline —
and produce the live data-file list for a snapshot, which feeds
``encode_path(input_files=...)`` for a snapshot-consistent
file-granular encode. Everything is metadata-level: no Spark jobs, no
Hudi runtime, any ``fsutil`` scheme (local, hdfs, s3, mock-s3).

Formats implemented (all public, from the Hudi table spec / docs):

- ``hoodie.properties`` under ``.hoodie/`` — table identity;
  ``hoodie.table.type`` gates COPY_ON_WRITE vs MERGE_ON_READ.
- Timeline instants: files named ``{instant}.{action}[.{state}]`` in
  ``.hoodie/`` (table versions ≤ 0.x) or ``.hoodie/timeline/``
  (1.x), where 1.x completed instants carry a completion time:
  ``{instant}_{completion}.{action}``. Only COMPLETED instants (no
  ``.requested`` / ``.inflight`` suffix, non-empty action) take part
  in the snapshot — a crashed writer's pending instant is invisible,
  the same visibility discipline as our own wave manifests.
- Commit metadata: completed ``.commit`` / ``.replacecommit`` files
  are JSON (``HoodieCommitMetadata``): ``partitionToWriteStats`` maps
  partition path -> write stats, each stat carrying ``fileId`` and the
  table-root-relative ``path`` of the base file written at that
  instant. ``.replacecommit`` (clustering / insert_overwrite) adds
  ``partitionToReplaceFileIds``: those file groups stop existing from
  that instant on.
- Snapshot = latest file slice per FILE GROUP: group base files by
  (partition, fileId), keep the one written at the max completed
  instant ≤ the target, drop groups replaced by a completed
  replacecommit ≤ the target. ``as_of`` gives time travel by instant
  prefix (inclusive), the Hudi ``as.of.instant`` semantics.

MERGE_ON_READ tables are supported natively: ``deltacommit`` instants
join the replay, write stats may reference ``.log`` files, and the
snapshot becomes FILE SLICES — latest base file per group plus the log
chain written against it (log names carry their base instant; logs
against an older base were folded in by the compaction that wrote the
newer base). Slices with logs are materialized by
``hudi_log.stage_mor_slices`` (each slice staged on its own) before
encoding; see ``hudi_log.py`` for the log block format and merge
semantics.

Refused loudly rather than silently wrong:

- COPY_ON_WRITE timelines containing ``deltacommit`` instants or log
  write stats — malformed either way.
- MOR tables whose merge is NOT commit-time-ordered overwrite-latest
  (a precombine field, ``hoodie.record.merge.mode`` other than
  COMMIT_TIME_ORDERING, custom payload classes) or that skip meta
  fields (``hoodie.populate.meta.fields=false``): replaying those
  without the Hudi runtime risks resurrecting overwritten rows.
- ``.restore`` instants: a restore rewinds the timeline in ways this
  replay does not model.
- Commit metadata that is neither JSON nor an Avro container: refused
  rather than mis-parsed. Hudi 1.x Avro-serialized commit metadata
  (``HoodieCommitMetadata`` container files, ``Obj\\x01`` magic) is
  decoded natively via ``avro_io`` — the Avro field names equal the
  JSON keys, so both serializations feed one replay.
- Unknown completed actions. ``clean`` / ``rollback`` / ``savepoint``
  are known no-ops for snapshot scans (clean deletes only
  NON-latest slices; rollback targets pending instants) and are
  skipped.

Reference analogue: the reference plugin's scan is a Hadoop
FileSystem glob (`ParquetHadoopInputPlugin.java:85-93`); table formats
that version their file sets are our scan planner's concern, the same
split as the Iceberg and Delta readers.

Scale notes: planning reads one directory listing plus one small JSON
per completed commit instant — O(timeline length), no data-file IO.
Hudi archives old instants out of the active timeline, bounding the
listing; the replay cost is independent of table size. The returned
file list fans out one encode task per file exactly like a plain glob.
"""

from __future__ import annotations

import json
import posixpath

from ..plans import fsutil


class HudiMetaError(ValueError):
    """Hudi table metadata is unsupported or inconsistent."""


# completed actions that contribute file-set changes
_APPLY_ACTIONS = ("commit", "replacecommit")
# MOR tables add deltacommit (completed compactions commit as "commit")
_APPLY_ACTIONS_MOR = ("commit", "replacecommit", "deltacommit")
# completed actions that never change the latest file slice
_NOOP_ACTIONS = ("clean", "rollback", "savepoint", "indexing",
                 "schemacommit")
# completed actions that mean the snapshot cannot be reconstructed here
_REFUSE_ACTIONS = {
    "deltacommit": "merge-on-read deltacommit in a COPY_ON_WRITE "
                   "timeline",
    "compaction": "a COMPLETED compaction instant (compactions "
                  "complete as 'commit'; this timeline is malformed)",
    "logcompaction": "merge-on-read log compaction in the timeline",
    "restore": "a restore instant rewinds the timeline",
}
# payload classes whose merge == overwrite-latest under commit-time
# ordering (the semantics hudi_log.merge_slice implements)
_OK_PAYLOADS = {"OverwriteWithLatestAvroPayload", "HoodieAvroPayload"}


def _hoodie_dir(table_dir: str) -> str:
    return f"{table_dir.rstrip('/')}/.hoodie"


def table_properties(table_dir: str) -> dict:
    """Parse ``.hoodie/hoodie.properties`` (java.util.Properties text:
    ``key=value`` lines, ``#``/``!`` comments)."""
    path = f"{_hoodie_dir(table_dir)}/hoodie.properties"
    if not fsutil.exists(path):
        raise HudiMetaError(
            f"not a Hudi table: {path} missing")
    props: dict[str, str] = {}
    for line in fsutil.read_bytes(path).decode("utf-8").splitlines():
        line = line.strip()
        if not line or line[0] in "#!":
            continue
        k, sep, v = line.partition("=")
        if sep:
            props[k.strip()] = v.strip()
    return props


def _timeline_dir(table_dir: str) -> str:
    """Active-timeline directory: ``.hoodie/timeline/`` when present
    (1.x layout), else ``.hoodie/`` itself (0.x)."""
    hd = _hoodie_dir(table_dir)
    tl = f"{hd}/timeline"
    return tl if fsutil.isdir(tl) else hd


def _parse_instant_name(name: str) -> tuple[str, str, bool] | None:
    """``(instant, action, completed)`` from a timeline file name, or
    None for non-instant files (hoodie.properties, dirs, .aux, ...).

    Completed: ``{instant}.{action}`` or ``{instant}_{completion}.{action}``
    Pending:   ``...{action}.requested`` / ``....inflight`` (0.x commit
    inflights are the bare ``{instant}.inflight``)."""
    if name.startswith("."):
        return None
    parts = name.split(".")
    if len(parts) < 2 or not parts[0]:
        return None
    stamp = parts[0]
    instant = stamp.split("_", 1)[0]  # strip 1.x completion time
    if not instant.isdigit():
        return None
    if parts[-1] in ("requested", "inflight"):
        action = parts[1] if len(parts) > 2 else "commit"
        return instant, action, False
    return instant, ".".join(parts[1:]), True


def _read_commit_meta(path: str) -> dict:
    raw = fsutil.read_bytes(path)
    if not raw.strip():
        return {}
    if raw[:4] == b"Obj\x01":
        # Hudi 1.x serializes completed commit metadata as an Avro
        # container file (org.apache.hudi.avro.model
        # HoodieCommitMetadata / HoodieReplaceCommitMetadata). The
        # container embeds its writer schema and the Avro field names
        # equal the JSON keys, so the decoded record IS the JSON shape
        # (nullable-union Nones fall through the same .get()/or-{}
        # guards as absent JSON keys).
        import zlib

        from . import avro_io
        try:
            _, recs = avro_io.read_avro_bytes(raw, name=path)
        except (ValueError, EOFError, KeyError, IndexError,
                zlib.error) as e:
            raise HudiMetaError(
                f"commit metadata at {path} is an Avro container this "
                f"reader cannot decode: {e}") from e
        if len(recs) != 1:
            raise HudiMetaError(
                f"commit metadata at {path} holds {len(recs)} Avro "
                "records (expected exactly one HoodieCommitMetadata)")
        return recs[0]
    try:
        return json.loads(raw)
    except ValueError as e:
        raise HudiMetaError(
            f"commit metadata at {path} is neither JSON nor an Avro "
            f"container: {e}") from e


def _within_as_of(instant: str, as_of: str) -> bool:
    """Hudi ``as.of.instant`` semantics: inclusive, and a SHORTER
    user-supplied timestamp acts as a prefix — ``as_of="20240101"``
    must include every instant on that day, which a plain string
    compare would exclude (``"20240101000000000" > "20240101"``)."""
    return instant <= as_of or instant.startswith(as_of)


def all_completed_instants(table_dir: str) -> set[str]:
    """Every completed instant string, INCLUDING no-op actions
    (clean/rollback/savepoint) — the valid watermark values for
    :func:`snapshot_scan_diff` (a clean's file set equals the previous
    apply-instant's, so it is a perfectly decidable as_of point)."""
    tl = _timeline_dir(table_dir)
    out = set()
    for name in fsutil.listdir(tl):
        parsed = _parse_instant_name(name)
        if parsed is not None and parsed[2]:
            out.add(parsed[0])
    return out


def completed_instants(table_dir: str,
                       mor: bool = False) -> list[tuple[str, str, str]]:
    """Sorted ``(instant, action, timeline file path)`` for every
    COMPLETED instant, refusing the timeline shapes the snapshot replay
    cannot model. ``mor=True`` additionally accepts ``deltacommit``
    (the MERGE_ON_READ write action)."""
    tl = _timeline_dir(table_dir)
    apply_actions = _APPLY_ACTIONS_MOR if mor else _APPLY_ACTIONS
    out: list[tuple[str, str, str]] = []
    for name in fsutil.listdir(tl):
        parsed = _parse_instant_name(name)
        if parsed is None:
            continue
        instant, action, completed = parsed
        if not completed:
            continue
        if action in apply_actions:
            out.append((instant, action, f"{tl}/{name}"))
            continue
        if action in _REFUSE_ACTIONS:
            raise HudiMetaError(
                f"unsupported Hudi timeline: {_REFUSE_ACTIONS[action]} "
                f"({name}) — encode via the Hudi Spark reader instead")
        if action in _NOOP_ACTIONS:
            continue
        raise HudiMetaError(
            f"unknown completed timeline action {action!r} ({name}) "
            "— refusing rather than guessing its file-set effect")
    out.sort()
    return out


def _check_mor_props(props: dict) -> None:
    """Refuse MOR tables whose merge semantics differ from the
    commit-time-ordered overwrite-latest merge ``hudi_log`` implements
    — modeling event-time (``preCombine``) ordering without the Hudi
    runtime risks silently resurrecting overwritten rows."""
    pre = props.get("hoodie.table.precombine.field", "").strip()
    if pre:
        raise HudiMetaError(
            f"hoodie.table.precombine.field={pre!r}: event-time merge "
            "ordering is not modeled (a log record with an older "
            "ordering value must LOSE to an earlier one, which "
            "commit-time replay cannot decide) — compact the table or "
            "encode via the Hudi Spark reader")
    mode = props.get("hoodie.record.merge.mode", "").strip().upper()
    if mode and mode != "COMMIT_TIME_ORDERING":
        raise HudiMetaError(
            f"hoodie.record.merge.mode={mode}: only "
            "COMMIT_TIME_ORDERING is modeled")
    for key in ("hoodie.compaction.payload.class",
                "hoodie.table.payload.class",
                "hoodie.datasource.write.payload.class"):
        cls = props.get(key, "").strip()
        if cls and cls.rsplit(".", 1)[-1] not in _OK_PAYLOADS:
            raise HudiMetaError(
                f"{key}={cls}: custom merge payloads are not modeled")
    if props.get("hoodie.populate.meta.fields", "true").strip() \
            .lower() == "false":
        raise HudiMetaError(
            "hoodie.populate.meta.fields=false: merge needs the "
            "_hoodie_record_key meta column in every base/log record")


def snapshot_scan(table_dir: str, as_of: str | None = None) -> dict:
    """Replay the timeline to the latest (or ``as_of``) snapshot.

    Returns ``{"files": [abs base-file paths, sorted], "instant":
    str | None, "partitions": {abs path: partition path}, "groups":
    {(partition, fileId): (slice instant, abs base path | None,
    (log paths...), (log-writing commit instants...))}, "slices":
    {(partition, fileId): {"base", "base_instant", "logs",
    "log_instants", "partition"}}, "needs_merge": bool,
    "valid_instants": set}``. The log-writing instants are part of a
    slice's identity because Hudi appends blocks to an existing log
    file across deltacommits — two snapshots can share the exact same
    path set yet hold different rows.

    COPY_ON_WRITE slices are single base files (``files`` is the
    encode input). MERGE_ON_READ slices may carry a log chain —
    ``needs_merge`` is then True and the snapshot must be materialized
    through ``hudi_log.stage_mor_slices`` (``files`` alone would
    resurrect un-merged rows; :func:`snapshot_files` refuses).
    ``valid_instants`` are the replayed apply instants — the block
    visibility filter for the log scan. Raises :class:`HudiMetaError`
    for unsupported timelines and merge configurations.
    """
    props = table_properties(table_dir)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE").upper()
    mor = ttype == "MERGE_ON_READ"
    if ttype not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise HudiMetaError(
            f"hoodie.table.type={ttype}: unknown table type")
    if mor:
        from . import hudi_log  # noqa: F401  (parse_log_name below)
        _check_mor_props(props)
    base = table_dir.rstrip("/")
    # (partition, fileId) -> (instant, relpath): the latest base file
    state: dict[tuple[str, str], tuple[str, str]] = {}
    # (partition, fileId) -> [(baseInstant, logVersion, writeToken,
    #                          relpath)]: every log write seen
    logstate: dict[tuple[str, str], list] = {}
    applied: str | None = None
    valid: set[str] = set()
    for instant, action, fname in completed_instants(table_dir, mor=mor):
        if as_of is not None and not _within_as_of(instant, as_of):
            continue
        meta = _read_commit_meta(fname)
        written: set[tuple[str, str]] = set()
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats or []:
                rel, fid = st.get("path"), st.get("fileId")
                if not rel:
                    continue
                if ".log." in posixpath.basename(rel):
                    if not mor:
                        raise HudiMetaError(
                            f"log file {rel!r} written at {instant} in "
                            "a COPY_ON_WRITE timeline — refusing")
                    from . import hudi_log
                    lfid, linst, ver, tok = hudi_log.parse_log_name(rel)
                    key = (part, fid or lfid)
                    written.add(key)
                    # keep the WRITING commit instant too: Hudi
                    # appends blocks to an existing log file across
                    # deltacommits, so the path set alone cannot
                    # identify a slice's contents
                    logstate.setdefault(key, []).append(
                        (linst, ver, tok, rel, instant))
                    continue
                if not rel.endswith(".parquet"):
                    raise HudiMetaError(
                        f"unsupported base file {rel!r} written at "
                        f"{instant} (hfile/orc base?) — refusing")
                if not fid:
                    # filenames are {fileId}_{writeToken}_{instant}.parquet;
                    # fileId never contains '_'
                    fid = posixpath.basename(rel).split("_", 1)[0]
                key = (part, fid)
                written.add(key)
                prev = state.get(key)
                if prev is None or prev[0] < instant:
                    state[key] = (instant, rel)
        if action == "replacecommit":
            for part, fids in (meta.get("partitionToReplaceFileIds")
                               or {}).items():
                for fid in fids or []:
                    key = (part, fid)
                    if key in written:
                        raise HudiMetaError(
                            f"replacecommit {instant} replaces a file "
                            f"group it also writes ({part}/{fid}) — "
                            "malformed metadata")
                    state.pop(key, None)
                    logstate.pop(key, None)
        applied = instant
        valid.add(instant)
    # assemble file slices: latest base file + the log chain written
    # AGAINST that base (log names carry their base instant; logs
    # against an older base were folded in by the compaction that wrote
    # the newer base and are dropped, Hudi's file-slice rule)
    slices: dict[tuple[str, str], dict] = {}
    for key in set(state) | set(logstate):
        b = state.get(key)
        ls = sorted(logstate.get(key, []))
        if b is not None:
            binst, brel = b
            newer = sorted({e[0] for e in ls if e[0] > binst})
            if newer:
                raise HudiMetaError(
                    f"file group {key} has log files against base "
                    f"instant(s) {newer} newer than its latest base "
                    f"file ({binst}) — malformed metadata")
            chain_entries = [e for e in ls if e[0] == binst]
        else:
            insts = sorted({e[0] for e in ls})
            if len(insts) != 1:
                raise HudiMetaError(
                    f"log-only file group {key} spans base instants "
                    f"{insts} with no base file — malformed metadata")
            binst, brel = insts[0], None
            chain_entries = ls
        # ordered UNIQUE log paths: one file appears once per commit
        # that appended blocks to it; the writing instants join the
        # slice identity so appended-to slices are never mistaken for
        # unchanged ones (diff refusal + staged-name invalidation)
        chain: list[str] = []
        for e in chain_entries:
            if e[3] not in chain:
                chain.append(e[3])
        slices[key] = {
            "base": f"{base}/{brel}" if brel else None,
            "base_instant": binst,
            "logs": [f"{base}/{rel}" for rel in chain],
            "log_instants": tuple(sorted({e[4] for e in chain_entries})),
            "partition": key[0]}
    partitions = {s["base"]: s["partition"] for s in slices.values()
                  if s["base"]}
    files = sorted(partitions)
    groups = {key: (s["base_instant"], s["base"], tuple(s["logs"]),
                    s["log_instants"])
              for key, s in slices.items()}
    return {"files": files, "instant": applied, "partitions": partitions,
            "groups": groups, "slices": slices,
            "needs_merge": any(s["logs"] for s in slices.values()),
            "valid_instants": valid}


def snapshot_files(table_dir: str, as_of: str | None = None) -> list[str]:
    """Data files of the snapshot, for ``encode_path(input_files=...)``.
    Refuses when any slice carries a log chain — base files alone would
    resurrect un-merged MOR rows; use ``hudi_log.stage_mor_slices``."""
    scan = snapshot_scan(table_dir, as_of)
    if scan["needs_merge"]:
        raise HudiMetaError(
            "snapshot has merge-on-read log files; encode via "
            "hudi_log.stage_mor_slices(spark, scan, staging_dir) "
            "(CLI: encode_job --hudi stages automatically)")
    return scan["files"]


def snapshot_scan_diff(table_dir: str, since_instant: str,
                       as_of: str | None = None) -> dict:
    """File groups ADDED strictly after ``since_instant`` (up to
    ``as_of`` / latest) — the Hudi analogue of the Iceberg
    ``--since-snapshot`` and Delta ``--since-version`` incremental
    ingest, with the same refusal contract: a file group that was live
    at ``since_instant`` and has since been REWRITTEN (upsert) or
    REPLACED (clustering / insert_overwrite) refuses, because an
    append-only encode tree cannot retract rows already committed from
    the old slice. Brand-new file groups (inserts into new or existing
    partitions) are the only diff an append can represent.

    ``since_instant`` must be an actual completed instant (a typo'd
    instant would otherwise silently produce a too-large diff).
    Returns the added files in the same shape as :func:`snapshot_scan`
    (so :func:`filter_partitions` composes), plus the replayed
    ``instant``.
    """
    completed = all_completed_instants(table_dir)
    if since_instant not in completed:
        raise HudiMetaError(
            f"since_instant {since_instant!r} is not a completed "
            f"timeline instant (completed: {sorted(completed)})")
    old = snapshot_scan(table_dir, as_of=since_instant)
    new = snapshot_scan(table_dir, as_of=as_of)
    changed = sorted(
        key for key, slice_ in old["groups"].items()
        if new["groups"].get(key) != slice_)
    if changed:
        raise HudiMetaError(
            f"file group(s) rewritten or replaced since "
            f"{since_instant}: {changed[:3]}{'...' if len(changed) > 3 else ''}"
            " — an append-only encode tree cannot retract committed "
            "rows; re-encode from scratch or encode the full snapshot "
            "into a new tree")
    added = sorted(k for k in new["groups"] if k not in old["groups"])
    groups = {k: new["groups"][k] for k in added}
    slices = {k: new["slices"][k] for k in added}
    partitions = {s["base"]: s["partition"] for s in slices.values()
                  if s["base"]}
    return {"files": sorted(partitions), "instant": new["instant"],
            "partitions": partitions, "groups": groups,
            "slices": slices,
            "needs_merge": any(s["logs"] for s in slices.values()),
            "valid_instants": new["valid_instants"]}


def filter_partitions(scan: dict, pf: dict) -> dict:
    """Metadata-level partition filter over a :func:`snapshot_scan`
    result: keep files whose HIVE-STYLE partition path (``k=v`` slash
    segments, Hudi's ``hive_style_partitioning=true`` layout) matches
    every ``pf`` key. A partition path that does not carry one of the
    filter keys (non-hive layouts like ``2024/01/01``, or the root
    partition) is undecidable and refuses rather than silently
    including/excluding files — same discipline as the Iceberg reader's
    unscopable equality deletes."""
    def _match(ppath: str) -> bool:
        segs = dict(seg.partition("=")[::2] for seg in ppath.split("/")
                    if "=" in seg)
        missing = [k for k in pf if k not in segs]
        if missing:
            raise HudiMetaError(
                f"partition filter key(s) {missing} absent from "
                f"partition path {ppath!r} — not a hive-style "
                "partition layout; cannot filter at metadata level")
        return all(segs[k] == str(v) for k, v in pf.items())

    parts = {f: p for f, p in scan["partitions"].items() if _match(p)}
    out = {**scan, "files": sorted(parts), "partitions": parts}
    if "slices" in scan:
        slices = {k: s for k, s in scan["slices"].items()
                  if _match(s["partition"])}
        out["slices"] = slices
        out["groups"] = {k: scan["groups"][k] for k in slices
                         if k in scan.get("groups", {})}
        out["needs_merge"] = any(s["logs"] for s in slices.values())
    return out


# ---------------------------------------------------------------------------
# fixture writer (tests)

# spec-shaped subset of the public HoodieCommitMetadata.avsc /
# HoodieReplaceCommitMetadata.avsc (hudi-common/src/main/avro/) for the
# avro_meta fixture mode — field names ARE the JSON keys, which is the
# whole reason _read_commit_meta can hand the decoded record straight
# to the replay
def _commit_meta_avro_schema(replace: bool) -> dict:
    stat = {"type": "record", "name": "HoodieWriteStat",
            "namespace": "org.apache.hudi.avro.model",
            "fields": [
                {"name": "fileId", "type": ["null", "string"],
                 "default": None},
                {"name": "path", "type": ["null", "string"],
                 "default": None},
                {"name": "prevCommit", "type": ["null", "string"],
                 "default": None},
                {"name": "partitionPath", "type": ["null", "string"],
                 "default": None},
            ]}
    fields = [
        {"name": "partitionToWriteStats",
         "type": ["null", {"type": "map", "values":
                           {"type": "array", "items": stat}}],
         "default": None},
        {"name": "compacted", "type": ["null", "boolean"],
         "default": None},
        {"name": "operationType", "type": ["null", "string"],
         "default": None},
    ]
    if replace:
        fields.append(
            {"name": "partitionToReplaceFileIds",
             "type": ["null", {"type": "map", "values":
                               {"type": "array", "items": "string"}}],
             "default": None})
    return {"type": "record",
            "name": ("HoodieReplaceCommitMetadata" if replace
                     else "HoodieCommitMetadata"),
            "namespace": "org.apache.hudi.avro.model", "fields": fields}


def _commit_meta_avro_bytes(meta: dict) -> bytes:
    import os as _os
    import tempfile as _tf

    from . import avro_io
    schema = _commit_meta_avro_schema(
        "partitionToReplaceFileIds" in meta)
    stat_fields = ("fileId", "path", "prevCommit", "partitionPath")
    rec = {
        "partitionToWriteStats": {
            part: [{f: st.get(f) for f in stat_fields} for st in stats]
            for part, stats in meta["partitionToWriteStats"].items()},
        "compacted": meta.get("compacted", False),
        "operationType": meta.get("operationType"),
    }
    if "partitionToReplaceFileIds" in meta:
        rec["partitionToReplaceFileIds"] = \
            meta["partitionToReplaceFileIds"]
    # avro_io.write_avro targets a local path; round-trip through a
    # temp file so the timeline bytes still go out via fsutil.put_bytes
    fd, tmp = _tf.mkstemp(suffix=".avro")
    _os.close(fd)
    try:
        avro_io.write_avro(tmp, schema, [rec])
        with open(tmp, "rb") as fh:
            return fh.read()
    finally:
        _os.remove(tmp)


def write_table_fixture(table_dir: str, commits: list[dict],
                        table_type: str = "COPY_ON_WRITE",
                        timeline_v1: bool = False,
                        extra_timeline_files: list[str] | None = None,
                        extra_props: list[str] | None = None,
                        avro_meta: bool = False
                        ) -> list[str]:
    """Spec-shaped Hudi COW table over existing Parquet files.

    ``commits`` is a list of instants in order; each dict:

    - ``writes``: ``{partition_path: [(fileId, src_parquet_path)]}`` —
      each src file is copied in as
      ``{partition}/{fileId}_1-0-1_{instant}.parquet`` and recorded in
      that instant's ``partitionToWriteStats`` (root partition: "").
    - ``replaces``: ``{partition_path: [fileId, ...]}`` — emitted as a
      ``replacecommit`` with ``partitionToReplaceFileIds``.
    - ``action``: override the action name (default ``commit``, or
      ``replacecommit`` when ``replaces`` present).
    - ``pending``: write only the ``.requested``/``.inflight`` markers
      (a crashed writer) — its files are copied in but must stay
      invisible.

    ``timeline_v1`` writes instants under ``.hoodie/timeline/`` with
    1.x completion-time-suffixed completed names.
    ``extra_timeline_files`` drops extra (empty) instant files in for
    refusal tests. ``extra_props`` appends raw ``hoodie.properties``
    lines (precombine/payload refusal tests).

    MERGE_ON_READ additions (``table_type="MERGE_ON_READ"``): a commit
    may carry ``"logs": {partition: [(fileId, base_idx, logVersion,
    blocks)]}`` — writes ``.{fileId}_{baseInstant}.log.{logVersion}_0-1-0``
    where ``baseInstant`` is the generated instant of commit index
    ``base_idx`` (``None`` = this commit's own instant: a log-only
    group). Each block spec is one of ``("data", avro_schema,
    records)``, ``("pdata", arrow_table)``, ``("delete", keys)``,
    ``("rollback", target_idx)``, ``("orphan_data", instant_str,
    avro_schema, records)`` (a block stamped with a never-completed
    instant), or ``("raw", bytes)``. A commit with logs defaults to
    action ``deltacommit``. Returns the instant strings in order.
    """
    from . import hudi_log
    base = table_dir.rstrip("/")
    hd = f"{base}/.hoodie"
    tl = f"{hd}/timeline" if timeline_v1 else hd
    fsutil.makedirs_any(tl)
    props = "\n".join([
        "#Updated at 2024-01-01T00:00:00Z",
        "hoodie.table.name=fixture",
        f"hoodie.table.type={table_type}",
        "hoodie.table.version=6" if not timeline_v1
        else "hoodie.table.version=8",
        "hoodie.timeline.layout.version=1",
        "hoodie.datasource.write.hive.style.partitioning=true",
        *(extra_props or []),
    ]) + "\n"
    fsutil.put_bytes(f"{hd}/hoodie.properties", props.encode())
    all_instants = [f"{20240101000000 + i:017d}"
                    for i in range(len(commits))]
    instants: list[str] = []
    for i, c in enumerate(commits):
        instant = all_instants[i]
        instants.append(instant)
        action = c.get("action") or (
            "replacecommit" if c.get("replaces")
            else "deltacommit" if c.get("logs") else "commit")
        p2ws: dict[str, list[dict]] = {}
        for part, entries in (c.get("writes") or {}).items():
            stats = []
            for fid, src in entries:
                rel = (f"{part}/" if part else "") + \
                    f"{fid}_1-0-1_{instant}.parquet"
                fsutil.put_file(f"{base}/{rel}", src)
                stats.append({"fileId": fid, "path": rel,
                              "prevCommit": "null",
                              "partitionPath": part})
            p2ws[part] = stats
        for part, entries in (c.get("logs") or {}).items():
            stats = p2ws.setdefault(part, [])
            for fid, base_idx, logver, blocks in entries:
                base_instant = (instant if base_idx is None
                                else all_instants[base_idx])
                rel = (f"{part}/" if part else "") + \
                    f".{fid}_{base_instant}.log.{logver}_0-1-0"
                payload = []
                for spec in blocks:
                    kind = spec[0]
                    if kind == "data":
                        payload.append(hudi_log.avro_data_block_bytes(
                            instant, spec[1], spec[2]))
                    elif kind == "pdata":
                        payload.append(hudi_log.parquet_data_block_bytes(
                            instant, spec[1]))
                    elif kind == "delete":
                        payload.append(hudi_log.delete_block_bytes(
                            instant, spec[1]))
                    elif kind == "rollback":
                        payload.append(hudi_log.rollback_block_bytes(
                            instant, all_instants[spec[1]]))
                    elif kind == "orphan_data":
                        payload.append(hudi_log.avro_data_block_bytes(
                            spec[1], spec[2], spec[3]))
                    elif kind == "raw":
                        payload.append(spec[1])
                    else:
                        raise ValueError(f"unknown block spec {kind!r}")
                hudi_log.write_log_file(f"{base}/{rel}", payload)
                stats.append({"fileId": fid, "path": rel,
                              "partitionPath": part})
        meta: dict = {"partitionToWriteStats": p2ws,
                      "compacted": False,
                      "operationType": c.get("operation", "upsert")}
        if c.get("replaces"):
            meta["partitionToReplaceFileIds"] = c["replaces"]
        fsutil.put_bytes(f"{tl}/{instant}.{action}.requested", b"")
        inflight = (f"{instant}.inflight" if action == "commit"
                    and not timeline_v1 else f"{instant}.{action}.inflight")
        fsutil.put_bytes(f"{tl}/{inflight}", b"")
        if not c.get("pending"):
            done = (f"{instant}_{20240101100000 + i:017d}.{action}"
                    if timeline_v1 else f"{instant}.{action}")
            fsutil.put_bytes(f"{tl}/{done}",
                             _commit_meta_avro_bytes(meta) if avro_meta
                             else json.dumps(meta, indent=2).encode())
    for name in extra_timeline_files or []:
        fsutil.put_bytes(f"{tl}/{name}", b"")
    return instants
