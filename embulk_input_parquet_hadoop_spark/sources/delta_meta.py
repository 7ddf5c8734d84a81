"""Delta Lake table reader (no jar, no delta-spark runtime needed).

Plans encode jobs over Delta tables the same way ``iceberg_meta`` does
for Iceberg: read the table's own metadata (here ``_delta_log`` JSON
commits + parquet checkpoints — both public formats from the Delta
PROTOCOL.md), produce the live data-file list for a snapshot, and map
each file's DELETION VECTOR (merge-on-read row deletes) into the
``encode_path(row_deletes=)`` mapping so the encode task that owns a
file filters its deleted rows out. Everything is metadata-level: no
Spark jobs, no Delta runtime, any ``fsutil`` scheme (local, hdfs, s3,
mock-s3).

Formats implemented (all public):

- Commit log: ``_delta_log/%020d.json``, one JSON action per line
  (``add`` / ``remove`` / ``metaData`` / ``protocol`` / ``commitInfo``
  / ``txn`` / ...). ``add.path`` is URL-encoded and
  table-root-relative (absolute URIs allowed, as shallow clones write).
- Checkpoints: ``_last_checkpoint`` + classic single-file
  ``%020d.checkpoint.parquet`` and multi-part
  ``%020d.checkpoint.%010d.%010d.parquet`` (one column struct per
  action type, exactly one non-null per row), plus UUID-named v2
  checkpoints ``%020d.checkpoint.<uuid>.{json|parquet}`` — the
  ``checkpointMetadata`` action is validated against the file name
  and ``sidecar`` actions pull add/remove from
  ``_delta_log/_sidecars/`` parquet files. A classic checkpoint at
  the same version wins (no extra reads).
- Action reconciliation: state keyed by ``(path, dv uniqueId)``;
  ``add`` upserts, ``remove`` deletes; latest ``metaData`` /
  ``protocol`` win. Replay = newest checkpoint ≤ target, then JSON
  commits in version order.
- Deletion vectors: descriptor ``{storageType, pathOrInlineDv,
  offset, sizeInBytes, cardinality}`` with storage ``u`` (z85 uuid →
  ``deletion_vector_<uuid>.bin`` under an optional random-prefix dir),
  ``p`` (absolute path), ``i`` (inline z85 of the serialized bitmap).
  On-disk frame at ``offset``: 4-byte big-endian size, magic, a 64-bit
  Roaring bitmap in the portable serialization, 4-byte big-endian
  CRC-32 of (magic+bitmap) — byte-identical framing to the Iceberg v3
  ``deletion-vector-v1`` blob ``sources/puffin.py`` decodes, so the
  bitmap decode is shared. MAGIC CAVEAT: Delta's PROTOCOL.md gives the
  magic as little-endian int 1681511377 (bytes ``D1 D3 39 64``) while
  the Iceberg v3 spec prints ``D1 D3 3D ED``; the two specs describe
  the same framing and are meant to interoperate, and with no network
  in this sandbox the discrepancy can't be re-checked — so the reader
  accepts EITHER magic (the frame is still length- and CRC-gated, and
  cardinality must match the decoded count); the test fixture writer
  (``tests/fixtures/delta_fixture.py``) defaults to the Delta constant.
- Z85 (ZeroMQ base-85, the alphabet Delta's Base85Codec uses): decoded
  here with a true-length trim of the writer's zero padding, checked
  against the ZeroMQ spec test vector.

Reference analogue: the reference plugin's scan is a Hadoop FileSystem
glob (`ParquetHadoopInputPlugin.java:85-93`); table formats with
delete semantics and time travel are our scan planner's concern, same
split as ``sources/iceberg_meta.py``.

Scale notes: planning cost is O(log tail + checkpoint metadata) —
checkpoint parquet reads pull only the five action columns; per-task
delete cost is one ranged GET of that file's own DV frame (never
another file's), the same contract as the Iceberg DV path. Partition
pruning happens here at planning (Delta partition values live ONLY in
the log, not in the data files), so a pruned file is never opened.

Partition-column caveat (documented, inherent to Delta's layout):
partition column VALUES are not stored in the data files, so an encode
over a partitioned Delta table encodes the physical file columns; the
scan returns ``partition_values`` per file for manifest-side use.
"""

from __future__ import annotations

import json
import os
import re
import struct
import uuid as uuid_mod
import zlib
from urllib.parse import quote, unquote, urlparse

import numpy as np

from ..plans import fsutil
from . import puffin

# Delta PROTOCOL.md: "magic: 1681511377" as a 4-byte little-endian int.
DELTA_DV_MAGIC = struct.pack("<I", 1681511377)  # D1 D3 39 64
# Iceberg v3 prints the on-disk bytes directly; accepted too (header).
_ACCEPTED_MAGICS = (DELTA_DV_MAGIC, puffin.DV_MAGIC)

# How a Delta DV rides the {data_file: [delete inputs]} mapping of
# encode_path(row_deletes=): prefix + json with either
# {"path", "offset", "size", "cardinality"} (file-stored) or
# {"inline", "size", "cardinality"} (z85 payload carried whole).
DV_DESC_PREFIX = "deltadv:"

_SUPPORTED_READER_FEATURES = {
    "deletionVectors", "timestampNtz", "vacuumProtocolCheck",
    "v2Checkpoint",  # read natively (checkpointMetadata + sidecars)
    "columnMapping",  # modes name/id supported via column_renames()
}


class DeltaMetaError(ValueError):
    pass


# ---------------------------------------------------------------------
# Z85 (ZeroMQ base-85) — Delta's Base85Codec alphabet
# ---------------------------------------------------------------------

_Z85_CHARS = ("0123456789abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_ORD = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_decode(s: str, out_len: int | None = None) -> bytes:
    """Z85 decode; ``out_len`` trims the writer's zero padding (Delta's
    codec pads its input to a multiple of 4 bytes)."""
    if len(s) % 5:
        raise DeltaMetaError(f"z85 string length {len(s)} not a "
                             "multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i:i + 5]:
            d = _Z85_ORD.get(c)
            if d is None:
                raise DeltaMetaError(f"invalid z85 character {c!r}")
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise DeltaMetaError("z85 group overflows 32 bits")
        out += struct.pack(">I", v)
    if out_len is not None:
        if out_len > len(out) or len(out) - out_len >= 4:
            raise DeltaMetaError(
                f"z85 payload of {len(out)} bytes cannot trim to "
                f"{out_len}")
        del out[out_len:]
    return bytes(out)


# ---------------------------------------------------------------------
# Deletion-vector descriptors
# ---------------------------------------------------------------------

def dv_unique_id(dv: dict | None) -> str | None:
    """Protocol uniqueId: storageType + pathOrInlineDv (+ @offset when
    present) — the second half of the (path, dvId) file identity."""
    if not dv:
        return None
    uid = f"{dv['storageType']}{dv['pathOrInlineDv']}"
    if dv.get("offset") is not None:
        uid += f"@{dv['offset']}"
    return uid


def _dv_abs_path(dv: dict, table_dir: str) -> str:
    st = dv["storageType"]
    if st == "p":
        return dv["pathOrInlineDv"]
    if st == "u":
        enc = dv["pathOrInlineDv"]
        if len(enc) < 20:
            raise DeltaMetaError(
                f"uuid DV pathOrInlineDv shorter than 20 chars: {enc!r}")
        prefix, tail = enc[:-20], enc[-20:]
        u = uuid_mod.UUID(bytes=z85_decode(tail))
        name = f"deletion_vector_{u}.bin"
        base = table_dir.rstrip("/")
        return f"{base}/{prefix}/{name}" if prefix else f"{base}/{name}"
    raise DeltaMetaError(f"unknown DV storageType {st!r}")


def dv_descriptor(dv: dict, table_dir: str) -> str:
    """``deltadv:{json}`` entry for the row_deletes mapping."""
    if dv["storageType"] == "i":
        body = {"inline": dv["pathOrInlineDv"],
                "size": int(dv["sizeInBytes"]),
                "cardinality": int(dv["cardinality"])}
    else:
        off = dv.get("offset")
        if off is None:
            raise DeltaMetaError(
                "file-stored DV descriptor has no offset (storageType "
                f"{dv['storageType']!r})")
        body = {"path": _dv_abs_path(dv, table_dir),
                "offset": int(off),
                "size": int(dv["sizeInBytes"]),
                "cardinality": int(dv["cardinality"])}
    return DV_DESC_PREFIX + json.dumps(body, sort_keys=True)


def parse_dv_desc(desc: str) -> dict:
    return json.loads(desc[len(DV_DESC_PREFIX):])


def _decode_dv_data(data: bytes) -> np.ndarray:
    """Sorted int64 positions from magic+portable-roaring64 bytes."""
    if len(data) < 4 or data[:4] not in _ACCEPTED_MAGICS:
        got = data[:4].hex() if len(data) >= 4 else data.hex()
        raise DeltaMetaError(
            f"bad deletion-vector magic {got} (accepted: "
            + ", ".join(m.hex() for m in _ACCEPTED_MAGICS) + ")")
    vals, end = puffin.roaring64_read(memoryview(data), 4)
    if end != len(data):
        raise DeltaMetaError(
            f"deletion-vector bitmap ends at byte {end}, payload has "
            f"{len(data)} — trailing garbage")
    return vals


def read_dv_positions(desc: str) -> np.ndarray:
    """Sorted int64 deleted positions of one ``deltadv:`` descriptor.

    Runs inside the encode task that owns the data file: file-stored
    DVs cost one ranged read of [offset, offset+4+size+4) — big-endian
    size prefix, payload, big-endian CRC-32 of the payload — inline
    ones decode straight from the descriptor. Size, CRC and the
    descriptor's cardinality are all enforced; a truncated or
    bit-rotted vector raises instead of silently resurrecting rows.
    """
    d = parse_dv_desc(desc)
    if "inline" in d:
        data = z85_decode(d["inline"], out_len=d["size"])
    else:
        blob = fsutil.read_bytes_range(d["path"], d["offset"],
                                       4 + d["size"] + 4)
        if len(blob) != 4 + d["size"] + 4:
            raise DeltaMetaError(
                f"DV frame truncated: wanted {4 + d['size'] + 4} bytes "
                f"at offset {d['offset']} of {d['path']}, got "
                f"{len(blob)}")
        (stored_size,) = struct.unpack(">I", blob[:4])
        if stored_size != d["size"]:
            raise DeltaMetaError(
                f"DV frame size prefix {stored_size} != descriptor "
                f"sizeInBytes {d['size']} ({d['path']})")
        data = blob[4:4 + d["size"]]
        (crc,) = struct.unpack(">I", blob[4 + d["size"]:])
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise DeltaMetaError(f"DV CRC mismatch in {d['path']} at "
                                 f"offset {d['offset']}")
    vals = _decode_dv_data(data)
    if len(vals) != d["cardinality"]:
        raise DeltaMetaError(
            f"DV cardinality mismatch: descriptor says "
            f"{d['cardinality']}, bitmap holds {len(vals)}")
    return vals


# ---------------------------------------------------------------------
# Log listing
# ---------------------------------------------------------------------

_RE_JSON = re.compile(r"^(\d{20})\.json$")
_RE_CKPT = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_RE_CKPT_PART = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
_RE_CKPT_V2 = re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(json|parquet)$")


def _log_dir(table_dir: str) -> str:
    return f"{table_dir.rstrip('/')}/_delta_log"


def _list_log(table_dir: str) -> dict:
    log = _log_dir(table_dir)
    names = fsutil.listdir(log)
    if not names:
        raise DeltaMetaError(f"no _delta_log under {table_dir}")
    jsons: set[int] = set()
    ckpts: dict[int, list[str]] = {}
    v2: dict[int, list[str]] = {}
    parts: dict[int, dict[int, tuple[int, str]]] = {}
    for n in names:
        m = _RE_JSON.match(n)
        if m:
            jsons.add(int(m.group(1)))
            continue
        m = _RE_CKPT.match(n)
        if m:
            ckpts[int(m.group(1))] = [f"{log}/{n}"]
            continue
        m = _RE_CKPT_PART.match(n)
        if m:
            v, part, total = int(m.group(1)), int(m.group(2)), int(
                m.group(3))
            parts.setdefault(v, {})[part] = (total, f"{log}/{n}")
            continue
        m = _RE_CKPT_V2.match(n)
        if m:
            v2.setdefault(int(m.group(1)), []).append(f"{log}/{n}")
    for v, pmap in parts.items():
        totals = {t for t, _ in pmap.values()}
        if len(totals) == 1 and set(pmap) == set(
                range(1, next(iter(totals)) + 1)):
            ckpts.setdefault(v, [p for _, p in sorted(
                (k, pth) for k, (_, pth) in pmap.items())])
    return {"jsons": jsons, "checkpoints": ckpts, "v2": v2}


def commit_timestamps_ms(table_dir: str) -> dict[int, int]:
    """Per-version commit timestamp (epoch ms) for every version whose
    JSON commit is still in the log, monotonicity-adjusted the way
    Delta's own history resolution does (a later version's timestamp
    is forced strictly past the previous one's — file mtimes can
    regress under copies).

    Per commit, in precedence order: the ``commitInfo`` action's
    ``inCommitTimestamp`` (the feature-gated authoritative field),
    then ``commitInfo.timestamp``, then the commit FILE's modification
    time (the spec's classic fallback). Checkpoint-only versions
    (JSON expired by log cleanup) are not time-resolvable and are
    absent — same visibility as Delta's own ``timestampAsOf``."""
    log = _log_dir(table_dir)
    lst = _list_log(table_dir)
    out: dict[int, int] = {}
    prev = None
    for v in sorted(lst["jsons"]):
        path = f"{log}/{v:020d}.json"
        ts = None
        for a in _read_json_commit(path):
            ci = a.get("commitInfo")
            if ci is not None:
                ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
                break
        if ts is None:
            ts = fsutil.mtime_ms(path)
        ts = int(ts)
        if prev is not None and ts <= prev:
            ts = prev + 1
        out[v] = ts
        prev = ts
    return out


def version_at_timestamp(table_dir: str, ts_ms: int) -> int:
    """Latest version whose commit timestamp is <= ``ts_ms`` — Delta's
    ``timestampAsOf`` resolution. Feed the result to any ``version=``
    parameter. Refuses a timestamp before the first resolvable commit
    (nothing existed yet) rather than guessing."""
    stamps = commit_timestamps_ms(table_dir)
    if not stamps:
        raise DeltaMetaError(
            f"no JSON commits left in the log under {table_dir} — "
            "timestamp time travel needs the commit files "
            "(log cleanup expired them); use version= instead")
    ok = [v for v, t in stamps.items() if t <= ts_ms]
    if not ok:
        lo = min(stamps.values())
        raise DeltaMetaError(
            f"timestamp {ts_ms} precedes the first resolvable commit "
            f"({lo}) of {table_dir}")
    return max(ok)


def _pick_checkpoint(lst: dict, version: int) -> tuple[int | None,
                                                       list[str],
                                                       bool]:
    """(checkpoint version | None, checkpoint files, is_v2) such that
    JSON commits (ckpt, version] are all present; None = replay from
    0. Classic checkpoints win over a v2 one at the same version (both
    are complete; classic has no extra reads). Several uuid-named v2
    files at one version are each complete per spec — the
    lexicographically greatest is picked, deterministically."""
    usable = [v for v in (set(lst["checkpoints"]) | set(lst["v2"]))
              if v <= version]
    for cv in sorted(usable, reverse=True):
        if all(j in lst["jsons"] for j in range(cv + 1, version + 1)):
            if cv in lst["checkpoints"]:
                return cv, lst["checkpoints"][cv], False
            return cv, [sorted(lst["v2"][cv])[-1]], True
    if all(j in lst["jsons"] for j in range(0, version + 1)):
        return None, [], False
    raise DeltaMetaError(
        f"cannot reconstruct version {version}: missing JSON commits "
        "and no usable checkpoint ≤ it")


# ---------------------------------------------------------------------
# Action reading + replay
# ---------------------------------------------------------------------

def _read_json_commit(path: str) -> list[dict]:
    out = []
    for line in fsutil.read_bytes(path).decode().splitlines():
        line = line.strip()
        if line:
            out.append(json.loads(line))
    return out


def _as_map(v) -> dict:
    """pyarrow map → dict (to_pylist yields [(k, v), ...])."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)


def _ckpt_parquet_actions(f: str, wanted: tuple[str, ...]) \
        -> list[dict]:
    """Checkpoint/sidecar parquet rows → the same action dicts JSON
    commits carry (one non-null struct per row; extra columns
    ignored)."""
    actions: list[dict] = []
    cols = [c for c in wanted
            if c in fsutil.parquet_file(f).schema_arrow.names]
    tab = fsutil.read_parquet(f, columns=cols)
    data = {c: tab.column(c).to_pylist() for c in cols}
    for i in range(tab.num_rows):
        for c in cols:
            v = data[c][i]
            if v is None:
                continue
            if c in ("add", "remove") and v.get(
                    "partitionValues") is not None:
                v = dict(v)
                v["partitionValues"] = _as_map(v["partitionValues"])
            if c == "metaData":
                v = dict(v)
                v["configuration"] = _as_map(v.get("configuration"))
            actions.append({c: v})
    return actions


def _read_checkpoint(files: list[str]) -> list[dict]:
    """Classic checkpoint (single or multi-part parquet)."""
    actions: list[dict] = []
    for f in files:
        actions.extend(_ckpt_parquet_actions(
            f, ("add", "remove", "metaData", "protocol")))
    return actions


def _read_checkpoint_v2(path: str, log_dir: str,
                        version: int) -> list[dict]:
    """V2 (uuid-named) checkpoint: the file itself is JSON lines or
    parquet, must carry a ``checkpointMetadata`` action whose version
    matches its file name, and may point at sidecar parquet files
    (``_delta_log/_sidecars/``) holding the add/remove actions."""
    wanted = ("add", "remove", "metaData", "protocol",
              "checkpointMetadata", "sidecar")
    if path.endswith(".json"):
        top = [a for a in _read_json_commit(path)
               if any(k in a for k in wanted)]
    else:
        top = _ckpt_parquet_actions(path, wanted)
    cms = [a["checkpointMetadata"] for a in top
           if a.get("checkpointMetadata") is not None]
    if len(cms) != 1:
        raise DeltaMetaError(
            f"v2 checkpoint {path!r} carries {len(cms)} "
            "checkpointMetadata actions (the spec requires exactly 1)")
    if int(cms[0].get("version", -1)) != version:
        raise DeltaMetaError(
            f"v2 checkpoint {path!r} says version "
            f"{cms[0].get('version')} but is named for {version} — "
            "corrupt or misplaced file")
    actions: list[dict] = []
    for a in top:
        sc = a.get("sidecar")
        if sc is not None:
            raw = sc["path"]
            sp = (raw if urlparse(raw).scheme or raw.startswith("/")
                  else f"{log_dir}/_sidecars/{raw}")
            actions.extend(_ckpt_parquet_actions(
                sp, ("add", "remove")))
        elif not a.get("checkpointMetadata"):
            actions.append(a)
    return actions


def _file_key(action: dict) -> tuple[str, str | None]:
    return (action["path"], dv_unique_id(action.get("deletionVector")))


def _replay(table_dir: str, version: int | None) -> dict:
    lst = _list_log(table_dir)
    if version is None:
        version = max(lst["jsons"] | set(lst["checkpoints"])
                      | set(lst["v2"]), default=-1)
        if version < 0:
            raise DeltaMetaError(f"empty _delta_log under {table_dir}")
    cv, cfiles, is_v2 = _pick_checkpoint(lst, version)
    adds: dict[tuple[str, str | None], dict] = {}
    meta = None
    protocol = None

    def _apply(actions: list[dict]):
        nonlocal meta, protocol
        for a in actions:
            if "add" in a and a["add"] is not None:
                adds[_file_key(a["add"])] = a["add"]
            elif "remove" in a and a["remove"] is not None:
                adds.pop(_file_key(a["remove"]), None)
            elif "metaData" in a and a["metaData"] is not None:
                meta = a["metaData"]
            elif "protocol" in a and a["protocol"] is not None:
                protocol = a["protocol"]

    log = _log_dir(table_dir)
    if cv is not None:
        _apply(_read_checkpoint_v2(cfiles[0], log, cv) if is_v2
               else _read_checkpoint(cfiles))
        start = cv + 1
    else:
        start = 0
    for v in range(start, version + 1):
        _apply(_read_json_commit(f"{log}/{v:020d}.json"))
    if protocol is None or meta is None:
        raise DeltaMetaError(
            f"log replay to version {version} found no "
            f"{'protocol' if protocol is None else 'metaData'} action")
    _check_protocol(protocol, meta)
    # One data file must carry at most one DV: two live (path, dvId)
    # entries sharing a path means a corrupt log (the writer forgot the
    # remove of the superseded entry).
    by_path: dict[str, int] = {}
    for p, _ in adds:
        by_path[p] = by_path.get(p, 0) + 1
    dupes = [p for p, c in by_path.items() if c > 1]
    if dupes:
        raise DeltaMetaError(
            f"corrupt log: {len(dupes)} path(s) live under multiple "
            f"deletion-vector identities, e.g. {dupes[0]!r}")
    return {"version": version, "adds": adds, "metaData": meta,
            "protocol": protocol}


def _check_protocol(protocol: dict, meta: dict) -> None:
    mrv = int(protocol.get("minReaderVersion", 1))
    if mrv > 3:
        raise DeltaMetaError(f"minReaderVersion {mrv} > 3 unsupported")
    feats = set(protocol.get("readerFeatures") or [])
    unknown = feats - _SUPPORTED_READER_FEATURES
    if unknown:
        raise DeltaMetaError(
            "unsupported readerFeatures (protocol requires refusing): "
            + ", ".join(sorted(unknown)))
    cfg = _as_map(meta.get("configuration"))
    cm = cfg.get("delta.columnMapping.mode", "none")
    if cm not in ("none", "", None, "name", "id"):
        raise DeltaMetaError(
            f"unknown column mapping mode {cm!r} (supported: none, "
            "name, id)")


def _rename_plan_type(t) -> dict | None:
    """Recursive rename plan for a Delta type JSON, or None when
    nothing below it needs renaming (primitives, and array/map chains
    of primitives). The mapping metadata lives on STRUCT FIELDS at
    every nesting level; array elements and map keys/values carry no
    names of their own, they only recurse."""
    if isinstance(t, str):
        return None
    kind = t.get("type")
    if kind == "struct":
        return {"kind": "struct",
                "fields": [_rename_plan_field(f) for f in t["fields"]]}
    if kind == "array":
        el = _rename_plan_type(t["elementType"])
        return {"kind": "array", "element": el} if el else None
    if kind == "map":
        k = _rename_plan_type(t["keyType"])
        v = _rename_plan_type(t["valueType"])
        return ({"kind": "map", "key": k, "value": v}
                if (k or v) else None)
    raise DeltaMetaError(
        f"unsupported type {kind!r} under column mapping")


def _rename_plan_field(f: dict) -> dict:
    md = f.get("metadata") or {}
    phys = md.get("delta.columnMapping.physicalName")
    if not phys:
        raise DeltaMetaError(
            f"column-mapped table lacks physicalName metadata for "
            f"{f['name']!r}")
    fid = md.get("delta.columnMapping.id")
    r = {"logical": f["name"], "physical": phys,
         "id": int(fid) if fid is not None else None}
    ch = _rename_plan_type(f["type"])
    if ch:
        r["children"] = ch
    return r


def column_renames(meta: dict) -> list[dict] | None:
    """Column-mapping rename plan, or None when the table has no
    mapping: ``[{"logical", "physical", "id", "children"?}]`` per
    top-level field, from the schemaString's
    ``delta.columnMapping.physicalName`` / ``delta.columnMapping.id``
    metadata. Resolution in the encode task prefers the parquet FIELD
    ID when both sides carry one (the mode=id rule — it survives
    physical renames), else the physical name (mode=name). Nested
    schemas get a recursive ``children`` plan (struct fields rename at
    every level, field-id resolved per level; array/map levels just
    recurse) applied zero-copy via an Arrow type ``view`` in the
    encode task (``pipeline.rename_batch``)."""
    cfg = _as_map(meta.get("configuration"))
    if cfg.get("delta.columnMapping.mode", "none") in ("none", "",
                                                       None):
        return None
    return [_rename_plan_field(f)
            for f in json.loads(meta["schemaString"])["fields"]]


# ---------------------------------------------------------------------
# Scan planning
# ---------------------------------------------------------------------

def _resolve_path(table_dir: str, raw: str) -> str:
    p = unquote(raw)
    if p.startswith("/") or urlparse(p).scheme:
        return p
    return f"{table_dir.rstrip('/')}/{p}"


def _part_match(pv: dict, flt: dict) -> bool:
    for k, want in flt.items():
        got = pv.get(k)
        if want is None:
            if got is not None:
                return False
        else:
            s = ("true" if want is True else
                 "false" if want is False else str(want))
            if got != s:
                return False
    return True


def snapshot_scan(table_dir: str, version: int | None = None,
                  partition_filter: dict | None = None) -> dict:
    """Scan plan for one snapshot: ``{"version", "data_files",
    "row_deletes" ({abs data path: ["deltadv:{json}"]}),
    "partition_values" ({abs data path: {col: str|None}}),
    "partition_columns", "schema_string"}``.

    Feed ``data_files``/``row_deletes`` to ``encode_path(input_files=,
    row_deletes=)``; deletion vectors apply exactly like Iceberg
    position deletes (the shared per-task filtered read).
    ``partition_filter`` ({col: value}) prunes at planning against the
    log's string-serialized partition values (bools serialize
    true/false, None matches a null partition) — Delta data files do
    NOT contain partition columns, so pruning here is the only layer.
    """
    st = _replay(table_dir, version)
    pcols = st["metaData"].get("partitionColumns") or []
    renames = column_renames(st["metaData"])
    # column-mapped tables key add.partitionValues by PHYSICAL name
    # while metaData.partitionColumns stays logical — translate back
    # (tolerantly: an unmapped key passes through, covering writers
    # that recorded logical keys)
    log_of_phys = {r["physical"]: r["logical"] for r in (renames or [])}
    files, deletes, pvals = [], {}, {}
    for (raw_path, _), add in sorted(st["adds"].items()):
        pv = {log_of_phys.get(k, k): v
              for k, v in _as_map(add.get("partitionValues")).items()}
        if partition_filter and not _part_match(pv, partition_filter):
            continue
        ap = _resolve_path(table_dir, raw_path)
        files.append(ap)
        if pcols:
            pvals[ap] = {c: pv.get(c) for c in pcols}
        dv = add.get("deletionVector")
        if dv:
            deletes[ap] = [dv_descriptor(dv, table_dir)]
    return {"version": st["version"], "data_files": files,
            "row_deletes": deletes, "partition_values": pvals,
            "partition_columns": list(pcols),
            "schema_string": st["metaData"].get("schemaString"),
            "column_renames": renames}


def snapshot_scan_diff(table_dir: str, from_version: int,
                       to_version: int | None = None,
                       partition_filter: dict | None = None) -> dict:
    """Incremental scan: data files live at ``to`` but not at ``from``,
    with ``to``'s DV mapping restricted to them — the CDC ingest unit,
    same contract as ``iceberg_meta.snapshot_scan_diff``.

    Refuses when ``to`` changes the effective rows of a file already
    live at ``from``: a file removed (rewrite/compaction/COW delete),
    or its deletion-vector identity changed (new deletes arriving, or
    rows resurrected) — an append-only encode tree cannot retract rows
    it already committed.
    """
    a = snapshot_scan(table_dir, from_version, partition_filter)
    b = snapshot_scan(table_dir, to_version, partition_filter)
    a_set = set(a["data_files"])
    b_set = set(b["data_files"])
    removed = sorted(a_set - b_set)
    if removed:
        raise DeltaMetaError(
            f"{len(removed)} data file(s) live at version "
            f"{a['version']} are gone at {b['version']} (e.g. "
            f"{removed[0]!r}) — rewrites/compaction/COW deletes cannot "
            "be appended incrementally; run a fresh full encode")
    changed = sorted(
        p for p in (a_set & b_set)
        if (a["row_deletes"].get(p) or []) != (b["row_deletes"].get(p)
                                               or []))
    if changed:
        raise DeltaMetaError(
            f"deletion vectors changed on {len(changed)} already-"
            f"encoded file(s) between versions {a['version']} and "
            f"{b['version']} (e.g. {changed[0]!r}) — committed chunks "
            "would serve retracted rows; run a fresh full encode")
    added = [p for p in b["data_files"] if p not in a_set]
    return {"from_version": a["version"], "version": b["version"],
            "data_files": added,
            "row_deletes": {p: v for p, v in b["row_deletes"].items()
                            if p in set(added)},
            "partition_values": {p: v for p, v in
                                 b["partition_values"].items()
                                 if p in set(added)},
            "partition_columns": b["partition_columns"],
            "schema_string": b["schema_string"],
            "column_renames": b["column_renames"]}


# Delta logical type -> encode_path const_schema type for partition
# columns. Partition values serialize as strings in the log; the
# encode task casts them back through these declared types.
_PART_TYPE_MAP = {
    "integer": "int32", "long": "int64", "short": "int16",
    "byte": "int8", "string": "string", "boolean": "bool",
    "double": "float64", "float": "float32", "date": "date32",
    # the log serializes both as "{y}-{m}-{d} {h}:{m}:{s}[.micros]",
    # which the in-task string->timestamp cast parses
    "timestamp": "timestamp_us", "timestampNtz": "timestamp_us",
}


def partition_const_columns(scan: dict) -> tuple[dict, dict]:
    """(const_columns, const_schema) for ``encode_path`` from a
    :func:`snapshot_scan` result — injects the table's partition
    columns (which Delta stores ONLY in the log, not in the data
    files) as typed per-file constants so the encoded tree
    serves them like any other column. Values parse from the log's
    string serialization through the table schema's logical types;
    decimal/binary/nested partition types refuse (no unambiguous
    string parse here — partition on simpler types or pre-join).
    A constant chunk takes FOR at width 0 (an empty payload), so storage
    cost is nil.
    """
    pcols = scan["partition_columns"]
    if not pcols:
        return {}, {}
    fields = json.loads(scan["schema_string"])["fields"]
    ftype = {f["name"]: f["type"] for f in fields}
    const_schema = {}
    for c in pcols:
        t = ftype.get(c)
        if not isinstance(t, str) or t not in _PART_TYPE_MAP:
            raise DeltaMetaError(
                f"partition column {c!r} has unsupported type {t!r} "
                f"for constant injection (supported: "
                f"{sorted(_PART_TYPE_MAP)})")
        const_schema[c] = _PART_TYPE_MAP[t]

    def _parse(s: str | None, t: str):
        if s is None:
            return None
        if t in ("integer", "long", "short", "byte"):
            return int(s)
        if t in ("double", "float"):
            return float(s)
        if t == "boolean":
            return s == "true"
        return s  # string / date (ISO string; cast lands in-task)

    const_columns = {
        f: {c: _parse(pv.get(c), ftype[c]) for c in pcols}
        for f, pv in scan["partition_values"].items()}
    return const_columns, const_schema


_EXPORT_PRIMS = {"string", "long", "integer", "short", "byte", "double",
                 "float", "boolean", "binary", "date", "timestamp",
                 "timestamp_ntz"}


def _check_exportable(t) -> None:
    """Refuse Spark types with no safe Delta schemaString spelling —
    a table other Delta readers cannot interpret is worse than none."""
    if isinstance(t, str):
        if t in _EXPORT_PRIMS or t.startswith("decimal("):
            return
        raise NotImplementedError(f"no Delta mapping for type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        for f in t["fields"]:
            _check_exportable(f["type"])
    elif kind == "array":
        _check_exportable(t["elementType"])
    elif kind == "map":
        _check_exportable(t["keyType"])
        _check_exportable(t["valueType"])
    else:
        raise NotImplementedError(f"no Delta mapping for type {kind!r}")


def export_table(df, table_dir: str,
                 partition_by: list[str] | None = None) -> dict:
    """Write a DataFrame as a one-commit Delta table any Delta reader
    can open: Spark writes the data parquet at the table root, then
    version 0 of ``_delta_log`` records protocol(1,2) + metaData
    (schemaString IS Spark's StructType JSON — the Delta wire format)
    + one ``add`` per file with size and ``numRecords`` stats.

    ``partition_by``: hive-layout partitioned export, spec-complete —
    Spark's ``partitionBy`` writes ``col=value/`` directories (and per
    the Delta protocol drops the partition columns from the data
    files), each ``add`` carries the ``partitionValues`` map decoded
    from its directory path (hive-unescaped; ``__HIVE_DEFAULT_PARTITION__``
    -> null), and ``metaData.partitionColumns`` lists the columns — so
    a reader reconstructs them exactly, including ours
    (``snapshot_scan`` + ``encode_path(const_columns=)``). At 100 TB
    an unpartitioned export is an antipattern; this is the
    partition-pruning handle.

    The log JSON publishes atomically-at-visibility through ``fsutil``
    (a reader never sees a table whose log references missing files:
    data lands first, the commit is the visibility point — the same
    ordering Delta writers use). Caveats, stated: single commit, no
    column min/max stats. The export inverse of the native Delta
    *reader* (`snapshot_scan`), not a transactional writer. Returns
    {"table_dir", "files", "n_rows"} after a readback gate through our
    own reader.
    """
    import time as _time
    import urllib.parse as _up
    import uuid as _uuid

    import pyarrow.parquet as pq

    if not fsutil.is_local(table_dir):
        raise NotImplementedError(
            "export_table writes local trees only (Spark's parquet "
            "writer + os.path metadata); copy or mount remote targets")
    schema_json = json.loads(df.schema.json())
    _check_exportable(schema_json)
    part_cols = list(partition_by or [])
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns {missing} not in "
                         f"DataFrame columns {df.columns}")
    base = table_dir.rstrip("/")
    w = df.write
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(base)
    names = []
    for root, _dirs, fns in os.walk(base):
        rel = os.path.relpath(root, base)
        # skip the log DIRECTORY only — a substring test would silently
        # export an empty table for any table_dir whose own path
        # contains "_delta_log"
        if rel.split(os.sep)[0] == "_delta_log":
            continue
        for f in fns:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                names.append(os.path.relpath(os.path.join(root, f),
                                             base))
    names.sort()
    now_ms = int(_time.time() * 1000)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": str(_uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }},
    ]
    n_rows = 0
    for n in names:
        p = os.path.join(base, n)
        cnt = pq.read_metadata(p).num_rows
        n_rows += cnt
        pv: dict[str, str | None] = {}
        if part_cols:
            # decode the hive path segments Spark wrote (in order)
            segs = dict(
                seg.split("=", 1) for seg in n.split(os.sep)[:-1]
                if "=" in seg)
            for c in part_cols:
                if c not in segs:
                    raise RuntimeError(
                        f"partitioned data file {n} lacks a {c}= path "
                        f"segment")
                v = _up.unquote(segs[c])
                pv[c] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        actions.append({"add": {
            "path": quote(n.replace(os.sep, "/")),
            "partitionValues": pv,
            "size": os.path.getsize(p),
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps({"numRecords": cnt}),
        }})
    body = "\n".join(json.dumps(a) for a in actions) + "\n"
    fsutil.makedirs_any(f"{base}/_delta_log")
    fsutil.put_bytes(f"{base}/_delta_log/{0:020d}.json",
                     body.encode())
    scan = snapshot_scan(base)
    back = sorted(scan["data_files"])
    want = sorted(os.path.join(base, n) for n in names)
    if back != want:
        raise RuntimeError(
            f"export readback mismatch: wrote {len(want)} files, "
            f"snapshot lists {len(back)}")
    return {"table_dir": base, "files": want, "n_rows": n_rows}
