"""Apache Hudi merge-on-read log files: native reader + slice merge.

Extends the Hudi source (``hudi_meta``) from COPY_ON_WRITE to
MERGE_ON_READ: a MOR file slice is a base parquet file plus a chain of
``.log`` files holding Avro-encoded upserts and deletes; the snapshot
rows are the merge of the two. This module decodes the log-file
container format in pure Python/pyarrow (no Hudi runtime, no jar),
merges each slice, and materializes the merged rows as parquet through
the same idempotent staged-tree protocol as the JSONL corpus staging
(``jsonl_io``) — the staged files then feed ``encode_path`` unchanged.

Log-file block format (public, from the Hudi writer
`HoodieLogFormatWriter.java` / `HoodieLogBlock.java`, format v1; all
integers big-endian as written by java DataOutputStream):

    MAGIC  b"#HUDI#"                                     (6 bytes)
    i64    block length = 4 + 4 + len(header) + 8
                          + len(content) + len(footer) + 8
    i32    log format version (1)
    i32    block type ordinal (HoodieLogBlockType)
    header i32 entry count, then per entry:
           i32 HeaderMetadataType ordinal, i32 byte len, utf-8 bytes
    i64    content length
    bytes  content
    footer (same map encoding as header, normally empty)
    i64    total block length INCLUDING magic (reverse-seek pointer)

Block types (`HoodieLogBlockType` ordinals): 0 COMMAND, 1 DELETE,
2 CORRUPT (in-memory marker, never written), 3 AVRO_DATA, 4 HFILE_DATA,
5 PARQUET_DATA, 6 CDC_DATA. Header keys (`HeaderMetadataType`):
0 INSTANT_TIME, 1 TARGET_INSTANT_TIME, 2 SCHEMA, 3 COMMAND_BLOCK_TYPE.

Content payloads:

- AVRO_DATA (`HoodieAvroDataBlock.serializeRecords`): i32 format
  version (2+: the writer schema travels in the SCHEMA header; v1
  embedded it in content and is refused), i32 record count, then per
  record i32 length + Avro binary datum. Decoded with ``avro_io``.
- DELETE (`HoodieDeleteBlock.getContentBytes`): i32 version, i32
  length, payload. Version >= 3 is an Avro binary
  ``HoodieDeleteRecordList`` datum (fixed public schema below);
  versions 1-2 are Kryo-serialized java objects and are REFUSED.
- PARQUET_DATA (`HoodieParquetDataBlock`): the content bytes are a
  complete parquet file.
- COMMAND: empty content; COMMAND_BLOCK_TYPE 0 = rollback — previously
  scanned blocks whose INSTANT_TIME equals TARGET_INSTANT_TIME are
  invalidated (`AbstractHoodieLogRecordReader` rollback handling).
- HFILE_DATA / CDC_DATA: refused loudly.

Merge semantics implemented = COMMIT_TIME_ORDERING with the default
overwrite-latest payload: blocks apply in scan order (log files in
(version, write-token) order, blocks forward within a file), a later
record for a key fully replaces the earlier one, a delete tombstones
the key until a later upsert revives it, and the base row is replaced
or dropped accordingly. Blocks whose INSTANT_TIME is not a COMPLETED
timeline instant are skipped (a crashed writer's orphan blocks are
invisible, same visibility rule as pending instants). Tables that
declare event-time ordering (a precombine field / non-default payload
or merge mode) are refused by ``hudi_meta.snapshot_scan`` before this
module runs — modeling ``preCombine`` ordering-value comparisons
without the Hudi runtime would risk silently resurrecting overwritten
rows.

Scale shape: the file slice (the merge unit Hudi itself uses for
compaction) is the staging unit, packed into at most one Spark task per
core; for each slice a task reads its base file + log chain, merges in
memory, and publishes one staged parquet
atomically-at-visibility. Log chains are bounded by compaction in any
healthy MOR table, and a task merges one slice at a time, so its
memory is the slice size — the same
unit a Hudi compactor would materialize. O(slices) summary rows to
the driver, zero shuffles.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import posixpath
import struct
import tempfile
import uuid

from ..plans import fsutil
from ..plans.filetasks import run_file_tasks
from . import avro_io

MAGIC = b"#HUDI#"

# HoodieLogBlockType ordinals
COMMAND_BLOCK = 0
DELETE_BLOCK = 1
CORRUPT_BLOCK = 2
AVRO_DATA_BLOCK = 3
HFILE_DATA_BLOCK = 4
PARQUET_DATA_BLOCK = 5
CDC_DATA_BLOCK = 6

# HeaderMetadataType ordinals
H_INSTANT_TIME = 0
H_TARGET_INSTANT_TIME = 1
H_SCHEMA = 2
H_COMMAND_BLOCK_TYPE = 3

_RECORD_KEY_FIELD = "_hoodie_record_key"

# org.apache.hudi.avro.model.HoodieDeleteRecordList — the fixed public
# schema of delete-block v3 payloads (HoodieDeleteRecordList.avsc).
DELETE_RECORD_LIST_SCHEMA = {
    "type": "record", "name": "HoodieDeleteRecordList",
    "namespace": "org.apache.hudi.avro.model",
    "fields": [{
        "name": "deleteRecordList",
        "type": {"type": "array", "items": {
            "type": "record", "name": "HoodieDeleteRecord",
            "fields": [
                {"name": "recordKey", "type": ["null", "string"],
                 "default": None},
                {"name": "partitionPath", "type": ["null", "string"],
                 "default": None},
                {"name": "orderingVal",
                 "type": ["null", "string", "int", "long", "float",
                          "double", "bytes", "boolean"],
                 "default": None},
            ]}},
    }],
}


class HudiLogError(ValueError):
    """Hudi log file is unsupported or inconsistent."""


def parse_log_name(name: str) -> tuple[str, str, int, str]:
    """``(fileId, baseInstant, logVersion, writeToken)`` from a log
    file name ``.{fileId}_{baseInstant}.log.{version}_{writeToken}``
    (`FSUtils.java` LOG_FILE_PATTERN)."""
    base = posixpath.basename(name)
    if not base.startswith("."):
        raise HudiLogError(f"not a Hudi log file name: {name!r}")
    stem, sep, tail = base[1:].partition(".log.")
    if not sep:
        raise HudiLogError(f"not a Hudi log file name: {name!r}")
    fid, sep2, instant = stem.rpartition("_")
    if not sep2 or not instant.isdigit():
        raise HudiLogError(f"log file name missing base instant: {name!r}")
    ver_s, _, token = tail.partition("_")
    if not ver_s.isdigit():
        raise HudiLogError(f"log file name missing version: {name!r}")
    return fid, instant, int(ver_s), token


# ---------------------------------------------------------------------------
# block-level reader


def _read_meta_map(buf: io.BytesIO) -> dict[int, str]:
    (n,) = struct.unpack(">i", buf.read(4))
    out: dict[int, str] = {}
    for _ in range(n):
        k, ln = struct.unpack(">ii", buf.read(8))
        out[k] = buf.read(ln).decode("utf-8")
    return out


def _meta_map_bytes(meta: dict[int, str]) -> bytes:
    out = bytearray(struct.pack(">i", len(meta)))
    for k, v in meta.items():
        vb = v.encode("utf-8")
        out += struct.pack(">ii", k, len(vb))
        out += vb
    return bytes(out)


def read_log_blocks(data: bytes, name: str = "<log>") -> list[dict]:
    """Parse a log file's bytes into block dicts ``{"type": int,
    "header": {ordinal: str}, "content": bytes}``.

    An incomplete final block (crashed writer mid-append) is dropped —
    the real reader marks it corrupt and moves on, and its instant can
    never be completed, so dropping loses nothing visible. A mangled
    block BODY under a plausible length prefix is refused loudly.
    """
    blocks: list[dict] = []
    pos = 0
    total = len(data)
    while pos < total:
        if total - pos < 14:
            break  # truncated tail: partial magic+length of a dead write
        if data[pos:pos + 6] != MAGIC:
            raise HudiLogError(
                f"bad log block magic at offset {pos} in {name}")
        (blen,) = struct.unpack(">q", data[pos + 6:pos + 14])
        if pos + 14 + blen > total:
            break  # truncated final block
        buf = io.BytesIO(data[pos + 14:pos + 14 + blen])
        fmt_ver, btype = struct.unpack(">ii", buf.read(8))
        if fmt_ver != 1:
            raise HudiLogError(
                f"unsupported log format version {fmt_ver} in {name}")
        header = _read_meta_map(buf)
        (clen,) = struct.unpack(">q", buf.read(8))
        content = buf.read(clen)
        if len(content) != clen:
            raise HudiLogError(f"log block content truncated in {name}")
        _read_meta_map(buf)  # footer, unused
        (reverse,) = struct.unpack(">q", buf.read(8))
        if reverse != 14 + blen:
            raise HudiLogError(
                f"log block reverse pointer mismatch in {name}: "
                f"{reverse} != {14 + blen}")
        blocks.append({"type": btype, "header": header,
                       "content": content})
        pos += 14 + blen
    return blocks


def decode_data_block(block: dict, name: str = "<log>") -> list[dict]:
    """Records of an AVRO_DATA or PARQUET_DATA block as python dicts."""
    if block["type"] == PARQUET_DATA_BLOCK:
        import pyarrow.parquet as pq
        return pq.read_table(io.BytesIO(block["content"]),
                             use_threads=False).to_pylist()
    if block["type"] != AVRO_DATA_BLOCK:
        raise HudiLogError(f"not a data block: type {block['type']}")
    schema_json = block["header"].get(H_SCHEMA)
    if not schema_json:
        raise HudiLogError(f"avro data block without SCHEMA header in {name}")
    schema = json.loads(schema_json)
    buf = io.BytesIO(block["content"])
    (ver, n) = struct.unpack(">ii", buf.read(8))
    if ver < 2:
        raise HudiLogError(
            f"avro data block content version {ver} (schema-in-content "
            f"layout) in {name} — refusing")
    blobs = []
    for _ in range(n):
        (ln,) = struct.unpack(">i", buf.read(4))
        blobs.append(buf.read(ln))
    return avro_io.decode_datums(schema, blobs)


def decode_delete_block(block: dict, name: str = "<log>") -> list[str]:
    """Record keys deleted by a DELETE block (v3+ Avro payload)."""
    buf = io.BytesIO(block["content"])
    (ver,) = struct.unpack(">i", buf.read(4))
    if ver < 3:
        raise HudiLogError(
            f"delete block content version {ver} in {name} is "
            "Kryo-serialized (Hudi < 0.14 writer) — refusing; compact "
            "the table or read via the Hudi Spark reader")
    (ln,) = struct.unpack(">i", buf.read(4))
    datum = avro_io.decode_datum(DELETE_RECORD_LIST_SCHEMA, buf.read(ln))
    keys = []
    for rec in datum["deleteRecordList"]:
        if rec.get("recordKey") is None:
            raise HudiLogError(f"delete record without key in {name}")
        keys.append(rec["recordKey"])
    return keys


# ---------------------------------------------------------------------------
# slice merge


def scan_slice_logs(log_paths: list[str],
                    valid_instants: set[str]) -> tuple[dict, dict]:
    """Apply a slice's log chain in scan order.

    Returns ``(upserts, tombstones)``: ``upserts`` maps record key ->
    record dict in first-upsert order (later upserts replace in
    place); ``tombstones`` maps key -> True for keys whose LAST event
    was a delete. Rollback command blocks invalidate earlier blocks of
    the target instant; blocks from non-completed instants are skipped.
    """
    staged: list[dict] = []
    for path in log_paths:
        data = fsutil.read_bytes(path)
        for block in read_log_blocks(data, name=path):
            if block["type"] == COMMAND_BLOCK:
                target = block["header"].get(H_TARGET_INSTANT_TIME)
                staged = [b for b in staged
                          if b["header"].get(H_INSTANT_TIME) != target]
                continue
            if block["type"] in (HFILE_DATA_BLOCK, CDC_DATA_BLOCK):
                raise HudiLogError(
                    f"unsupported log block type {block['type']} "
                    f"(hfile/cdc) in {path}")
            staged.append(block)
    upserts: dict[str, dict] = {}
    deleted: dict[str, bool] = {}
    last_inst: str | None = None
    for block in staged:
        inst = block["header"].get(H_INSTANT_TIME)
        if inst not in valid_instants:
            continue  # orphan block of a failed write
        if last_inst is not None and inst < last_inst:
            # scan order is file order (log version, then offset); a
            # commit that appended to a NON-latest log file (e.g. a
            # concurrent writer) would make file order disagree with
            # commit order, and replaying it as-is silently lets the
            # EARLIER commit win — refuse rather than mis-merge
            raise HudiLogError(
                f"log blocks out of commit order across the chain "
                f"({last_inst} then {inst}): a commit appended to a "
                "non-latest log file (concurrent writers?) — "
                "commit-time-ordered replay cannot model this; "
                "compact the table or read via the Hudi Spark reader")
        last_inst = inst
        if block["type"] == DELETE_BLOCK:
            for key in decode_delete_block(block):
                upserts.pop(key, None)
                deleted[key] = True
            continue
        for rec in decode_data_block(block):
            key = rec.get(_RECORD_KEY_FIELD)
            if key is None:
                raise HudiLogError(
                    f"log record without {_RECORD_KEY_FIELD} (virtual "
                    "meta fields?) — refusing")
            deleted.pop(key, None)
            upserts[key] = rec
    return upserts, deleted


def _avro_to_arrow_type(avro_type):
    import pyarrow as pa
    if isinstance(avro_type, list):  # nullable union
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) != 1:
            raise HudiLogError(f"unsupported avro union {avro_type!r}")
        return _avro_to_arrow_type(non_null[0])
    if isinstance(avro_type, dict):
        return _avro_to_arrow_type(avro_type["type"])
    prim = {"boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
            "float": pa.float32(), "double": pa.float64(),
            "string": pa.string(), "bytes": pa.binary()}
    if avro_type not in prim:
        raise HudiLogError(
            f"avro type {avro_type!r} not supported for a log-only "
            "slice schema — write a base file or simplify the schema")
    return prim[avro_type]


def _arrow_schema_from_avro(schema: dict):
    import pyarrow as pa
    if schema.get("type") != "record":
        raise HudiLogError("log block schema is not a record")
    return pa.schema([(f["name"], _avro_to_arrow_type(f["type"]))
                      for f in schema["fields"]])


def merge_slice(base_path: str | None, log_paths: list[str],
                valid_instants: set[str]):
    """Materialize one MOR file slice as a pyarrow Table: surviving
    base rows in file order (deleted and updated keys dropped), then
    the updated records in base key order, then net-new keys in
    first-upsert order — deterministic under retries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    upserts, deleted = scan_slice_logs(log_paths, valid_instants)
    if base_path is not None:
        base = fsutil.read_parquet(base_path)
        schema = base.schema
        if _RECORD_KEY_FIELD not in schema.names:
            raise HudiLogError(
                f"base file {base_path} has no {_RECORD_KEY_FIELD} "
                "column (hoodie.populate.meta.fields=false?) — refusing")
    else:
        base = None
        if not upserts:
            # delete-only log chain with no base: nothing lives
            raise HudiLogError(
                "log-only slice with no upsert records carries no "
                "schema to materialize")
        first_block_schema = None
        for path in log_paths:
            for block in read_log_blocks(fsutil.read_bytes(path)):
                if block["type"] == AVRO_DATA_BLOCK:
                    first_block_schema = json.loads(
                        block["header"][H_SCHEMA])
                    break
                if block["type"] == PARQUET_DATA_BLOCK:
                    first_block_schema = pq.read_schema(
                        io.BytesIO(block["content"]))
                    break
            if first_block_schema is not None:
                break
        schema = (first_block_schema
                  if isinstance(first_block_schema, pa.Schema)
                  else _arrow_schema_from_avro(first_block_schema))

    if base is not None:
        import pyarrow.compute as pc

        # vectorized: never materialize the base's key column as a
        # Python list — per-task memory stays O(log chain), not
        # O(base rows), which is what keeps a 1 GB base + small log
        # tail slice cheap at 100 TB table scale
        keycol = base.column(_RECORD_KEY_FIELD)
        affected = sorted(set(deleted) | set(upserts))
        if affected:
            aset = pa.array(affected, pa.string())
            surviving = base.filter(
                pc.invert(pc.is_in(keycol, value_set=aset)))
        else:
            surviving = base
        if upserts:
            # replaced records in base key order (bounded: only the
            # upserted keys actually present come back to Python)
            ukeys = pa.array(sorted(upserts), pa.string())
            base_order = keycol.filter(
                pc.is_in(keycol, value_set=ukeys)).to_pylist()
            if len(base_order) != len(set(base_order)):
                # Hudi's contract is one record per key per file
                # group; a duplicated key in the base makes "replace
                # the base row" ambiguous — refuse rather than pick
                raise HudiLogError(
                    f"base file {base_path} holds duplicate "
                    "_hoodie_record_key values for upserted keys "
                    "(dedup-disabled insert or corrupt base) — "
                    "refusing to merge")
            rows = [upserts.pop(k) for k in base_order]
        else:
            rows = []
        new_rows = list(upserts.values())
        extra = pa.Table.from_pylist(rows + new_rows, schema=schema) \
            if (rows or new_rows) else None
        return (pa.concat_tables([surviving, extra])
                if extra is not None else surviving)
    return pa.Table.from_pylist(list(upserts.values()), schema=schema)


# ---------------------------------------------------------------------------
# distributed staging (slices packed into at most one task per core,
# jsonl_io protocol)


def staged_slice_name(slice_: dict) -> str:
    """Deterministic staged name: md5 over the slice identity (base
    path + ordered log paths + the commit instants that wrote log
    blocks) — same slice -> same name across runs, so staging is
    crash-retryable and append-mode encode lineage dedupes, exactly
    like ``jsonl_io.staged_name``. The instants matter: Hudi appends
    blocks to an EXISTING log file across deltacommits, so the path
    set alone would collide a slice with its appended-to successor
    and skip-if-exists would silently serve stale rows."""
    ident = json.dumps([slice_.get("base"), slice_["logs"],
                        list(slice_.get("log_instants", ()))])
    return hashlib.md5(ident.encode()).hexdigest() + ".parquet"


def stage_mor_slices(spark, scan: dict, staging_dir: str,
                     compression: str = "zstd") -> dict:
    """Materialize every log-bearing slice of a ``hudi_meta``
    MOR ``snapshot_scan`` into ``staging_dir`` (slices LPT-packed on
    their base and log bytes into at most one task per core,
    ``filetasks.run_file_tasks``; each slice stages on its own with
    atomically-visible idempotent writes) and return
    ``{"files": [encode inputs: passthrough bases + staged parquet],
    "n_staged", "n_skipped", "n_passthrough", "partitions"}`` for
    ``encode_path(input_files=...)``."""
    import pyarrow as pa

    slices = scan["slices"]
    todo = {key: s for key, s in slices.items() if s["logs"]}
    passthrough = sorted(s["base"] for s in slices.values()
                         if not s["logs"] and s["base"])
    partitions = {s["base"]: key[0] for key, s in slices.items()
                  if not s["logs"] and s["base"]}
    base = staging_dir.rstrip("/")
    out_files: list[str] = []
    n_staged = n_skipped = 0
    if todo:
        fsutil.makedirs_any(base)
        valid = sorted(scan["valid_instants"])
        local = fsutil.is_local(base)
        summary = pa.schema([("staged", pa.string()),
                             ("n_rows", pa.int64()),
                             ("skipped", pa.bool_())])
        jobs = []
        sources = []  # each slice's base and log paths
        for key, s in sorted(todo.items()):
            staged = f"{base}/{staged_slice_name(s)}"
            jobs.append((json.dumps({
                "base": s.get("base"), "logs": s["logs"],
                "staged": staged})))
            sources.append([p for p in (s.get("base"), *s["logs"]) if p])
            partitions[staged] = key[0]
            out_files.append(staged)
        # a slice's source bytes, from one size lookup for every slice
        sizes = iter(fsutil.file_sizes([p for ps in sources for p in ps]))
        weights = [sum(next(sizes) for _ in ps) for ps in sources]

        def _stage(_pid, slices):
            import pyarrow.parquet as pq
            vset = set(valid)
            for spec_json in slices.column("spec").to_pylist():
                spec = json.loads(spec_json)
                staged = spec["staged"]
                if fsutil.exists(staged) and \
                        fsutil.file_size(staged) > 0:
                    yield pa.RecordBatch.from_pylist(
                        [{"staged": staged, "n_rows": 0,
                          "skipped": True}], schema=summary)
                    continue
                tbl = merge_slice(spec["base"], spec["logs"], vset)
                if local:
                    tmp = f"{base}/.{uuid.uuid4().hex}.tmp"
                    pq.write_table(tbl, tmp, compression=compression)
                    os.replace(tmp, staged)
                else:
                    spool = (os.environ.get("SPARK_LOCAL_DIRS", "")
                             .split(",")[0].strip()
                             or tempfile.gettempdir())
                    tmp = os.path.join(spool,
                                       f".mor-{uuid.uuid4().hex}")
                    try:
                        pq.write_table(tbl, tmp,
                                       compression=compression)
                        fsutil.put_file(staged, tmp)
                    finally:
                        if os.path.exists(tmp):
                            os.remove(tmp)
                yield pa.RecordBatch.from_pylist(
                    [{"staged": staged, "n_rows": tbl.num_rows,
                      "skipped": False}], schema=summary)

        rows = run_file_tasks(
            spark, [(j,) for j in jobs], pa.schema([("spec", pa.string())]),
            _stage, summary, weights=weights).to_pylist()
        n_staged = sum(1 for r in rows if not r["skipped"])
        n_skipped = sum(1 for r in rows if r["skipped"])
    return {"files": sorted(passthrough + out_files),
            "n_staged": n_staged, "n_skipped": n_skipped,
            "n_passthrough": len(passthrough),
            "partitions": partitions}


# ---------------------------------------------------------------------------
# fixture writer (tests): spec-shaped log files


def _block_bytes(btype: int, header: dict[int, str],
                 content: bytes) -> bytes:
    hb = _meta_map_bytes(header)
    fb = _meta_map_bytes({})
    blen = 4 + 4 + len(hb) + 8 + len(content) + len(fb) + 8
    out = bytearray(MAGIC)
    out += struct.pack(">q", blen)
    out += struct.pack(">ii", 1, btype)
    out += hb
    out += struct.pack(">q", len(content))
    out += content
    out += fb
    out += struct.pack(">q", 14 + blen)
    return bytes(out)


def avro_data_block_bytes(instant: str, schema: dict,
                          records: list[dict]) -> bytes:
    body = bytearray(struct.pack(">ii", 3, len(records)))
    for rec in records:
        blob = avro_io.encode_datum(schema, rec)
        body += struct.pack(">i", len(blob))
        body += blob
    return _block_bytes(AVRO_DATA_BLOCK,
                        {H_INSTANT_TIME: instant,
                         H_SCHEMA: json.dumps(schema)},
                        bytes(body))


def parquet_data_block_bytes(instant: str, table) -> bytes:
    import pyarrow.parquet as pq
    sink = io.BytesIO()
    pq.write_table(table, sink)
    return _block_bytes(PARQUET_DATA_BLOCK, {H_INSTANT_TIME: instant},
                        sink.getvalue())


def delete_block_bytes(instant: str, keys: list[str],
                       version: int = 3) -> bytes:
    datum = {"deleteRecordList": [
        {"recordKey": k, "partitionPath": "", "orderingVal": None}
        for k in keys]}
    payload = avro_io.encode_datum(DELETE_RECORD_LIST_SCHEMA, datum)
    body = struct.pack(">ii", version, len(payload)) + payload
    return _block_bytes(DELETE_BLOCK, {H_INSTANT_TIME: instant},
                        bytes(body))


def rollback_block_bytes(instant: str, target_instant: str) -> bytes:
    return _block_bytes(COMMAND_BLOCK,
                        {H_INSTANT_TIME: instant,
                         H_TARGET_INSTANT_TIME: target_instant,
                         H_COMMAND_BLOCK_TYPE: "0"}, b"")


def write_log_file(path: str, block_bytes_list: list[bytes]) -> None:
    """Write (or APPEND to) a log file — a second fixture commit that
    targets an existing log file models Hudi's real writer, which
    appends blocks to the latest log file rather than always rolling
    a new version."""
    prefix = b""
    if fsutil.exists(path) and fsutil.file_size(path) > 0:
        prefix = fsutil.read_bytes(path)
    fsutil.put_bytes(path, prefix + b"".join(block_bytes_list))


__all__ = [
    "HudiLogError", "read_log_blocks", "decode_data_block",
    "decode_delete_block", "scan_slice_logs", "merge_slice",
    "stage_mor_slices", "staged_slice_name", "parse_log_name",
    "avro_data_block_bytes", "parquet_data_block_bytes",
    "delete_block_bytes", "rollback_block_bytes", "write_log_file",
    "DELETE_RECORD_LIST_SCHEMA",
]
