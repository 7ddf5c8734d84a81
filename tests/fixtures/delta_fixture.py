"""Spec-shaped Delta Lake table fixtures for the tests (no Delta runtime).

``write_delta_fixture`` writes ``_delta_log`` layouts the reader in
``sources/delta_meta.py`` must replay: JSON commits, classic single- and
multi-part parquet checkpoints, uuid-named v2 checkpoints with sidecars,
deletion vectors in all three storage types, column mapping and
partition values. ``z85_encode`` is the inverse of the package's
``delta_meta.z85_decode``. Everything goes through ``fsutil``, so a
fixture can live on ``mock-s3://`` too.
"""

from __future__ import annotations

import json
import struct
import uuid as uuid_mod
import zlib
from urllib.parse import quote

import numpy as np

from embulk_input_parquet_hadoop_spark.plans import fsutil
from embulk_input_parquet_hadoop_spark.sources import puffin
from embulk_input_parquet_hadoop_spark.sources.delta_meta import (
    _Z85_CHARS, DELTA_DV_MAGIC, _file_key)


def z85_encode(data: bytes) -> str:
    """Z85 of ``data`` zero-padded to a multiple of 4 (Delta's codec
    pads and lets the descriptor's true byte length trim on decode)."""
    pad = (-len(data)) % 4
    buf = data + b"\x00" * pad
    out = []
    for i in range(0, len(buf), 4):
        v = struct.unpack(">I", buf[i:i + 4])[0]
        grp = []
        for _ in range(5):
            grp.append(_Z85_CHARS[v % 85])
            v //= 85
        out.extend(reversed(grp))
    return "".join(out)


def _delta_type_of(t):
    """Delta type JSON for an arrow type (fixture writer; recursive
    over struct/list/map, primitive name mapping otherwise)."""
    import pyarrow as pa
    prim = {"int32": "integer", "int64": "long", "float": "float",
            "double": "double", "string": "string", "large_string":
            "string", "bool": "boolean", "date32[day]": "date",
            "binary": "binary"}
    if pa.types.is_struct(t):
        return {"type": "struct",
                "fields": [{"name": f.name,
                            "type": _delta_type_of(f.type),
                            "nullable": True, "metadata": {}}
                           for f in t]}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return {"type": "array",
                "elementType": _delta_type_of(t.value_type),
                "containsNull": True}
    if pa.types.is_map(t):
        return {"type": "map", "keyType": _delta_type_of(t.key_type),
                "valueType": _delta_type_of(t.item_type),
                "valueContainsNull": True}
    return prim.get(str(t), str(t))


def _schema_string_of(arrow_schema) -> str:
    """Minimal Delta schemaString (logical JSON struct) for the fixture
    writer."""
    return json.dumps({"type": "struct",
                       "fields": [{"name": f.name,
                                   "type": _delta_type_of(f.type),
                                   "nullable": True, "metadata": {}}
                                  for f in arrow_schema]})


def write_delta_fixture(table_dir: str, tables: list,
                        commits: list[dict] | None = None,
                        partition_columns: list[str] | None = None,
                        partition_types: dict[str, str] | None = None,
                        partition_values: dict[int, dict] | None = None,
                        file_names: list[str] | None = None,
                        checkpoint_at: int | None = None,
                        checkpoint_parts: int = 1,
                        checkpoint_v2: bool = False,
                        v2_sidecars: int = 0,
                        v2_format: str = "parquet",
                        drop_json_upto: int | None = None,
                        dv_storage: str = "u",
                        dv_magic: bytes = DELTA_DV_MAGIC,
                        min_reader: int | None = None,
                        reader_features: list[str] | None = None,
                        configuration: dict | None = None,
                        column_mapping: str | None = None,
                        physical_names: list[str] | None = None,
                        field_ids: list[int] | None = None) -> str:
    """Spec-shaped Delta table over ``tables`` (pyarrow Tables written
    as the data files). ``commits``: list of per-version dicts —
    ``{"add": [idx, ...]}``, ``{"remove": [idx, ...]}``, ``{"dv": {idx:
    [deleted positions]}}`` (emits the protocol's remove-old + add-new
    pair; empty list = remove the DV) — defaulting to one commit adding
    every table. ``dv_storage``: ``u`` (uuid-named .bin with a 2-char
    prefix dir), ``p`` (absolute path), or ``i`` (inline z85).
    ``checkpoint_at`` writes a classic checkpoint (split into
    ``checkpoint_parts`` files when >1) + ``_last_checkpoint``; with
    ``checkpoint_v2=True`` it writes a uuid-named v2 checkpoint
    instead (``v2_format`` 'parquet' | 'json' top file;
    ``v2_sidecars`` > 0 moves the add actions into that many
    ``_sidecars/`` parquet files);
    ``drop_json_upto`` then deletes JSON commits ≤ that version to
    prove replay really uses it. ``partition_values``: {table idx:
    {col: str|None}}. ``column_mapping`` ('name' | 'id') writes a
    column-mapped layout: data files carry PHYSICAL column names
    (default ``col-<i+1>``, override with ``physical_names``) with
    parquet field ids (default 1..n, override with ``field_ids`` —
    e.g. to test id-over-name precedence), and the logical
    schemaString carries the mapping metadata. Everything goes
    through ``fsutil`` so the fixture works on mock-s3 too."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import io as _io

    base = table_dir.rstrip("/")
    fsutil.makedirs_any(f"{base}/_delta_log")
    names = file_names or [f"part-{i:05d}.parquet"
                           for i in range(len(tables))]
    logical_schema = tables[0].schema
    cm_schema_fields = None  # delta field JSONs w/ mapping metadata
    cm_max_id = 0
    if column_mapping:
        phys = physical_names or [
            f"col-{i + 1}" for i in range(len(logical_schema))]
        fids = field_ids or list(range(1, len(logical_schema) + 1))
        used = list(fids)

        def _alloc() -> int:
            used.append(max(used) + 1)
            return used[-1]

        def _cm_type(t):
            # physical arrow type (renamed struct fields + field ids
            # at every level) and the matching delta type JSON
            if pa.types.is_struct(t):
                pairs = [_cm_field(c) for c in t]
                return (pa.struct([p for p, _ in pairs]),
                        {"type": "struct",
                         "fields": [d for _, d in pairs]})
            if pa.types.is_list(t) or pa.types.is_large_list(t):
                pt, dt = _cm_type(t.value_type)
                mk = (pa.large_list if pa.types.is_large_list(t)
                      else pa.list_)
                return (mk(pa.field("element", pt)),
                        {"type": "array", "elementType": dt,
                         "containsNull": True})
            if pa.types.is_map(t):
                kt, kd = _cm_type(t.key_type)
                vt, vd = _cm_type(t.item_type)
                return (pa.map_(kt, vt),
                        {"type": "map", "keyType": kd,
                         "valueType": vd, "valueContainsNull": True})
            return t, _delta_type_of(t)

        def _cm_field(f, p=None, i=None):
            i = _alloc() if i is None else i
            p = p or f"col-{i}"
            pt, dt = _cm_type(f.type)
            return (pa.field(p, pt, metadata={
                        b"PARQUET:field_id": str(i).encode()}),
                    {"name": f.name, "type": dt, "nullable": True,
                     "metadata": {
                         "delta.columnMapping.id": i,
                         "delta.columnMapping.physicalName": p}})

        cm_pairs = [_cm_field(f, p, i)
                    for f, p, i in zip(logical_schema, phys, fids)]
        pschema = pa.schema([p for p, _ in cm_pairs])
        cm_schema_fields = [d for _, d in cm_pairs]
        cm_max_id = max(used)
        # nested struct-field renames change no layout: zero-copy view
        tables = [pa.Table.from_arrays(
                      [t.column(j).combine_chunks().view(
                           pschema.field(j).type)
                       for j in range(len(pschema))], schema=pschema)
                  for t in tables]
    abs_paths = []
    for t, n in zip(tables, names):
        sink = _io.BytesIO()
        pq.write_table(t, sink)
        fsutil.put_bytes(f"{base}/{n}", sink.getvalue())
        abs_paths.append(f"{base}/{n}")

    if commits is None:
        commits = [{"add": list(range(len(tables)))}]
    if min_reader is None:
        min_reader = (3 if any("dv" in c for c in commits)
                      else 2 if column_mapping else 1)
    if reader_features is None and min_reader >= 3:
        reader_features = ["deletionVectors"] + (
            ["columnMapping"] if column_mapping else [])

    schema_string = _schema_string_of(logical_schema)
    if column_mapping:
        schema_string = json.dumps({"type": "struct",
                                    "fields": cm_schema_fields})
        configuration = dict(configuration or {})
        configuration.setdefault("delta.columnMapping.mode",
                                 column_mapping)
        configuration.setdefault("delta.columnMapping.maxColumnId",
                                 str(cm_max_id))
    phys_part: dict[str, str] = {}
    if partition_columns:
        # real writers put partition columns in the LOGICAL schema even
        # though they are absent from the data files; under column
        # mapping they get physical names + ids too, and add-action
        # partitionValues are keyed by the PHYSICAL name
        sch = json.loads(schema_string)
        next_id = (cm_max_id if column_mapping
                   else len(sch["fields"])) + 1
        for j, c in enumerate(partition_columns):
            if c in {f["name"] for f in sch["fields"]}:
                continue
            md = {}
            if column_mapping:
                phys_part[c] = f"p-{j + 1}"
                md = {"delta.columnMapping.id": next_id + j,
                      "delta.columnMapping.physicalName": phys_part[c]}
            sch["fields"].append(
                {"name": c,
                 "type": (partition_types or {}).get(c, "string"),
                 "nullable": True, "metadata": md})
        if column_mapping:
            configuration["delta.columnMapping.maxColumnId"] = str(
                next_id + len(partition_columns) - 1)
        schema_string = json.dumps(sch)
    meta = {"id": "00000000-0000-0000-0000-00000000beef",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": partition_columns or [],
            "configuration": configuration or {},
            "createdTime": 0}
    proto = {"minReaderVersion": min_reader,
             "minWriterVersion": 7 if min_reader >= 3 else 2}
    if min_reader >= 3:
        proto["readerFeatures"] = reader_features or []
        proto["writerFeatures"] = list(reader_features or [])

    def _pv(idx: int) -> dict:
        pv = (partition_values or {}).get(idx, {})
        # column-mapped tables key partitionValues by physical name
        return {phys_part.get(k, k): v for k, v in pv.items()}

    def _add_action(idx: int, dv: dict | None) -> dict:
        a = {"path": quote(names[idx]), "partitionValues": _pv(idx),
             "size": fsutil.file_size(abs_paths[idx]),
             "modificationTime": 0, "dataChange": True}
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    def _make_dv(idx: int, positions: list[int]) -> dict:
        body = dv_magic + puffin.roaring64_write(
            np.asarray(sorted(positions), dtype=np.int64))
        if dv_storage == "i":
            return {"storageType": "i",
                    "pathOrInlineDv": z85_encode(body),
                    "sizeInBytes": len(body),
                    "cardinality": len(positions)}
        frame = (struct.pack(">I", len(body)) + body
                 + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
        u = uuid_mod.uuid5(uuid_mod.NAMESPACE_URL, f"dv-{idx}-"
                           + ",".join(map(str, positions)))
        blob = b"\x01" + frame  # format-version byte, then the frame
        if dv_storage == "u":
            prefix = "ab"
            fsutil.makedirs_any(f"{base}/{prefix}")
            fsutil.put_bytes(
                f"{base}/{prefix}/deletion_vector_{u}.bin", blob)
            return {"storageType": "u",
                    "pathOrInlineDv": prefix + z85_encode(u.bytes),
                    "offset": 1, "sizeInBytes": len(body),
                    "cardinality": len(positions)}
        p = f"{base}/deletion_vector_{u}.bin"
        fsutil.put_bytes(p, blob)
        return {"storageType": "p", "pathOrInlineDv": p, "offset": 1,
                "sizeInBytes": len(body),
                "cardinality": len(positions)}

    live_dv: dict[int, dict | None] = {}
    all_versions: list[list[dict]] = []
    for v, c in enumerate(commits):
        actions: list[dict] = []
        if v == 0:
            actions.append({"protocol": proto})
            actions.append({"metaData": meta})
        for idx in c.get("remove", []):
            r = {"path": quote(names[idx]), "dataChange": True,
                 "deletionTimestamp": 0}
            if live_dv.get(idx):
                r["deletionVector"] = live_dv[idx]
            actions.append({"remove": r})
            live_dv.pop(idx, None)
        for idx, positions in c.get("dv", {}).items():
            old = live_dv.get(idx)
            r = {"path": quote(names[idx]), "dataChange": False,
                 "deletionTimestamp": 0}
            if old:
                r["deletionVector"] = old
            actions.append({"remove": r})
            new = _make_dv(idx, positions) if positions else None
            live_dv[idx] = new
            actions.append(_add_action(idx, new))
        for idx in c.get("add", []):
            live_dv.setdefault(idx, None)
            actions.append(_add_action(idx, live_dv[idx]))
        all_versions.append(actions)
        fsutil.put_bytes(
            f"{base}/_delta_log/{v:020d}.json",
            ("\n".join(json.dumps(a) for a in actions) + "\n").encode())

    if checkpoint_at is not None:
        if checkpoint_v2:
            _write_checkpoint_v2(base, all_versions, checkpoint_at,
                                 v2_sidecars, v2_format)
        else:
            _write_checkpoint(base, all_versions, checkpoint_at,
                              checkpoint_parts)
    if drop_json_upto is not None:
        for v in range(drop_json_upto + 1):
            fsutil.delete_quiet(f"{base}/_delta_log/{v:020d}.json")
    return table_dir


def _ckpt_state(all_versions: list[list[dict]], version: int) -> tuple:
    """(live add actions sorted by key, metaData row, protocol row) of
    the state at ``version`` — what any checkpoint flavor must carry."""
    adds: dict[tuple, dict] = {}
    meta = proto = None
    for v in range(version + 1):
        for a in all_versions[v]:
            if "add" in a:
                adds[_file_key(a["add"])] = a["add"]
            elif "remove" in a:
                adds.pop(_file_key(a["remove"]), None)
            elif "metaData" in a:
                meta = a["metaData"]
            elif "protocol" in a:
                proto = a["protocol"]
    add_rows = []
    for (_, _), add in sorted(adds.items()):
        add_rows.append({k: add.get(k)
                         for k in ("path", "partitionValues", "size",
                                   "modificationTime", "dataChange",
                                   "deletionVector")})
    meta_row = {k: meta[k] for k in ("id", "schemaString",
                                     "partitionColumns",
                                     "configuration", "createdTime")}
    proto_row = {"minReaderVersion": proto["minReaderVersion"],
                 "minWriterVersion": proto["minWriterVersion"],
                 "readerFeatures": proto.get("readerFeatures"),
                 "writerFeatures": proto.get("writerFeatures")}
    return add_rows, meta_row, proto_row


def _ckpt_types():
    import pyarrow as pa
    dv_t = pa.struct([("storageType", pa.string()),
                      ("pathOrInlineDv", pa.string()),
                      ("offset", pa.int32()),
                      ("sizeInBytes", pa.int32()),
                      ("cardinality", pa.int64())])
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues",
                        pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()),
                       ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_()),
                       ("deletionVector", dv_t)])
    meta_t = pa.struct([("id", pa.string()),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration",
                         pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64())])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32()),
                         ("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))])
    return add_t, meta_t, proto_t


def _pq_bytes(rows: list[dict], schema) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq
    import io as _io
    sink = _io.BytesIO()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), sink)
    return sink.getvalue()


def _write_checkpoint(base: str, all_versions: list[list[dict]],
                      version: int, parts: int) -> None:
    import pyarrow as pa
    add_rows, meta_row, proto_row = _ckpt_state(all_versions, version)
    add_t, meta_t, proto_t = _ckpt_types()
    schema = pa.schema([("add", add_t), ("metaData", meta_t),
                        ("protocol", proto_t)])
    rows = ([{"add": None, "metaData": meta_row, "protocol": None},
             {"add": None, "metaData": None, "protocol": proto_row}]
            + [{"add": a, "metaData": None, "protocol": None}
               for a in add_rows])
    chunks = [rows[i::parts] for i in range(parts)] if parts > 1 \
        else [rows]
    log = f"{base}/_delta_log"
    for i, chunk in enumerate(chunks):
        name = (f"{version:020d}.checkpoint.parquet" if parts == 1 else
                f"{version:020d}.checkpoint.{i + 1:010d}."
                f"{parts:010d}.parquet")
        fsutil.put_bytes(f"{log}/{name}", _pq_bytes(chunk, schema))
    last = {"version": version, "size": len(rows)}
    if parts > 1:
        last["parts"] = parts
    fsutil.put_bytes(f"{log}/_last_checkpoint",
                     json.dumps(last).encode())


def _write_checkpoint_v2(base: str, all_versions: list[list[dict]],
                         version: int, sidecars: int,
                         fmt: str) -> None:
    """Spec-shaped v2 (uuid-named) checkpoint: the top file is JSON
    lines or parquet with a ``checkpointMetadata`` action; add actions
    ride inline (``sidecars=0``) or split across parquet sidecar files
    under ``_delta_log/_sidecars/``."""
    import pyarrow as pa
    add_rows, meta_row, proto_row = _ckpt_state(all_versions, version)
    add_t, meta_t, proto_t = _ckpt_types()
    cm_t = pa.struct([("version", pa.int64())])
    sc_t = pa.struct([("path", pa.string()),
                      ("sizeInBytes", pa.int64()),
                      ("modificationTime", pa.int64())])
    log = f"{base}/_delta_log"
    u = uuid_mod.uuid5(uuid_mod.NAMESPACE_URL, f"v2ckpt-{version}")
    payload: list[dict]
    if sidecars:
        fsutil.makedirs_any(f"{log}/_sidecars")
        sc_schema = pa.schema([("add", add_t), ("remove", add_t)])
        payload = []
        for i in range(sidecars):
            chunk = add_rows[i::sidecars]
            su = uuid_mod.uuid5(uuid_mod.NAMESPACE_URL,
                                f"v2sc-{version}-{i}")
            name = f"{su}.parquet"
            blob = _pq_bytes([{"add": a, "remove": None}
                              for a in chunk], sc_schema)
            fsutil.put_bytes(f"{log}/_sidecars/{name}", blob)
            payload.append({"sidecar": {"path": name,
                                        "sizeInBytes": len(blob),
                                        "modificationTime": 0}})
    else:
        payload = [{"add": a} for a in add_rows]
    top = ([{"checkpointMetadata": {"version": version}},
            {"metaData": meta_row}, {"protocol": proto_row}]
           + payload)
    name = f"{version:020d}.checkpoint.{u}.{fmt}"
    if fmt == "json":
        fsutil.put_bytes(
            f"{log}/{name}",
            ("\n".join(json.dumps(a) for a in top) + "\n").encode())
    else:
        schema = pa.schema([("add", add_t), ("metaData", meta_t),
                            ("protocol", proto_t),
                            ("checkpointMetadata", cm_t),
                            ("sidecar", sc_t)])
        keys = ("add", "metaData", "protocol", "checkpointMetadata",
                "sidecar")
        rows = [{k: a.get(k) for k in keys} for a in top]
        fsutil.put_bytes(f"{log}/{name}", _pq_bytes(rows, schema))
    fsutil.put_bytes(f"{log}/_last_checkpoint",
                     json.dumps({"version": version}).encode())
