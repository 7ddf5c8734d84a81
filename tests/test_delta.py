"""Delta Lake source: log replay, checkpoints, deletion vectors, and
the encode integration (``sources/delta_meta.py``).

All fixtures are spec-shaped ``_delta_log`` layouts written by
``write_delta_fixture`` (``tests/fixtures/delta_fixture.py``) — JSON commits, classic single-/multi-part
parquet checkpoints, and real DV ``.bin`` files — no Delta runtime
anywhere. Mirrors the Iceberg coverage in ``test_sources.py``."""

from __future__ import annotations

import glob
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.sources import delta_meta as dm
from embulk_input_parquet_hadoop_spark.sources import puffin
from fixtures.delta_fixture import write_delta_fixture, z85_encode


def _tabs():
    t1 = pa.table({"doc_id": ["a", "b", "c", "d"],
                   "n": pa.array([1, 2, 3, 4], pa.int32())})
    t2 = pa.table({"doc_id": ["e", "f"],
                   "n": pa.array([5, 6], pa.int32())})
    return t1, t2


# ---------------------------------------------------------------------
# Z85
# ---------------------------------------------------------------------

def test_z85_spec_vector():
    # ZeroMQ RFC 32's reference vector.
    assert z85_encode(bytes.fromhex("864FD26FB559F75B")) == \
        "HelloWorld"
    assert dm.z85_decode("HelloWorld") == bytes.fromhex(
        "864FD26FB559F75B")


def test_z85_padding_roundtrip():
    for n in range(0, 23):
        data = bytes((i * 37 + 11) % 256 for i in range(n))
        enc = z85_encode(data)
        assert len(enc) % 5 == 0
        assert dm.z85_decode(enc, out_len=n) == data


def test_z85_rejects_garbage():
    with pytest.raises(dm.DeltaMetaError, match="multiple of 5"):
        dm.z85_decode("abc")
    with pytest.raises(dm.DeltaMetaError, match="invalid z85"):
        dm.z85_decode('ab"de')
    with pytest.raises(dm.DeltaMetaError, match="cannot trim"):
        dm.z85_decode("HelloWorld", out_len=3)  # would drop 5 bytes


# ---------------------------------------------------------------------
# Log replay / scan
# ---------------------------------------------------------------------

def test_version_at_timestamp(tmp_path):
    """timestampAsOf resolution: mtime fallback with Delta's
    monotonicity adjustment, commitInfo.timestamp precedence over
    mtime, inCommitTimestamp precedence over both; a too-early
    timestamp refuses."""
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1, t2], commits=[
        {"add": [0]}, {"add": [1]}, {"remove": [1]}])
    log = f"{d}/_delta_log"
    paths = [f"{log}/{v:020d}.json" for v in range(3)]
    # mtime fallback: t=1000s, 2000s, then a REGRESSED 1500s for v2 —
    # the adjustment forces v2 strictly past v1
    for p, t in zip(paths, (1000, 2000, 1500)):
        os.utime(p, (t, t))
    ts = dm.commit_timestamps_ms(d)
    assert ts[0] == 1_000_000 and ts[1] == 2_000_000
    assert ts[2] == 2_000_001  # monotonicity adjustment
    assert dm.version_at_timestamp(d, 1_000_000) == 0  # inclusive
    assert dm.version_at_timestamp(d, 1_999_999) == 0
    assert dm.version_at_timestamp(d, 2_000_000) == 1
    assert dm.version_at_timestamp(d, 10**15) == 2
    with pytest.raises(dm.DeltaMetaError, match="precedes"):
        dm.version_at_timestamp(d, 999_999)
    # commitInfo.timestamp beats mtime; inCommitTimestamp beats both
    v1_actions = open(paths[1]).read()
    with open(paths[1], "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 3_000_000}})
                 + "\n" + v1_actions)
    os.utime(paths[1], (2000, 2000))
    assert dm.commit_timestamps_ms(d)[1] == 3_000_000
    with open(paths[1], "w") as fh:
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 3_000_000,
            "inCommitTimestamp": 4_000_000}}) + "\n" + v1_actions)
    assert dm.commit_timestamps_ms(d)[1] == 4_000_000
    # the resolved version feeds the ordinary version= entry points
    v = dm.version_at_timestamp(d, 1_500_000)
    assert len(dm.snapshot_scan(d, version=v)["data_files"]) == 1


def test_scan_add_dv_remove_and_time_travel(tmp_path):
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1, t2], commits=[
        {"add": [0, 1]}, {"dv": {0: [1, 3]}}, {"remove": [1]}])
    s = dm.snapshot_scan(d)
    assert s["version"] == 2
    assert [os.path.basename(f) for f in s["data_files"]] == \
        ["part-00000.parquet"]
    (desc,) = s["row_deletes"][s["data_files"][0]]
    assert list(dm.read_dv_positions(desc)) == [1, 3]
    # time travel
    s0 = dm.snapshot_scan(d, version=0)
    assert len(s0["data_files"]) == 2 and not s0["row_deletes"]
    s1 = dm.snapshot_scan(d, version=1)
    assert len(s1["data_files"]) == 2 and len(s1["row_deletes"]) == 1
    # no version past the log's newest
    with pytest.raises(dm.DeltaMetaError):
        dm.snapshot_scan(d, version=3)


def test_dv_replacement_uses_unique_id_keys(tmp_path):
    """Upserting a file's DV emits remove(old id) + add(new id); replay
    keyed by (path, dvId) must keep exactly the newest identity."""
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], commits=[
        {"add": [0]}, {"dv": {0: [1]}}, {"dv": {0: [1, 2]}}])
    s = dm.snapshot_scan(d)
    assert len(s["data_files"]) == 1
    (desc,) = s["row_deletes"][s["data_files"][0]]
    assert list(dm.read_dv_positions(desc)) == [1, 2]
    # ...and clearing the DV (empty positions) leaves a plain file
    write_delta_fixture(str(tmp_path / "t2"), [t1], commits=[
        {"add": [0]}, {"dv": {0: [1]}}, {"dv": {0: []}}])
    s2 = dm.snapshot_scan(str(tmp_path / "t2"))
    assert not s2["row_deletes"]


def test_two_live_dv_identities_refuse(tmp_path):
    """A log where one path stays live under two DV identities (writer
    forgot the remove) is corrupt — refuse, never pick silently."""
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], commits=[
        {"add": [0]}, {"dv": {0: [1]}}])
    # hand-append a commit that re-adds with a DIFFERENT dv id and no
    # remove of the previous identity
    log = os.path.join(d, "_delta_log")
    prev = [json.loads(ln) for ln in
            open(os.path.join(log, f"{1:020d}.json"))]
    add = next(a for a in prev if "add" in a)["add"]
    bad = dict(add)
    bad["deletionVector"] = dict(add["deletionVector"],
                                 offset=add["deletionVector"]["offset"]
                                 + 1)
    open(os.path.join(log, f"{2:020d}.json"), "w").write(
        json.dumps({"add": bad}) + "\n")
    with pytest.raises(dm.DeltaMetaError, match="multiple"):
        dm.snapshot_scan(d)


def test_url_encoded_paths(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1],
                        file_names=["part 00 %x=1.parquet"])
    raw = open(os.path.join(d, "_delta_log", f"{0:020d}.json")
               ).read()
    assert "part%2000%20%25x%3D1.parquet" in raw  # stored URL-encoded
    s = dm.snapshot_scan(d)
    assert os.path.basename(s["data_files"][0]) == \
        "part 00 %x=1.parquet"
    assert pq.read_table(s["data_files"][0]).num_rows == 4


def test_partition_pruning_and_values(tmp_path):
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(
        d, [t1, t2], partition_columns=["src", "flag"],
        partition_values={0: {"src": "web", "flag": "true"},
                          1: {"src": "book", "flag": None}})
    s = dm.snapshot_scan(d, partition_filter={"src": "web"})
    assert len(s["data_files"]) == 1
    assert s["partition_values"][s["data_files"][0]] == \
        {"src": "web", "flag": "true"}
    # bool serialization + null matching
    assert len(dm.snapshot_scan(
        d, partition_filter={"flag": True})["data_files"]) == 1
    assert len(dm.snapshot_scan(
        d, partition_filter={"flag": None})["data_files"]) == 1
    assert dm.snapshot_scan(
        d, partition_filter={"src": "nope"})["data_files"] == []


# ---------------------------------------------------------------------
# Checkpoints
# ---------------------------------------------------------------------

@pytest.mark.parametrize("parts", [1, 3])
def test_checkpoint_replay(tmp_path, parts):
    t1, t2 = _tabs()
    d = str(tmp_path / f"t{parts}")
    write_delta_fixture(
        d, [t1, t2],
        commits=[{"add": [0]}, {"dv": {0: [2]}}, {"add": [1]}],
        checkpoint_at=1, checkpoint_parts=parts, drop_json_upto=1)
    s = dm.snapshot_scan(d)
    assert s["version"] == 2 and len(s["data_files"]) == 2
    k = next(f for f in s["data_files"]
             if f.endswith("part-00000.parquet"))
    assert list(dm.read_dv_positions(s["row_deletes"][k][0])) == [2]
    # versions below the checkpoint are no longer reconstructible
    with pytest.raises(dm.DeltaMetaError, match="cannot reconstruct"):
        dm.snapshot_scan(d, version=0)
    assert dm.snapshot_scan(d, version=1)["version"] == 1


def test_checkpoint_state_equals_json_replay(tmp_path):
    """Same table with and without checkpoint compaction must scan
    identically (checkpoint is a pure materialization)."""
    t1, t2 = _tabs()
    commits = [{"add": [0, 1]}, {"dv": {1: [0]}}, {"remove": [0]}]
    d1 = str(tmp_path / "json_only")
    d2 = str(tmp_path / "ckpt")
    write_delta_fixture(d1, [t1, t2], commits=commits)
    write_delta_fixture(d2, [t1, t2], commits=commits,
                        checkpoint_at=2, drop_json_upto=2)
    s1, s2 = dm.snapshot_scan(d1), dm.snapshot_scan(d2)
    assert [os.path.basename(f) for f in s1["data_files"]] == \
        [os.path.basename(f) for f in s2["data_files"]]
    k1, = s1["row_deletes"]
    k2, = s2["row_deletes"]
    assert list(dm.read_dv_positions(s1["row_deletes"][k1][0])) == \
        list(dm.read_dv_positions(s2["row_deletes"][k2][0])) == [0]


_V2_COMMITS = [{"add": [0, 1]}, {"dv": {1: [0]}}, {"remove": [0]}]


def _v2_state(scan):
    return ([os.path.basename(f) for f in scan["data_files"]],
            {os.path.basename(f): list(dm.read_dv_positions(ds[0]))
             for f, ds in scan["row_deletes"].items()})


@pytest.mark.parametrize("sidecars,fmt", [(0, "parquet"),
                                          (2, "parquet"),
                                          (0, "json"), (3, "json")])
def test_v2_checkpoint_replay(tmp_path, sidecars, fmt):
    """uuid-named v2 checkpoints (inline or sidecar-split, parquet or
    JSON top file) replay to the same state as the pure JSON chain."""
    t1, t2 = _tabs()
    d1 = str(tmp_path / "json_only")
    write_delta_fixture(d1, [t1, t2], commits=_V2_COMMITS)
    d2 = str(tmp_path / "v2")
    write_delta_fixture(d2, [t1, t2], commits=_V2_COMMITS,
                        checkpoint_at=2, checkpoint_v2=True,
                        v2_sidecars=sidecars, v2_format=fmt,
                        drop_json_upto=2)
    # the dropped JSON chain proves the v2 checkpoint is really read
    assert glob.glob(os.path.join(
        d2, "_delta_log", "[0-9]" * 20 + ".json")) == []
    assert len(glob.glob(os.path.join(
        d2, "_delta_log", "_sidecars", "*.parquet"))) == sidecars
    assert _v2_state(dm.snapshot_scan(d2)) == _v2_state(
        dm.snapshot_scan(d1))


def test_v2_checkpoint_plus_json_tail(tmp_path):
    """Commits after the v2 checkpoint still apply on top of it."""
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(
        d, [t1, t2],
        commits=[{"add": [0, 1]}, {"dv": {0: [2]}}, {"remove": [1]}],
        checkpoint_at=1, checkpoint_v2=True, v2_sidecars=1,
        drop_json_upto=1)
    s = dm.snapshot_scan(d)
    files, dvs = _v2_state(s)
    assert files == ["part-00000.parquet"]
    assert dvs == {"part-00000.parquet": [2]}


def test_v2_checkpoint_version_mismatch_refuses(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], commits=[{"add": [0]}],
                        checkpoint_at=0, checkpoint_v2=True,
                        v2_format="json", drop_json_upto=0)
    ck = glob.glob(os.path.join(d, "_delta_log",
                                "*.checkpoint.*.json"))[0]
    # rename the file to claim a different version than its
    # checkpointMetadata records
    bad = os.path.join(os.path.dirname(ck),
                       f"{3:020d}" + os.path.basename(ck)[20:])
    os.rename(ck, bad)
    with pytest.raises(dm.DeltaMetaError, match="version"):
        dm.snapshot_scan(d)


def test_v2_checkpoint_classic_wins_same_version(tmp_path):
    """Both flavors at one version: the classic one is read (no
    sidecar fetches); prove it by corrupting the v2 file."""
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1, t2], commits=_V2_COMMITS,
                        checkpoint_at=2, drop_json_upto=2)
    v2 = os.path.join(d, "_delta_log",
                      f"{2:020d}.checkpoint."
                      "0f0f0f0f-0000-0000-0000-000000000000.parquet")
    open(v2, "wb").write(b"not really parquet")
    files, dvs = _v2_state(dm.snapshot_scan(d))
    assert files == ["part-00001.parquet"]


# ---------------------------------------------------------------------
# Protocol gating
# ---------------------------------------------------------------------

def test_unknown_reader_feature_refuses(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], min_reader=3,
                        reader_features=["deletionVectors",
                                         "catalogOwned-preview"])
    with pytest.raises(dm.DeltaMetaError, match="catalogOwned"):
        dm.snapshot_scan(d)


def test_reader_version_above_3_refuses(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], min_reader=3,
                        reader_features=["deletionVectors"])
    log = os.path.join(d, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(ln) for ln in open(log)]
    for a in lines:
        if "protocol" in a:
            a["protocol"]["minReaderVersion"] = 4
    open(log, "w").write("\n".join(json.dumps(a) for a in lines))
    with pytest.raises(dm.DeltaMetaError, match="minReaderVersion"):
        dm.snapshot_scan(d)


def test_column_mapping_unknown_mode_refuses(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(
        d, [t1], min_reader=3,
        reader_features=["columnMapping"],
        configuration={"delta.columnMapping.mode": "weird"})
    with pytest.raises(dm.DeltaMetaError, match="unknown column "
                                                "mapping"):
        dm.snapshot_scan(d)
    # feature present but mode none -> fine, no rename plan
    d2 = str(tmp_path / "t2")
    write_delta_fixture(d2, [t1], min_reader=3,
                        reader_features=["columnMapping"],
                        configuration={"delta.columnMapping.mode":
                                       "none"})
    s = dm.snapshot_scan(d2)
    assert len(s["data_files"]) == 1 and s["column_renames"] is None


# ---------------------------------------------------------------------
# Deletion-vector integrity
# ---------------------------------------------------------------------

@pytest.mark.parametrize("storage", ["u", "p", "i"])
def test_dv_storage_modes(tmp_path, storage):
    t1, _ = _tabs()
    d = str(tmp_path / storage)
    write_delta_fixture(d, [t1],
                        commits=[{"add": [0]}, {"dv": {0: [0, 3]}}],
                        dv_storage=storage)
    s = dm.snapshot_scan(d)
    (desc,) = s["row_deletes"][s["data_files"][0]]
    body = dm.parse_dv_desc(desc)
    assert ("inline" in body) == (storage == "i")
    assert list(dm.read_dv_positions(desc)) == [0, 3]


def test_dv_accepts_both_spec_magics(tmp_path):
    t1, _ = _tabs()
    for tag, magic in (("delta", dm.DELTA_DV_MAGIC),
                       ("iceberg", puffin.DV_MAGIC)):
        d = str(tmp_path / tag)
        write_delta_fixture(d, [t1],
                            commits=[{"add": [0]},
                                     {"dv": {0: [1]}}],
                            dv_magic=magic)
        s = dm.snapshot_scan(d)
        (desc,) = s["row_deletes"][s["data_files"][0]]
        assert list(dm.read_dv_positions(desc)) == [1]


def test_dv_crc_and_cardinality_gates(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1],
                        commits=[{"add": [0]}, {"dv": {0: [1, 2]}}],
                        dv_storage="p")
    s = dm.snapshot_scan(d)
    (desc,) = s["row_deletes"][s["data_files"][0]]
    body = dm.parse_dv_desc(desc)
    # flip a payload bit -> CRC mismatch
    raw = bytearray(open(body["path"], "rb").read())
    raw[body["offset"] + 10] ^= 0x40
    open(body["path"], "wb").write(bytes(raw))
    with pytest.raises(dm.DeltaMetaError, match="CRC"):
        dm.read_dv_positions(desc)
    # restore, then lie about cardinality
    raw[body["offset"] + 10] ^= 0x40
    open(body["path"], "wb").write(bytes(raw))
    lied = dict(body, cardinality=5)
    with pytest.raises(dm.DeltaMetaError, match="cardinality"):
        dm.read_dv_positions(dm.DV_DESC_PREFIX + json.dumps(lied))
    # unknown magic refuses with both accepted values named
    bad_body = b"\x00\x00\x00\x00" + puffin.roaring64_write(
        np.array([1], dtype=np.int64))
    frame = (struct.pack(">I", len(bad_body)) + bad_body
             + struct.pack(">I", zlib.crc32(bad_body) & 0xFFFFFFFF))
    p = str(tmp_path / "bad.bin")
    open(p, "wb").write(b"\x01" + frame)
    with pytest.raises(dm.DeltaMetaError, match="magic"):
        dm.read_dv_positions(dm.DV_DESC_PREFIX + json.dumps(
            {"path": p, "offset": 1, "size": len(bad_body),
             "cardinality": 1}))


def test_dv_size_prefix_disagreement_refuses(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1],
                        commits=[{"add": [0]}, {"dv": {0: [1]}}],
                        dv_storage="p")
    s = dm.snapshot_scan(d)
    (desc,) = s["row_deletes"][s["data_files"][0]]
    body = dm.parse_dv_desc(desc)
    lied = dict(body, size=body["size"] - 2)
    with pytest.raises(dm.DeltaMetaError, match="size"):
        dm.read_dv_positions(dm.DV_DESC_PREFIX + json.dumps(lied))


# ---------------------------------------------------------------------
# Incremental diffs
# ---------------------------------------------------------------------

def test_diff_append_only_and_refusals(tmp_path):
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1, t2], commits=[
        {"add": [0]}, {"add": [1]}, {"dv": {0: [1]}}])
    diff = dm.snapshot_scan_diff(d, 0, 1)
    assert [os.path.basename(p) for p in diff["data_files"]] == \
        ["part-00001.parquet"]
    assert diff["row_deletes"] == {}
    # DV arriving on an already-live file refuses
    with pytest.raises(dm.DeltaMetaError, match="[Dd]eletion vector"):
        dm.snapshot_scan_diff(d, 1, 2)
    # file removal refuses
    d2 = str(tmp_path / "t2")
    write_delta_fixture(d2, [t1, t2],
                        commits=[{"add": [0, 1]}, {"remove": [1]}])
    with pytest.raises(dm.DeltaMetaError, match="gone"):
        dm.snapshot_scan_diff(d2, 0, 1)


# ---------------------------------------------------------------------
# Object-store metadata (mock-s3: PUT-only, no rename)
# ---------------------------------------------------------------------

def test_delta_on_object_store(tmp_path):
    t1, _ = _tabs()
    d = f"mock-s3://bucket{tmp_path}/t"
    write_delta_fixture(d, [t1],
                        commits=[{"add": [0]}, {"dv": {0: [2]}}])
    s = dm.snapshot_scan(d)
    assert s["data_files"][0].startswith("mock-s3://")
    (desc,) = s["row_deletes"][s["data_files"][0]]
    assert list(dm.read_dv_positions(desc)) == [2]


# ---------------------------------------------------------------------
# Encode integration (the whole point)
# ---------------------------------------------------------------------

def test_delta_dv_encode_end_to_end(spark, tokens_path, tmp_path):
    """Delta table with deletion vectors: snapshot_scan feeds
    encode_path's plan, the decoded tree holds exactly the live
    rows, and verify_files replays the same masking — the Iceberg MOR
    contract (test_iceberg_position_deletes_encode) on the Delta
    source."""
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))[:2]
    tabs = [pq.read_table(f) for f in files]
    n0 = tabs[0].num_rows
    d = str(tmp_path / "delta_tbl")
    write_delta_fixture(
        d, tabs,
        commits=[{"add": [0, 1]},
                 {"dv": {0: [0, 3, 7, 8, n0 - 1], 1: [5]}}])
    scan = dm.snapshot_scan(d)
    assert set(scan["row_deletes"]) == set(scan["data_files"])
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(
        spark, d, out, input_files=scan["data_files"],
        plan={"row_deletes": scan["row_deletes"]})
    n_rows = sum(t.num_rows for t in tabs)
    assert totals["n_rows"] == n_rows - 6
    expected = []
    for i, (f, t) in enumerate(zip(scan["data_files"], tabs)):
        dead = {0, 3, 7, 8, n0 - 1} if i == 0 else {5}
        ids = t.column("doc_id").to_pylist()
        expected += [x for j, x in enumerate(ids) if j not in dead]
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert sorted(r.doc_id for r in dec.collect()) == sorted(expected)
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == n_rows - 6


# ---------------------------------------------------------------------
# Column mapping (modes name / id)
# ---------------------------------------------------------------------

def test_column_mapping_scan_returns_renames(tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], column_mapping="name")
    s = dm.snapshot_scan(d)
    assert s["column_renames"] == [
        {"logical": "doc_id", "physical": "col-1", "id": 1},
        {"logical": "n", "physical": "col-2", "id": 2}]
    # the data files really carry physical names
    assert pq.read_schema(s["data_files"][0]).names == ["col-1",
                                                        "col-2"]
    # unmapped table returns None
    d2 = str(tmp_path / "plain")
    write_delta_fixture(d2, [t1])
    assert dm.snapshot_scan(d2)["column_renames"] is None


def test_column_mapping_encode_end_to_end(spark, tmp_path):
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1, t2], column_mapping="name",
                        commits=[{"add": [0, 1]},
                                 {"dv": {0: [1]}}])
    s = dm.snapshot_scan(d)
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(
        spark, d, out, input_files=s["data_files"],
        plan={"row_deletes": s["row_deletes"],
              "column_renames": s["column_renames"]})
    assert totals["n_rows"] == 5  # 6 rows - 1 DV-deleted
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "n"],
        "doc_id string, n int")
    got = sorted((r.doc_id, r.n) for r in dec.collect())
    assert got == [("a", 1), ("c", 3), ("d", 4), ("e", 5), ("f", 6)]
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 5


def test_column_mapping_logical_projection(spark, tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], column_mapping="id")
    s = dm.snapshot_scan(d)
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, d, out, input_files=s["data_files"],
                         columns=["n"],
                         plan={"column_renames": s["column_renames"]})
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["n"], "n int")
    assert sorted(r.n for r in dec.collect()) == [1, 2, 3, 4]
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 4


def test_column_mapping_id_beats_physical_name(spark, tmp_path):
    """mode=id: resolution must go through the parquet field ids, so a
    physically-renamed data file (stale physicalName metadata) still
    maps correctly."""
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], column_mapping="id")
    # make the schemaString's physicalName stale/wrong; ids stay right
    log = os.path.join(d, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(ln) for ln in open(log)]
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            for f in sch["fields"]:
                f["metadata"]["delta.columnMapping.physicalName"] = \
                    "stale-" + f["metadata"][
                        "delta.columnMapping.physicalName"]
            a["metaData"]["schemaString"] = json.dumps(sch)
    open(log, "w").write("\n".join(json.dumps(a) for a in lines))
    s = dm.snapshot_scan(d)
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, d, out, input_files=s["data_files"],
                         plan={"column_renames": s["column_renames"]})
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "n"],
        "doc_id string, n int")
    assert sorted((r.doc_id, r.n) for r in dec.collect()) == \
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)]


def test_column_mapping_unmapped_physical_column_fails(spark,
                                                       tmp_path):
    t1, _ = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t1], column_mapping="name")
    # drop one field from the logical schema: its physical column in
    # the data file is now unmapped -> the encode task must refuse
    log = os.path.join(d, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(ln) for ln in open(log)]
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"] = sch["fields"][:1]
            a["metaData"]["schemaString"] = json.dumps(sch)
    open(log, "w").write("\n".join(json.dumps(a) for a in lines))
    s = dm.snapshot_scan(d)
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    with pytest.raises(RuntimeError, match="no entry|failed"):
        pipeline.encode_path(spark, d, str(tmp_path / "enc"),
                             input_files=s["data_files"],
                             plan={"column_renames": s["column_renames"]})


def _nested_tab():
    meta_t = pa.struct([pa.field("lang", pa.string()),
                        pa.field("score", pa.float64())])
    spans_t = pa.list_(pa.struct([pa.field("start", pa.int32()),
                                  pa.field("len", pa.int32())]))
    tags_t = pa.map_(pa.string(),
                     pa.struct([pa.field("w", pa.int32())]))
    return pa.table({
        "doc_id": ["a", "b", "c"],
        "meta": pa.array([{"lang": "en", "score": 0.5}, None,
                          {"lang": "de", "score": None}], meta_t),
        "spans": pa.array([[{"start": 0, "len": 2}], None,
                           [{"start": 1, "len": 1},
                            {"start": 4, "len": 2}]], spans_t),
        "tags": pa.array([[("k", {"w": 1})], None, []], tags_t)})


def test_column_mapping_nested_encode_end_to_end(spark, tmp_path):
    """Struct fields rename at EVERY level (struct, list<struct>,
    map<..,struct>): the data file carries col-N names throughout, the
    encoded tree must serve the logical ones, DV masking included."""
    t = _nested_tab()
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t], column_mapping="name",
                        commits=[{"add": [0]}, {"dv": {0: [1]}}])
    s = dm.snapshot_scan(d)
    plans = {r["logical"]: r for r in s["column_renames"]}
    assert "children" not in plans["doc_id"]
    assert plans["meta"]["children"]["kind"] == "struct"
    assert plans["spans"]["children"]["kind"] == "array"
    assert plans["tags"]["children"]["kind"] == "map"
    # the data file is physically renamed at every struct level
    psch = pq.read_schema(s["data_files"][0])
    assert psch.names == ["col-1", "col-2", "col-3", "col-4"]
    assert all(f.name.startswith("col-")
               for f in psch.field("col-2").type)
    from embulk_input_parquet_hadoop_spark.plans import (pipeline,
                                                         verify)
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(
        spark, d, out, input_files=s["data_files"],
        plan={"row_deletes": s["row_deletes"],
              "column_renames": s["column_renames"]})
    assert totals["n_rows"] == 2  # 3 rows - 1 DV-deleted
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out),
        ["doc_id", "meta", "spans", "tags"],
        "doc_id string, meta struct<lang:string,score:double>, "
        "spans array<struct<start:int,len:int>>, "
        "tags map<string,struct<w:int>>")
    got = {r.doc_id: r.asDict(recursive=True)
           for r in dec.collect()}
    assert set(got) == {"a", "c"}
    assert got["a"]["meta"] == {"lang": "en", "score": 0.5}
    assert got["a"]["spans"] == [{"start": 0, "len": 2}]
    assert got["a"]["tags"] == {"k": {"w": 1}}
    assert got["c"]["meta"] == {"lang": "de", "score": None}
    assert got["c"]["spans"] == [{"start": 1, "len": 1},
                                 {"start": 4, "len": 2}]
    assert got["c"]["tags"] == {}
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 2


def test_rename_batch_nested_id_resolution_and_refusal():
    """Inner struct fields resolve by parquet field id when present
    (stale physicalName in the plan still maps); an inner field the
    plan doesn't cover refuses loudly."""
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    inner = pa.struct([
        pa.field("renamed-x", pa.int32(),
                 metadata={b"PARQUET:field_id": b"7"})])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([{"renamed-x": 5}], inner)],
        schema=pa.schema([pa.field(
            "col-1", inner, metadata={b"PARQUET:field_id": b"1"})]))
    plan = [{"logical": "m", "physical": "col-1", "id": 1,
             "children": {"kind": "struct", "fields": [
                 {"logical": "x", "physical": "stale-name",
                  "id": 7}]}}]
    out = pipeline.rename_batch(batch, plan)
    assert out.schema.names == ["m"]
    assert out.column(0).type.field(0).name == "x"
    assert out.to_pylist() == [{"m": {"x": 5}}]
    bad = [{"logical": "m", "physical": "col-1", "id": 1,
            "children": {"kind": "struct", "fields": [
                {"logical": "x", "physical": "other", "id": 99}]}}]
    with pytest.raises(ValueError, match="no entry"):
        pipeline.rename_batch(batch, bad)


def test_column_mapping_partition_values_physical_keys(tmp_path):
    """Column-mapped partitioned table: add.partitionValues are keyed
    by PHYSICAL name in the log; the scan translates back to logical
    for pruning and const injection."""
    t1, t2 = _tabs()
    d = str(tmp_path / "t")
    write_delta_fixture(
        d, [t1, t2], column_mapping="name",
        partition_columns=["src"],
        partition_values={0: {"src": "web"}, 1: {"src": "book"}})
    raw = open(os.path.join(d, "_delta_log", f"{0:020d}.json")).read()
    assert '"p-1": "web"' in raw  # physically keyed on disk
    s = dm.snapshot_scan(d, partition_filter={"src": "web"})
    assert len(s["data_files"]) == 1
    assert s["partition_values"][s["data_files"][0]] == {"src": "web"}
    consts = dm.partition_const_columns(dm.snapshot_scan(d))
    assert consts["const_schema"] == {"src": "string"}
    assert sorted(v["src"] for v in consts["const_columns"].values()) \
        == ["book", "web"]


# ---------------------------------------------------------------------
# Replay reconciliation fuzz (model-based)
# ---------------------------------------------------------------------

def test_replay_fuzz_vs_model(tmp_path):
    """Random add/remove/dv commit sequences: the scan's live file set
    + DV contents must equal a trivial dict model, and compacting any
    prefix into a checkpoint must not change the answer."""
    import random
    rng = random.Random(20260820)
    t1, t2 = _tabs()
    tabs = [t1, t2, t1, t2]
    for trial in range(12):
        n = len(tabs)
        live: dict[int, list[int] | None] = {}   # model: idx -> dv
        commits = []
        for _ in range(rng.randint(1, 7)):
            c = {}
            op = rng.random()
            absent = [i for i in range(n) if i not in live]
            present = sorted(live)
            if op < 0.45 and absent:
                picks = rng.sample(absent, rng.randint(
                    1, min(2, len(absent))))
                c["add"] = picks
                for i in picks:
                    live[i] = None
            elif op < 0.7 and present:
                i = rng.choice(present)
                c["remove"] = [i]
                del live[i]
            elif present:
                i = rng.choice(present)
                pos = sorted(rng.sample(range(tabs[i].num_rows),
                                        rng.randint(0, tabs[i].num_rows)))
                c["dv"] = {i: pos}
                live[i] = pos or None
            if c:
                commits.append(c)
        if not commits:
            continue
        d = str(tmp_path / f"fz{trial}")
        write_delta_fixture(d, tabs, commits=commits,
                            dv_storage="p")
        ck = rng.randint(0, len(commits) - 1)
        d2 = str(tmp_path / f"fzc{trial}")
        write_delta_fixture(d2, tabs, commits=commits,
                            dv_storage="p", checkpoint_at=ck,
                            drop_json_upto=ck)
        d3 = str(tmp_path / f"fzv{trial}")
        write_delta_fixture(
            d3, tabs, commits=commits, dv_storage="p",
            checkpoint_at=ck, drop_json_upto=ck, checkpoint_v2=True,
            v2_sidecars=rng.randint(0, 2),
            v2_format=rng.choice(["parquet", "json"]))

        def state(scan):
            out = {}
            for f in scan["data_files"]:
                idx = int(os.path.basename(f)[5:10])
                descs = scan["row_deletes"].get(f)
                out[idx] = (list(dm.read_dv_positions(descs[0]))
                            if descs else None)
            return out

        want = {i: (list(v) if v else None) for i, v in live.items()}
        assert state(dm.snapshot_scan(d)) == want, (trial, commits)
        assert state(dm.snapshot_scan(d2)) == want, (trial, ck, commits)
        assert state(dm.snapshot_scan(d3)) == want, (trial, ck, commits)
