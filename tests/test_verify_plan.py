"""``verify_files`` replays the scan plan each wave recorded in its
manifest record: the deletes, constants and renames a wave was encoded
with reach the verify from there alone, never from the caller."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
from embulk_input_parquet_hadoop_spark.sources import delta_meta as dm
from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
from embulk_input_parquet_hadoop_spark.sources import table as tbl
from fixtures.delta_fixture import write_delta_fixture
from embulk_input_parquet_hadoop_spark.sources.datagen import generate

# the keys of a wave record with no side inputs: a plain encode's
# manifest reads grow by its files' schema keys only
PLAIN_RECORD_KEYS = {"wave_id", "input_files", "n_chunks", "n_rows",
                     "n_tokens", "raw_bytes", "enc_bytes", "n_bad_files",
                     "n_bad_rows", "wall_s", "schemas"}


@pytest.fixture(scope="module")
def src_files(tmp_path_factory):
    """Two 150-row datagen files."""
    d = tmp_path_factory.mktemp("plan_src") / "tokens"
    generate(str(d), n_docs=300, seed=3, n_files=2)
    return sorted(glob.glob(f"{d}/*.parquet"))


def _doc_ids(f):
    return pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()


# Each case builds a source whose encoded tree differs from its raw
# files, and returns (input_path, encode_path kwargs, batch_rows, live
# rows counted without the package's reader).

def _position_deletes(tmp_path, files):
    n0 = pq.read_metadata(files[0]).num_rows
    dels = {files[0]: [0, 3, 7, 8, n0 - 1], files[1]: [5]}
    tdir = str(tmp_path / "pos_tbl")
    iceberg_meta.write_table_fixture(tdir, files, position_deletes=dels)
    scan = iceberg_meta.snapshot_scan(tdir)
    return (tdir, {"input_files": scan["data_files"],
                   "plan": {"row_deletes": scan["position_deletes"]}},
            64, 300 - 6)


def _iceberg_dv(tmp_path, files):
    n0 = pq.read_metadata(files[0]).num_rows
    dels = {files[0]: [0] + list(range(10, 40)) + [n0 - 1],
            files[1]: [5, 64, 65]}
    tdir = str(tmp_path / "dv_tbl")
    iceberg_meta.write_table_fixture(tdir, files, deletion_vectors=dels)
    scan = iceberg_meta.snapshot_scan(tdir)
    return (tdir, {"input_files": scan["data_files"],
                   "plan": {"row_deletes": scan["position_deletes"]}},
            32, 300 - 35)


def _equality_deletes(tmp_path, files):
    ids = _doc_ids(files[0]) + _doc_ids(files[1])
    dead = sorted(set(ids))[::40][:6] + ["no-such-doc"]
    tdir = str(tmp_path / "eq_tbl")
    iceberg_meta.write_table_fixture(
        tdir, files, record_counts=[150, 150],
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[dict(
            table=pa.table({"doc_id": pa.array(dead, type=pa.string())}))])
    scan = iceberg_meta.snapshot_scan(tdir)
    live = sum(1 for i in ids if i not in set(dead))
    return (tdir, {"input_files": scan["data_files"],
                   "plan": {"eq_deletes": scan["equality_deletes"]}},
            64, live)


def _delta_dv_renames(tmp_path, files):
    t1 = pa.table({"doc_id": ["a", "b", "c", "d"],
                   "n": pa.array([1, 2, 3, 4], pa.int32())})
    t2 = pa.table({"doc_id": ["e", "f"],
                   "n": pa.array([5, 6], pa.int32())})
    d = str(tmp_path / "cm_tbl")
    write_delta_fixture(d, [t1, t2], column_mapping="name",
                        commits=[{"add": [0, 1]}, {"dv": {0: [1]}}])
    s = dm.snapshot_scan(d)
    return (d, {"input_files": s["data_files"],
                "plan": {"row_deletes": s["row_deletes"],
                         "column_renames": s["column_renames"]}},
            pipeline.DEFAULT_BATCH_ROWS, 5)


def _delta_constants(tmp_path, files):
    d = str(tmp_path / "part_tbl")
    write_delta_fixture(
        d, [pq.read_table(f) for f in files],
        partition_columns=["src", "bucket"],
        partition_types={"bucket": "integer"},
        partition_values={0: {"src": "web", "bucket": "3"},
                          1: {"src": None, "bucket": "4"}})
    scan = dm.snapshot_scan(d)
    return (d, {"input_files": scan["data_files"],
                "plan": dm.partition_const_columns(scan)},
            pipeline.DEFAULT_BATCH_ROWS, 300)


def _hive_constants(tmp_path, files):
    root = tmp_path / "hive"
    for sub, f in (("src=web/date=2024-01-02", files[0]),
                   ("src=a%20b/date=__HIVE_DEFAULT_PARTITION__", files[1])):
        (root / sub).mkdir(parents=True)
        pq.write_table(pq.read_table(f), str(root / sub / "part.parquet"))
    got, consts = tbl.hive_partitioned_files(
        str(root), partition_types={"date": "date32"})
    return (str(root), {"input_files": got, "plan": consts},
            pipeline.DEFAULT_BATCH_ROWS, 300)


@pytest.mark.parametrize("case", [
    _position_deletes, _iceberg_dv, _equality_deletes, _delta_dv_renames,
    _delta_constants, _hive_constants],
    ids=lambda c: c.__name__.lstrip("_"))
def test_verify_replays_the_recorded_plan(spark, tmp_path, src_files,
                                          case):
    """The tree verifies with no mappings, with exactly its live rows;
    with the recorded plan stripped from ``wave-0.json`` the raw source
    files no longer match, so verify fails."""
    src, kw, batch_rows, live = case(tmp_path, src_files)
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, src, out, batch_rows=batch_rows,
                                  **kw)
    assert totals["n_rows"] == live
    vf = verify.verify_files(spark, out, batch_rows=batch_rows)
    assert vf["ok"], vf
    assert vf["rows_compared"] == live
    rec_path = os.path.join(out, "manifest", "wave-0.json")
    with open(rec_path) as f:
        rec = json.load(f)
    assert set(rec) == PLAIN_RECORD_KEYS | {"plan"}
    del rec["plan"]
    with open(rec_path, "w") as f:
        json.dump(rec, f)
    assert not verify.verify_files(spark, out, batch_rows=batch_rows)["ok"]


def test_plain_wave_record_keeps_its_keys(spark, tmp_path, src_files):
    """A wave encoded without side inputs records no plan."""
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, os.path.dirname(src_files[0]), out)
    (rec,) = mf.wave_records(out)
    assert set(rec) == PLAIN_RECORD_KEYS


def test_recorded_plan_survives_checkpoint_and_resume(spark, tmp_path,
                                                      src_files):
    """Two delete-masked waves: after ``compact_manifest`` the plan is
    served from ``checkpoint-1.json``; after ``wave-1.json`` is deleted,
    the ``resume=True`` re-commit carries the plan again."""
    dels = {src_files[0]: [0, 1, 2], src_files[1]: [149]}
    tdir = str(tmp_path / "tbl")
    iceberg_meta.write_table_fixture(tdir, src_files,
                                     position_deletes=dels)
    scan = iceberg_meta.snapshot_scan(tdir)
    kw = dict(input_files=scan["data_files"],
              plan={"row_deletes": scan["position_deletes"]}, waves=2)
    out = str(tmp_path / "enc")
    assert pipeline.encode_path(spark, tdir, out, **kw)["waves_run"] == 2
    live = 300 - 4

    def planned_files():
        return [sorted(r["plan"]["files"]) for r in mf.wave_records(out)]

    assert planned_files() == [[f] for f in scan["data_files"]]
    mdir = os.path.join(out, "manifest")
    ck = mf.compact_manifest(out)
    assert ck["checkpoint"] == f"{mdir}/checkpoint-1.json"
    # strip the plan from both per-wave files: a reader that still
    # verifies ok got the plan from the checkpoint
    raw = {}
    for k in (0, 1):
        p = f"{mdir}/wave-{k}.json"
        with open(p) as f:
            raw[p] = f.read()
        rec = json.loads(raw[p])
        del rec["plan"]
        with open(p, "w") as f:
            json.dump(rec, f)
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == live
    for p, text in raw.items():
        with open(p, "w") as f:
            f.write(text)
    # rollback: delete wave 1's record and resume — the re-committed
    # record carries the plan, and the stale checkpoint is dropped
    os.remove(f"{mdir}/wave-1.json")
    t = pipeline.encode_path(spark, tdir, out, resume=True, **kw)
    assert (t["waves_run"], t["waves_skipped"]) == (1, 1)
    assert not os.path.exists(f"{mdir}/checkpoint-1.json")
    with open(f"{mdir}/wave-1.json") as f:
        assert sorted(json.load(f)["plan"]["files"]) == \
            [scan["data_files"][1]]
    assert planned_files() == [[f] for f in scan["data_files"]]
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == live


def test_float_columns_verify_by_their_bits(spark, tmp_path, monkeypatch):
    """A NaN with payload bits and both zeros round-trip bit-exactly and
    verify ok; Arrow's ``equals`` would fail the NaN, and pass a decoder
    that canonicalizes NaNs or drops the sign of -0.0."""
    src = tmp_path / "src"
    src.mkdir()
    # a quiet NaN with payload bits, -0.0, 0.0
    bits = pa.array([0x7FF8000000000123, 1 << 63, 0], pa.uint64())
    pq.write_table(pa.table({"x": bits.view(pa.float64())}),
                   str(src / "f.parquet"))
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(src), out)
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["mismatch_chunks"] == 0, v
    assert v["files_compared"] == 1 and v["rows_compared"] == 3

    (chk,) = glob.glob(f"{out}/chunks/*/*.parquet")
    args = (str(src / "f.parquet"), chk, pipeline.DEFAULT_BATCH_ROWS)
    assert verify._verify_one(*args)[4] == 0
    real = verify.decode_column

    def canonical_nan(kind, blob):
        # every NaN as the canonical quiet NaN: payload bits lost
        arr = real(kind, blob)
        return pa.compute.if_else(pa.compute.is_nan(arr), float("nan"),
                                  arr)

    def unsigned_zero(kind, blob):
        arr = real(kind, blob)
        return pa.compute.if_else(pa.compute.equal(arr, 0.0), 0.0, arr)

    for mutant in (canonical_nan, unsigned_zero):
        monkeypatch.setattr(verify, "decode_column", mutant)
        assert verify._verify_one(*args)[4] == 1, mutant.__name__


def test_nested_float_leaves_verify_by_their_bits(spark, tmp_path,
                                                  monkeypatch):
    """A NaN inside a struct verifies ok, and a -0.0 inside a list fails
    verify once a mutant decoder drops its sign: float leaves of nested
    columns compare by their bits too."""
    src = tmp_path / "src"
    src.mkdir()
    nan_bits = pa.array([0x7FF8000000000123, 0], pa.uint64())
    pq.write_table(pa.table({
        "s": pa.StructArray.from_arrays(
            [nan_bits.view(pa.float64())], names=["x"]),
        "l": pa.array([[-0.0, 1.5], [0.0]], pa.list_(pa.float32())),
    }), str(src / "f.parquet"))
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(src), out)
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["rows_compared"] == 2, v

    (chk,) = glob.glob(f"{out}/chunks/*/*.parquet")
    args = (str(src / "f.parquet"), chk, pipeline.DEFAULT_BATCH_ROWS)
    real = verify.decode_column

    def unsigned_zero(kind, blob):
        arr = real(kind, blob)
        if not pa.types.is_list(arr.type):
            return arr
        flat = pa.compute.if_else(pa.compute.equal(arr.values, 0.0),
                                  pa.scalar(0.0, arr.type.value_type),
                                  arr.values)
        return pa.ListArray.from_arrays(arr.offsets, flat,
                                        mask=arr.is_null())

    monkeypatch.setattr(verify, "decode_column", unsigned_zero)
    assert verify._verify_one(*args)[4] == 1


def test_wave_without_lineage_fails_verify(spark, tmp_path):
    """A ``cluster_partitions`` wave writes no chunks_meta lineage, so
    ``verify_files`` cannot replay it: it names the wave instead of
    passing on the file-source waves alone."""
    src = tmp_path / "tokens"
    gen = tmp_path / "gen"
    generate(str(gen), n_docs=400, seed=5, n_files=2)
    first, second = sorted(glob.glob(f"{gen}/*.parquet"))
    src.mkdir()
    os.replace(first, src / "a.parquet")
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(src), out)
    os.replace(second, src / "b.parquet")
    pipeline.encode_path(spark, str(src), out, append=True,
                         cluster_partitions=2)
    assert sorted(r["wave_id"] for r in mf.wave_records(out)) == [0, 1]
    assert sum(r["n_rows"] for r in mf.wave_records(out)) == 400
    v = verify.verify_files(spark, out)
    assert not v["ok"], v
    assert v["rows_compared"] == 200
    assert any(e.startswith("wave 1:") and "verify_path" in e
               for e in v["errors"]), v
