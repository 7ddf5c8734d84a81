"""Per-file constant-column injection (``encode_path(const_columns=)``):
how partition values reach the encoded tree for sources that store them
outside the data files — Delta commit logs and Hive key=value trees."""

from __future__ import annotations

import datetime
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
from embulk_input_parquet_hadoop_spark.sources import delta_meta as dm
from embulk_input_parquet_hadoop_spark.sources import table as tbl
from fixtures.delta_fixture import write_delta_fixture


def test_const_arrays_types_and_nulls():
    arrs = dict(pipeline._const_arrays(
        {"s": "web", "i": 7, "f": 1.5, "b": True, "d": "2024-03-04",
         "z": None},
        3,
        {"s": "string", "i": "int32", "f": "float64", "b": "bool",
         "d": "date32", "z": "int64"}))
    assert arrs["s"].to_pylist() == ["web"] * 3
    assert arrs["i"].type == pa.int32() and arrs["i"][0].as_py() == 7
    assert arrs["f"].to_pylist() == [1.5] * 3
    assert arrs["b"].to_pylist() == [True] * 3
    assert arrs["d"].type == pa.date32()
    assert arrs["d"][0].as_py() == datetime.date(2024, 3, 4)
    assert arrs["z"].type == pa.int64()
    assert arrs["z"].null_count == 3


def test_encode_path_validation(spark, tokens_path, tmp_path):
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))
    with pytest.raises(ValueError, match="missing type"):
        pipeline.encode_path(spark, tokens_path, str(tmp_path / "o1"),
                             input_files=files,
                             const_columns={files[0]: {"src": "a"}})
    with pytest.raises(ValueError, match="unsupported const_schema"):
        pipeline.encode_path(spark, tokens_path, str(tmp_path / "o2"),
                             input_files=files,
                             const_columns={files[0]: {"src": "a"}},
                             const_schema={"src": "varchar"})
    with pytest.raises(ValueError, match="file-source"):
        pipeline.encode_path(spark, tokens_path, str(tmp_path / "o3"),
                             cluster_partitions=2,
                             const_columns={files[0]: {"src": "a"}},
                             const_schema={"src": "string"})


def test_physical_name_collision_fails_file(spark, tokens_path,
                                            tmp_path):
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))[:1]
    with pytest.raises(RuntimeError, match="exist physically"):
        pipeline.encode_path(
            spark, tokens_path, str(tmp_path / "o"), input_files=files,
            const_columns={files[0]: {"doc_id": "shadow"}},
            const_schema={"doc_id": "string"})


def test_delta_partition_injection_end_to_end(spark, tokens_path,
                                              tmp_path):
    """Partitioned Delta table (partition values ONLY in the log):
    inject -> encode -> decoded tree serves the partition columns with
    per-file constant values; verify_files replays the injection."""
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))[:2]
    tabs = [pq.read_table(f) for f in files]
    d = str(tmp_path / "tbl")
    write_delta_fixture(
        d, tabs, partition_columns=["src", "bucket"],
        partition_types={"bucket": "integer"},
        partition_values={0: {"src": "web", "bucket": "3"},
                          1: {"src": None, "bucket": "4"}})
    scan = dm.snapshot_scan(d)
    cc, cs = dm.partition_const_columns(scan)
    assert cs == {"src": "string", "bucket": "int32"}
    f0 = next(f for f in scan["data_files"]
              if f.endswith("part-00000.parquet"))
    f1 = next(f for f in scan["data_files"]
              if f.endswith("part-00001.parquet"))
    assert cc[f0] == {"src": "web", "bucket": 3}
    assert cc[f1] == {"src": None, "bucket": 4}
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, d, out,
                         input_files=scan["data_files"],
                         const_columns=cc, const_schema=cs)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out),
        ["doc_id", "src", "bucket"],
        "doc_id string, src string, bucket int")
    rows = dec.collect()
    assert len(rows) == sum(t.num_rows for t in tabs)
    ids0 = set(tabs[0].column("doc_id").to_pylist())
    for r in rows:
        if r.doc_id in ids0:
            assert (r.src, r.bucket) == ("web", 3)
        else:
            assert (r.src, r.bucket) == (None, 4)
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == len(rows)


def test_delta_partition_unsupported_type_refuses(tmp_path):
    t = pa.table({"doc_id": ["a"], "n": pa.array([1], pa.int32())})
    d = str(tmp_path / "t")
    write_delta_fixture(d, [t], partition_columns=["amt"],
                        partition_types={"amt": "decimal(10,2)"},
                        partition_values={0: {"amt": "12.50"}})
    with pytest.raises(dm.DeltaMetaError, match="unsupported type"):
        dm.partition_const_columns(dm.snapshot_scan(d))


def _write_hive_tree(root, tokens_files):
    layout = [("src=web/date=2024-01-02", tokens_files[0]),
              ("src=a%20b/date=__HIVE_DEFAULT_PARTITION__",
               tokens_files[1])]
    out = []
    for sub, f in layout:
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        dst = os.path.join(d, os.path.basename(f))
        pq.write_table(pq.read_table(f), dst)
        out.append(dst)
    # hidden debris must be skipped like the reference's glob
    os.makedirs(os.path.join(root, "_tmp_dir"), exist_ok=True)
    open(os.path.join(root, "src=web", ".crc"), "w").write("x")
    return out


def test_hive_scan_and_encode(spark, tokens_path, tmp_path):
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))[:2]
    root = str(tmp_path / "hive")
    _write_hive_tree(root, files)
    got, cc, cs = tbl.hive_partitioned_files(
        root, partition_types={"date": "date32"})
    assert len(got) == 2
    assert cs == {"date": "date32", "src": "string"}
    by_src = {cc[f]["src"]: cc[f] for f in got}
    assert by_src["web"]["date"] == "2024-01-02"
    assert by_src["a b"]["date"] is None  # url-decoded + default part.
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, root, out, input_files=got,
                         const_columns=cc, const_schema=cs)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "src", "date"],
        "doc_id string, src string, date date")
    rows = dec.collect()
    n0 = pq.read_metadata(files[0]).num_rows
    n1 = pq.read_metadata(files[1]).num_rows
    assert len(rows) == n0 + n1
    assert sum(1 for r in rows
               if r.src == "web"
               and r.date == datetime.date(2024, 1, 2)) == n0
    assert sum(1 for r in rows
               if r.src == "a b" and r.date is None) == n1
    vf = verify.verify_files(spark, out)
    assert vf["ok"]


def test_hive_inconsistent_keys_raise(tokens_path, tmp_path):
    files = sorted(glob.glob(f"{tokens_path}/*.parquet"))[:2]
    root = str(tmp_path / "hive")
    for sub, f in (("src=web", files[0]), ("other", files[1])):
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pq.read_table(f),
                       os.path.join(d, os.path.basename(f)))
    with pytest.raises(ValueError, match="inconsistent"):
        tbl.hive_partitioned_files(root)


def test_delta_timestamp_partition_injection(spark, tmp_path):
    t = pa.table({"doc_id": ["a", "b"],
                  "n": pa.array([1, 2], pa.int32())})
    d = str(tmp_path / "t")
    write_delta_fixture(
        d, [t], partition_columns=["ts"],
        partition_types={"ts": "timestamp"},
        partition_values={0: {"ts": "2024-03-04 05:06:07.123456"}})
    scan = dm.snapshot_scan(d)
    cc, cs = dm.partition_const_columns(scan)
    assert cs == {"ts": "timestamp_us"}
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, d, out, input_files=scan["data_files"],
                         const_columns=cc, const_schema=cs)
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id", "ts"],
        "doc_id string, ts timestamp_ntz")
    rows = dec.collect()
    assert len(rows) == 2
    assert all(r.ts == datetime.datetime(2024, 3, 4, 5, 6, 7, 123456)
               for r in rows)
    assert verify.verify_files(spark, out)["ok"]
