"""``schema_mode`` is one policy over one listing and one wave sequence:
each encode task keys its files by schema, ``single`` refuses a wave
that brings a second schema (before it commits), ``mixed`` lets files of
any schemas share waves, and the driver opens no footer in either for a
wave that runs as a Spark stage (a wave of at most
``filetasks.DRIVER_WAVE_BYTES`` runs its encode tasks in the driver)."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.plans import filetasks, fsutil
from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify

PROBE_SCHEMAS = ["c_int: int32", "c_int: int64",
                 "c_str: string, c_bool: bool"]


def _probe_tree(root: str) -> str:
    """Three files of three schemas; ``c`` has no ``.parquet`` suffix."""
    os.makedirs(root)
    pq.write_table(pa.table({"c_int": pa.array([1, 2, 3], pa.int32())}),
                   f"{root}/a.parquet")
    pq.write_table(pa.table({"c_str": ["x", "y"],
                             "c_bool": [True, False]}),
                   f"{root}/b.parquet")
    pq.write_table(pa.table({"c_int": pa.array([7], pa.int64())}),
                   f"{root}/c")
    return root


def _wave_files(out: str) -> list[str]:
    return glob.glob(f"{out}/manifest/wave-*.json")


def test_single_refuses_a_multi_schema_wave(spark, tmp_path):
    src = _probe_tree(str(tmp_path / "src"))
    out = str(tmp_path / "enc")
    with pytest.raises(ValueError, match=r"b\.parquet|/c has") as ei:
        pipeline.encode_path(spark, src, out)
    assert "schema_mode='single'" in str(ei.value)
    assert _wave_files(out) == []
    assert pipeline.read_chunks(spark, out).count() == 0
    # the refused wave's chunk files are uncommitted debris
    assert mf.vacuum(out)["waves_removed"] == 1


def test_single_refuses_a_later_wave_of_a_new_schema(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(pa.table({"c_int": pa.array([1, 2, 3], pa.int32())}),
                   f"{src}/a.parquet")
    pq.write_table(pa.table({"c_str": ["x"], "c_bool": [True]}),
                   f"{src}/b.parquet")
    out = str(tmp_path / "enc")
    with pytest.raises(ValueError,
                       match=r"wave 1: .*a\.parquet.*b\.parquet"):
        pipeline.encode_path(spark, src, out, waves=2)
    assert mf.completed_waves(spark, out) == {0}
    dec = pipeline.read_decoded(spark, out, ["c_int"], "c_int int")
    assert sorted(r.c_int for r in dec.collect()) == [1, 2, 3]


def test_append_of_a_new_schema_is_refused(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(pa.table({"c_int": pa.array([1, 2, 3], pa.int32())}),
                   f"{src}/a.parquet")
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, src, out)
    before = mf.wave_records(out)
    assert before[0]["schemas"] == ["c_int: int32"]
    pq.write_table(pa.table({"c_int": pa.array([7], pa.int64())}),
                   f"{src}/c")
    with pytest.raises(ValueError,
                       match=r"committed wave 0 has \(c_int: int32\).*/c "):
        pipeline.encode_path(spark, src, out, append=True)
    assert mf.wave_records(out) == before
    assert [os.path.basename(p) for p in _wave_files(out)] == ["wave-0.json"]


def test_mixed_encodes_the_probe_tree_in_one_wave(spark, tmp_path):
    src = _probe_tree(str(tmp_path / "src"))
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, src, out, schema_mode="mixed")
    assert totals["waves_run"] == 1 and totals["n_rows"] == 6
    (rec,) = mf.wave_records(out)
    assert rec["schemas"] == PROBE_SCHEMAS
    assert any(f.endswith("/c") for f in rec["input_files"])
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["c_int", "c_str", "c_bool"],
        "c_int bigint, c_str string, c_bool boolean")
    assert sorted((tuple(r) for r in dec.collect()), key=repr) == sorted(
        [(1, None, None), (2, None, None), (3, None, None),
         (7, None, None), (None, "x", True), (None, "y", False)],
        key=repr)
    assert verify.verify_files(spark, out)["ok"]
    # an append finds nothing new
    again = pipeline.encode_path(spark, src, out, schema_mode="mixed",
                                 append=True)
    assert again["n_files_already_committed"] == 3
    assert again["waves_run"] == 0


def test_single_ignores_metadata_nullability_and_list_names(spark,
                                                            tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    ids = pa.array([1, 2], pa.int64())
    vals = pa.array([[1, 2], [3]], pa.list_(pa.int64()))
    tagged = pa.schema(
        [pa.field("id", pa.int64(), metadata={"PARQUET:field_id": "1"}),
         pa.field("v", pa.list_(pa.int64()))],
        metadata={"org.apache.spark.sql.parquet.row.metadata": "{}"})
    pq.write_table(pa.table([ids, vals], schema=tagged), f"{src}/a.parquet")
    required = pa.schema([pa.field("id", pa.int64(), nullable=False),
                          pa.field("v", pa.list_(pa.int64()))])
    # the legacy list layout reads back as list<item>, the compliant one
    # (a.parquet) as list<element>
    pq.write_table(pa.table([ids, vals], schema=required),
                   f"{src}/b.parquet", use_compliant_nested_type=False)
    a, b = (pq.read_schema(f"{src}/{n}.parquet") for n in "ab")
    assert not a.equals(b, check_metadata=True)
    assert str(a.field("v").type) != str(b.field("v").type)
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, src, out)
    assert totals["n_rows"] == 4
    (rec,) = mf.wave_records(out)
    assert rec["schemas"] == ["id: int64, v: list<item: int64>"]


def test_mixed_refuses_cluster_partitions(spark, tmp_path):
    src = _probe_tree(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="cluster_partitions"):
        pipeline.encode_path(spark, src, str(tmp_path / "enc"),
                             schema_mode="mixed", cluster_partitions=2)


def test_checkpoint_keeps_the_wave_schemas(spark, tmp_path):
    src = _probe_tree(str(tmp_path / "src"))
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, src, out, schema_mode="mixed")
    ck = mf.compact_manifest(out)
    with open(ck["checkpoint"]) as f:
        (entry,) = json.load(f)["waves"]
    assert entry["schemas"] == PROBE_SCHEMAS
    assert mf.wave_records(out)[0]["schemas"] == PROBE_SCHEMAS


@pytest.mark.parametrize("schema_mode", ["single", "mixed"])
def test_driver_opens_no_footer(spark, tmp_path, monkeypatch, schema_mode):
    """Footers are opened in the encode tasks only (Spark's Python workers
    are other processes, untouched by this patch). A wave this small
    would run its tasks in the driver, so the Spark route is forced."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(pa.table({"c_int": pa.array([i], pa.int32())}),
                       f"{src}/f{i}.parquet")

    def no_footer(path):
        raise AssertionError(f"driver opened the footer of {path}")

    monkeypatch.setattr(filetasks, "DRIVER_WAVE_BYTES", 0)
    monkeypatch.setattr(fsutil, "parquet_file", no_footer)
    totals = pipeline.encode_path(spark, src, str(tmp_path / "enc"),
                                  schema_mode=schema_mode)
    assert totals["n_rows"] == 3


def test_schema_key_ignores_what_pyarrow_equality_ignores():
    key = pipeline._schema_key
    plain = pa.schema([("m", pa.map_(pa.string(), pa.float64())),
                       ("s", pa.struct([("x", pa.list_(pa.int8()))]))])
    dressed = pa.schema(
        [pa.field("m", pa.map_(pa.string(), pa.float64()),
                  nullable=False),
         pa.field("s", pa.struct([pa.field(
             "x", pa.list_(pa.field("element", pa.int8(), nullable=False)),
             nullable=False, metadata={"k": "v"})]))],
        metadata={"k": "v"})
    assert key(plain) == key(dressed)
    assert key(plain) != key(pa.schema([plain.field("s"), plain.field("m")]))
    assert key(plain) != key(plain.set(1, pa.field(
        "s", pa.struct([("x", pa.list_(pa.int16()))]))))
