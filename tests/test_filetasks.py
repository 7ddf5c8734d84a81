"""The two routes of ``filetasks.run_file_tasks``: a wave of at most
``DRIVER_WAVE_BYTES`` source bytes runs its bins in the driver, any other
wave as one Spark stage. Both routes must write the same outputs under the
same names; the Spark route is forced by setting the cut to 0."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from embulk_input_parquet_hadoop_spark.plans import (filetasks, fsutil,
                                                      pipeline, verify)
from embulk_input_parquet_hadoop_spark.sources import datagen
from embulk_input_parquet_hadoop_spark.sources import hudi_log as hl
from embulk_input_parquet_hadoop_spark.sources import hudi_meta as hm
from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
from embulk_input_parquet_hadoop_spark.sources import jsonl_io as jl


@pytest.fixture(scope="module")
def small_files(tmp_path_factory):
    """Four small source files: one driver-route wave of four bins."""
    path = str(tmp_path_factory.mktemp("small") / "tokens")
    datagen.generate(path, n_docs=80, seed=5, n_files=4)
    files = sorted(os.path.join(path, n) for n in os.listdir(path)
                   if n.endswith(".parquet"))
    assert sum(fsutil.file_sizes(files)) <= filetasks.DRIVER_WAVE_BYTES
    return path, files


def _spark_route(monkeypatch):
    monkeypatch.setattr(filetasks, "DRIVER_WAVE_BYTES", 0)


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _chunk_files(out: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, n), out)
                  for d, _, names in os.walk(f"{out}/chunks")
                  for n in names if n.endswith(".parquet"))


def _wall_ms_ranges(path: str) -> list[tuple[int, int]]:
    md = pq.ParquetFile(path).metadata
    out = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            cc = rg.column(c)
            if cc.path_in_schema == "wall_ms":
                lo = cc.dictionary_page_offset or cc.data_page_offset
                out.append((lo, lo + cc.total_compressed_size))
    return out


def _assert_same_but_wall_ms(a: str, b: str) -> None:
    """Chunk files ``a`` and ``b`` hold the same bytes, except inside
    their ``wall_ms`` column chunks (a task timer)."""
    ra, rb = open(a, "rb").read(), open(b, "rb").read()
    assert len(ra) == len(rb), (a, b)
    ranges = _wall_ms_ranges(a)
    assert ranges == _wall_ms_ranges(b)
    diff = np.flatnonzero(np.frombuffer(ra, np.uint8)
                          != np.frombuffer(rb, np.uint8))
    assert all(any(lo <= d < hi for lo, hi in ranges) for d in diff), (a, b)


def _meta_rows(out: str) -> list[dict]:
    t = pq.read_table(f"{out}/chunks_meta/wave-0.parquet").drop(["wall_ms"])
    rows = t.to_pylist()
    for r in rows:
        r["chunk_file"] = r["chunk_file"].replace(out, "<out>")
    return rows


def _manifest_record(out: str) -> dict:
    rec = json.loads(open(f"{out}/manifest/wave-0.json").read())
    rec.pop("wall_s")
    return rec


def test_driver_route_wave_keeps_every_bin(spark, small_files, tmp_path):
    """Each bin names its chunk files by its own index: a wave of four
    bins in the driver commits four chunk files, none replacing
    another."""
    src, files = small_files
    out = str(tmp_path / "enc")
    totals, jobs = _jobs_of(spark, "driver-wave",
                            lambda: pipeline.encode_path(spark, src, out))
    assert jobs == []  # no Spark job: the wave ran in the driver
    assert totals["n_rows"] == 80
    assert _chunk_files(out) == [f"chunks/wave=0/part-{p:05d}-f0000.parquet"
                                 for p in range(len(files))]
    meta = pq.read_table(f"{out}/chunks_meta/wave-0.parquet")
    assert sorted(set(meta.column("part_id").to_pylist())) == [0, 1, 2, 3]
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["files_compared"] == len(files)
    assert v["rows_compared"] == 80


def test_routes_write_the_same_tree(spark, small_files, tmp_path,
                                    monkeypatch):
    src, files = small_files
    drv, spk = str(tmp_path / "driver"), str(tmp_path / "spark")
    pipeline.encode_path(spark, src, drv)
    vd, vjobs = _jobs_of(spark, "verify-driver",
                         lambda: verify.verify_files(spark, drv))
    assert vjobs == []
    with monkeypatch.context() as m:
        _spark_route(m)
        _, jobs = _jobs_of(spark, "spark-wave",
                           lambda: pipeline.encode_path(spark, src, spk))
        assert len(jobs) == 1
        vs, vjobs = _jobs_of(spark, "verify-spark",
                             lambda: verify.verify_files(spark, spk))
        assert len(vjobs) == 1
    names = _chunk_files(drv)
    assert names == _chunk_files(spk) and len(names) == len(files)
    for n in names:
        _assert_same_but_wall_ms(f"{drv}/{n}", f"{spk}/{n}")
    assert _meta_rows(drv) == _meta_rows(spk)
    assert _manifest_record(drv) == _manifest_record(spk)
    assert vd == vs and vd["ok"]


def test_routes_apply_the_same_side_inputs(spark, small_files, tmp_path,
                                           monkeypatch):
    """A wave with side inputs — position deletes and a constant column
    per file — encodes and verifies alike on both routes."""
    _, files = small_files
    n0 = pq.read_metadata(files[0]).num_rows
    dels = {files[0]: [0, 2, n0 - 1], files[2]: [1]}
    scan = iceberg_meta.snapshot_scan(iceberg_meta.write_table_fixture(
        str(tmp_path / "tbl"), files, position_deletes=dels))
    consts = {f: {"src": f"s{i}"} for i, f in enumerate(scan["data_files"])}

    def encode(out):
        return pipeline.encode_path(
            spark, str(tmp_path / "tbl"), out,
            input_files=scan["data_files"],
            plan={"row_deletes": scan["position_deletes"],
                  "const_columns": consts,
                  "const_schema": {"src": "string"}})

    drv, spk = str(tmp_path / "driver"), str(tmp_path / "spark")
    (td, vd), jobs = _jobs_of(spark, "side-driver", lambda: (
        encode(drv), verify.verify_files(spark, drv)))
    assert jobs == []
    with monkeypatch.context() as m:
        _spark_route(m)
        (ts, vs), jobs = _jobs_of(spark, "side-spark", lambda: (
            encode(spk), verify.verify_files(spark, spk)))
        assert len(jobs) == 2  # the encode wave and verify_files
    assert td["n_rows"] == ts["n_rows"] == 80 - 4
    names = _chunk_files(drv)
    assert names == _chunk_files(spk) and len(names) == len(files)
    for n in names:
        _assert_same_but_wall_ms(f"{drv}/{n}", f"{spk}/{n}")
    assert _meta_rows(drv) == _meta_rows(spk)
    assert _manifest_record(drv) == _manifest_record(spk)
    assert vd == vs and vd["ok"] and vd["rows_compared"] == 80 - 4


def test_routes_stage_the_same_mor_slices(spark, tmp_path, monkeypatch):
    schema = {"type": "record", "name": "rec", "fields": [
        {"name": "_hoodie_record_key", "type": "string"},
        {"name": "val", "type": "long"}]}
    writes, logs = {}, {}
    for i in range(3):
        base = str(tmp_path / f"b{i}.parquet")
        pq.write_table(pa.table({
            "_hoodie_record_key": [f"k{i}-{j}" for j in range(4)],
            "val": pa.array(range(4), pa.int64())}), base)
        writes[f"p={i}"] = [(f"f-{i}", base)]
        logs[f"p={i}"] = [(f"f-{i}", 0, 1, [
            ("data", schema, [{"_hoodie_record_key": f"k{i}-1",
                               "val": 10 + i}]),
            ("delete", [f"k{i}-2"])])]
    d = str(tmp_path / "tbl")
    hm.write_table_fixture(d, [{"writes": writes}, {"logs": logs}],
                           table_type="MERGE_ON_READ")
    scan = hm.snapshot_scan(d)
    drv, jobs = _jobs_of(spark, "mor-driver", lambda: hl.stage_mor_slices(
        spark, scan, str(tmp_path / "stg_driver")))
    assert jobs == []
    with monkeypatch.context() as m:
        _spark_route(m)
        spk, jobs = _jobs_of(spark, "mor-spark", lambda: hl.stage_mor_slices(
            spark, scan, str(tmp_path / "stg_spark")))
        assert len(jobs) == 1
    assert drv["n_staged"] == spk["n_staged"] == 3
    for a, b in zip(drv["files"], spk["files"], strict=True):
        assert os.path.basename(a) == os.path.basename(b)
        assert open(a, "rb").read() == open(b, "rb").read()
        assert pq.read_table(a).num_rows == 3
    assert drv["n_skipped"] == spk["n_skipped"] == 0


def test_routes_stage_the_same_jsonl(spark, tmp_path, monkeypatch):
    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(3):
        rows = [{"doc_id": 10 * i + j, "text": f"t{j}" * j, "n": j}
                for j in range(1, 6 + i)]
        (raw / f"part-{i}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n")
    drv = jl.stage_jsonl(spark, str(raw), str(tmp_path / "stg_driver"))
    with monkeypatch.context() as m:
        _spark_route(m)
        spk, jobs = _jobs_of(
            spark, "spark-stage",
            lambda: jl.stage_jsonl(spark, str(raw),
                                   str(tmp_path / "stg_spark")))
        assert len(jobs) == 1
    assert drv["n_staged"] == spk["n_staged"] == 3
    for a, b in zip(drv["files"], spk["files"], strict=True):
        assert os.path.basename(a) == os.path.basename(b)
        assert open(a, "rb").read() == open(b, "rb").read()
    strip = {k: v for k, v in drv.items() if k != "files"}
    assert strip == {k: v for k, v in spk.items() if k != "files"}


def _lineitem_slice(path: str, rng, n: int = 3000) -> int:
    """A Parquet (zstd) slice shaped like TPC-H lineitem rows, ~75 KB at
    3,000 rows; returns its size."""
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(rng.integers(9_132, 11_631, n)
                               * 86_400_000_000, pa.timestamp("us")),
    }), path, compression="zstd")
    return os.path.getsize(path)


def test_lineitem_append_runs_in_the_driver(spark, tmp_path):
    """An append of two ~75 KB lineitem slices, more than 64 KiB but
    within ``DRIVER_WAVE_BYTES``, encodes without a Spark job."""
    rng = np.random.default_rng(3)
    src, out = tmp_path / "lineitem", str(tmp_path / "enc")
    src.mkdir()
    _lineitem_slice(str(src / "s0.parquet"), rng)
    pipeline.encode_path(spark, str(src), out)
    sizes = [_lineitem_slice(str(src / f"s{k}.parquet"), rng)
             for k in (1, 2)]
    assert 64 * 1024 < sum(sizes) <= filetasks.DRIVER_WAVE_BYTES
    totals, jobs = _jobs_of(spark, "lineitem-append", lambda: (
        pipeline.encode_path(spark, str(src), out, append=True)))
    assert jobs == []
    assert totals["n_rows"] == 6000
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["files_compared"] == 3


def test_avro_bytes_weigh_more_than_jsonl(spark, tmp_path):
    """Staging weighs an Avro container's bytes at
    ``jsonl_io._AVRO_BYTE_COST`` times their size (decoded a record at a
    time in Python): 64–192 KiB of Avro runs as a Spark job, the same
    bytes of JSONL in the driver."""
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    rng = np.random.default_rng(4)
    schema = {"type": "record", "name": "doc", "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"}]}
    avro_dir, jsonl_dir = tmp_path / "avro", tmp_path / "jsonl"
    avro_dir.mkdir()
    jsonl_dir.mkdir()
    for k in range(2):
        docs = [{"doc_id": i, "text": rng.bytes(24).hex()}
                for i in range(1600)]
        avro_io.write_avro(str(avro_dir / f"p{k}.avro"), schema, docs)
        (jsonl_dir / f"p{k}.jsonl").write_text(
            "".join(json.dumps(d) + "\n" for d in docs[:650]))
    for d in (avro_dir, jsonl_dir):
        total = sum(f.stat().st_size for f in d.iterdir())
        assert 64 * 1024 < total <= filetasks.DRIVER_WAVE_BYTES, (d, total)
    av, jobs = _jobs_of(spark, "avro-stage", lambda: jl.stage_avro(
        spark, str(avro_dir), str(tmp_path / "stg_avro")))
    assert len(jobs) == 1 and av["n_rows"] == 3200
    js, jobs = _jobs_of(spark, "jsonl-stage", lambda: jl.stage_jsonl(
        spark, str(jsonl_dir), str(tmp_path / "stg_jsonl")))
    assert jobs == [] and js["n_rows"] == 1300


def test_escaping_error_reaches_the_caller(spark, monkeypatch):
    """An error that escapes the task function reaches the caller as
    itself on the driver route; the Spark route wraps it in the job
    failure (``Py4JJavaError``)."""
    def failing_task(pid, batch):
        raise ValueError(f"boom in bin {pid}")
        yield  # a generator, like every task function

    schema = pa.schema([("p", pa.string())])
    args = (spark, [("a",), ("b",)], schema, failing_task, schema)
    with pytest.raises(ValueError, match="boom in bin 0"):
        filetasks.run_file_tasks(*args, weights=[1, 1])
    _spark_route(monkeypatch)
    with pytest.raises(Py4JJavaError, match="ValueError: boom in bin"):
        filetasks.run_file_tasks(*args, weights=[1, 1])

