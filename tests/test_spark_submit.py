"""The north rule's deployment shape, exercised for real: zip the package,
launch jobs/encode_job.py through ``spark-submit --py-files`` in a fresh
JVM (NOT the suite's session), and check the job's JSON totals + verify.

Proves the submit path end to end: the package ships via --py-files, the
master comes from the submit conf (no --cores, so the job's
getOrCreate() branch runs), and the job completes encode + channel-free
verify and prints clean JSON totals. (The driver side also finds the
package next to the script — encode_job.py self-inserts its repo root —
but the executors' Python workers resolve it from the shipped zip. Small
waves run in the driver, so the token-table test writes waves above
``filetasks.DRIVER_WAVE_BYTES`` to keep a Python task on the executors.)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from embulk_input_parquet_hadoop_spark.plans import filetasks

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit")


@pytest.mark.skipif(not (SPARK_SUBMIT and os.path.exists(SPARK_SUBMIT)),
                    reason="spark-submit not on PATH")
def test_encode_job_via_spark_submit(tmp_path, spark):
    # build the --py-files artifact exactly as the job docstring says
    zpath = tmp_path / "engine.zip"
    pkg = os.path.join(REPO, "embulk_input_parquet_hadoop_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    # a token table from the suite's session (stopped JVMs don't
    # conflict: spark-submit gets its own). Every two of its files hold
    # more than filetasks.DRIVER_WAVE_BYTES, so each of the two encode
    # waves, and verify, run as Spark tasks: the executors' Python
    # workers must import the package from the zip
    tok = str(tmp_path / "tokens")
    n_toks = [150 + i % 100 for i in range(2000)]
    rows = [(f"d{i}", [(i * 7919 + j * 104729) % 50_000 for j in range(n)],
             n, f"s{i % 3}") for i, n in enumerate(n_toks)]
    (spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
     .repartition(4).write.parquet(tok))
    sizes = [os.path.getsize(os.path.join(tok, f)) for f in os.listdir(tok)
             if f.endswith(".parquet")]
    assert len(sizes) == 4 and 2 * min(sizes) > filetasks.DRIVER_WAVE_BYTES

    out = str(tmp_path / "encoded")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no --cores: the master comes from the submit conf, the session from
    # getOrCreate() — the exact cluster code path of the job
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath),
         os.path.join(REPO, "jobs", "encode_job.py"),
         "--input", tok, "--output", out, "--waves", "2",
         "--verify-files", "--relayout-columnar", str(tmp_path / "cols")],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["verify"]["ok"] is True, res
    assert res["n_tokens"] == sum(n_toks), res
    assert os.path.isdir(os.path.join(out, "chunks")), "no chunk tree"
    assert os.path.isdir(os.path.join(out, "manifest")), "no manifest"
    assert set(res["columnar"]) == {"doc_id", "tokens", "n_tok", "source"}
    assert os.path.isdir(str(tmp_path / "cols" / "name=tokens"))


@pytest.mark.skipif(not (SPARK_SUBMIT and os.path.exists(SPARK_SUBMIT)),
                    reason="spark-submit not on PATH")
def test_encode_job_hudi_mor_via_spark_submit(tmp_path):
    """encode_job --hudi on a MERGE_ON_READ table in a fresh JVM: the
    job plans the snapshot from .hoodie metadata, stages the
    log-bearing slice into --staging (each slice on its own), encodes the
    merged rows and verifies — the full MOR CLI chain with zero Hudi
    runtime. No Spark fixture needed: the base file and log blocks are
    driver-side pyarrow/bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.sources import hudi_meta

    zpath = tmp_path / "engine.zip"
    pkg = os.path.join(REPO, "embulk_input_parquet_hadoop_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    def row(i, n):
        return {"_hoodie_record_key": f"k{i}", "doc_id": f"d{i}",
                "tokens": list(range(n)), "n_tok": n,
                "source": f"s{i % 3}"}

    base_rows = [row(i, i % 50 + 1) for i in range(100)]
    schema = pa.schema([("_hoodie_record_key", pa.string()),
                        ("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()), ("source", pa.string())])
    base_pq = str(tmp_path / "base.parquet")
    pq.write_table(pa.Table.from_pylist(base_rows, schema=schema),
                   base_pq)
    avro_schema = {"type": "record", "name": "doc", "fields": [
        {"name": "_hoodie_record_key", "type": "string"},
        {"name": "doc_id", "type": "string"},
        {"name": "tokens", "type": {"type": "array", "items": "int"}},
        {"name": "n_tok", "type": "int"},
        {"name": "source", "type": "string"}]}
    upserts = [row(i, 3) for i in range(100) if i % 10 == 5]
    deletes = [f"k{i}" for i in range(100) if i % 10 == 0]
    inserts = [row(100 + i, 4) for i in range(5)]
    tbl = str(tmp_path / "tbl")
    hudi_meta.write_table_fixture(tbl, [
        {"writes": {"": [("f-a", base_pq)]}},
        {"logs": {"": [("f-a", 0, 1, [
            ("data", avro_schema, upserts),
            ("delete", deletes),
            ("data", avro_schema, inserts)])]}},
    ], table_type="MERGE_ON_READ")
    live = {r["_hoodie_record_key"]: r for r in base_rows}
    for r in upserts:
        live[r["_hoodie_record_key"]] = r
    for k in deletes:
        live.pop(k)
    for r in inserts:
        live[r["_hoodie_record_key"]] = r

    out = str(tmp_path / "encoded")
    stg = str(tmp_path / "staging")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath),
         os.path.join(REPO, "jobs", "encode_job.py"),
         "--input", tbl, "--output", out,
         "--hudi", "--staging", stg, "--verify-files"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["verify"]["ok"] is True, res
    assert res["n_rows"] == len(live), res
    assert res["n_tokens"] == sum(r["n_tok"] for r in live.values()), res
    staged = [f for f in os.listdir(stg) if f.endswith(".parquet")]
    assert len(staged) == 1, staged


@pytest.mark.skipif(not (SPARK_SUBMIT and os.path.exists(SPARK_SUBMIT)),
                    reason="spark-submit not on PATH")
def test_encode_job_iceberg_via_spark_submit(tmp_path, spark):
    """The full north-rule deployment in one run: spark-submit
    --py-files, input resolved from ICEBERG TABLE METADATA (--iceberg,
    no runtime jar), and the channel-free verify green."""
    zpath = tmp_path / "engine.zip"
    pkg = os.path.join(REPO, "embulk_input_parquet_hadoop_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    data = str(tmp_path / "table" / "data")
    rows = [(f"d{i}", list(range(i % 50 + 1)), i % 50 + 1, f"s{i % 3}")
            for i in range(200)]
    (spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
     .repartition(2).write.parquet(data))
    import glob
    from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
    iceberg_meta.write_table_fixture(
        str(tmp_path / "table"), sorted(glob.glob(f"{data}/*.parquet")))

    out = str(tmp_path / "encoded")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath),
         os.path.join(REPO, "jobs", "encode_job.py"),
         "--input", str(tmp_path / "table"), "--output", out,
         "--iceberg", "--verify-files"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["verify"]["ok"] is True, res
    assert res["n_tokens"] == sum(i % 50 + 1 for i in range(200)), res
