"""Smoke tests for the benchmark at a tiny input size.

    python -m pytest perfbench/tests -q

Each CLI run starts its own Spark session, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SCALE = 0.02
NAMED = {
    "encode_tokens": ["encode_tokens_per_s", "bytes_per_token"],
    "read_tokens": ["verify_tokens_per_s", "scan_pruned_s",
                    "read_columns_s", "bytes_per_token"],
    "append_mixed": ["append_s_p50", "append_growth", "mixed_bytes_ratio"],
}
COMMON = ["setup_s", "peak_rss_mb", "ops_failed_frac",
          "host.numpy_control_per_s"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", str(SCALE)],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", sorted(NAMED))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    printed = {ln.split()[1]: ln.split()[3] for ln in lines
               if ln.startswith("metric ") and len(ln.split()) == 4}
    for name in NAMED[workload] + COMMON:
        assert name in printed, name


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("encode_tokens", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_declared_metric_not_computed_fails_the_run(tmp_path):
    spec = _spec()
    spec["per_layer"].append({"name": "no.such_layer_metric",
                              "unit": "count", "better": "lower"})
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(spec))
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    os.symlink(os.path.join(ROOT, "embulk_input_parquet_hadoop_spark"),
               tmp_path / "embulk_input_parquet_hadoop_spark")
    p = _run("append_mixed", 1, cwd=str(tmp_path))
    assert p.returncode != 0
    assert "no.such_layer_metric" in p.stderr
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())


# -- gates, in-process -----------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark-tmp"))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from embulk_input_parquet_hadoop_spark.session import get_spark
    s = get_spark("perfbench-smoke", cores=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": tmp})
    yield s
    s.stop()


def _workload(name, spark, tmp_path):
    man = inputs.prepare(name, 3, SCALE, 2, str(tmp_path / "inputs"))
    work = tmp_path / "work"
    work.mkdir()
    wl = WORKLOADS[name](spark, man, str(work), 2, Tracer(name))
    wl.setup()
    assert all(ok for _n, ok, _d in wl.checks), wl.checks
    return wl


def _flip_blob_byte(chunk_file: str) -> None:
    import pyarrow.parquet as pq
    blob = pq.read_table(chunk_file, columns=["blobs"]).column(
        "blobs")[0].values[0].as_py()
    data = bytearray(open(chunk_file, "rb").read())
    # a byte inside the first blob's payload, well past its frame header
    at = data.find(blob[-64:]) + 32
    assert at > 32
    data[at] ^= 0xFF
    with open(chunk_file, "wb") as f:
        f.write(data)


def test_flipped_chunk_byte_fires_gates(spark, tmp_path):
    from perfbench.workloads import chunk_digest
    wl = _workload("encode_tokens", spark, tmp_path)
    wl.op()
    assert all(ok for _n, ok, _d in wl.checks)
    # the repeat gate compares blobs: a flipped byte in a copy differs
    copy = str(tmp_path / "copy")
    shutil.copytree(wl.out, copy)
    chunk = sorted(os.listdir(os.path.join(copy, "chunks", "wave=0")))
    _flip_blob_byte(os.path.join(copy, "chunks", "wave=0",
                                 [c for c in chunk
                                  if c.endswith(".parquet")][0]))
    assert chunk_digest(copy) != wl.ref_digest
    # verify_files reads the tree's own chunk files: flip one there
    chunk_dir = os.path.join(wl.out, "chunks", "wave=0")
    _flip_blob_byte(os.path.join(chunk_dir, sorted(
        c for c in os.listdir(chunk_dir) if c.endswith(".parquet"))[0]))
    wl.final_checks()
    failed = [n for n, ok, _d in wl.checks if not ok]
    assert failed and failed[0].startswith("verify_files")


def test_dropped_slice_fires_gates(spark, tmp_path):
    wl = _workload("append_mixed", spark, tmp_path)
    staged = wl.stage("events")
    os.remove(staged[0])  # the program never sees this slice
    wl.append("events", staged)
    wl.final_checks()
    failed = {n for n, ok, _d in wl.checks if not ok}
    assert "append events" in failed
    assert "manifest rows events" in failed
    assert "committed_input_files events" in failed
    assert not any(n.endswith("lineitem") for n in failed)
