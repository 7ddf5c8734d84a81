"""The file-source listing: Spark's file index with
``recursiveFileLookup``, asked for with a fixed schema, gives the same
files (and so the same manifest lineage) and the same refusals as
Spark's schema-inference call, without running its Spark job or reading
any footer on the driver."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import (filetasks, pipeline,
                                                      verify)
from embulk_input_parquet_hadoop_spark.sources import datagen


@pytest.fixture(scope="module")
def four_files(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("listing") / "tokens")
    datagen.generate(path, n_docs=400, seed=5, n_files=4)
    return path


def _write(path: str, lo: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(range(lo, lo + 10), pa.int64()),
                             "s": [f"v{i}" for i in range(lo, lo + 10)]}),
                   path)


def _edge_tree(root: str) -> str:
    """Files Spark lists (a name without ``.parquet``, one with a space
    and a ``%``, one in a directory that is not a ``k=v`` partition)
    next to the names its filters drop."""
    _write(f"{root}/part-0.parquet", 0)
    _write(f"{root}/noext", 10)
    _write(f"{root}/b c%d.parquet", 20)
    _write(f"{root}/_temporary/x.parquet", 30)
    _write(f"{root}/sub/z.parquet", 40)
    open(f"{root}/_SUCCESS", "wb").close()
    for junk in (".a.parquet.crc", "y._COPYING_"):
        with open(f"{root}/{junk}", "wb") as f:
            f.write(b"not parquet")
    return root


def _spark_inference_files(spark, *paths: str) -> list[str]:
    return sorted(pipeline._uri_to_path(f) for f in spark.read.option(
        "recursiveFileLookup", "true").parquet(*paths).inputFiles())


def test_lineage_matches_spark_inference_listing(spark, tmp_path,
                                                 four_files, monkeypatch):
    tree = _edge_tree(str(tmp_path / "edge"))
    single = f"{four_files}/part-00002.parquet"
    # Spark resolves a relative path against the JVM's working directory
    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    monkeypatch.chdir(jvm_cwd)
    relative = os.path.relpath(four_files, jvm_cwd)
    cases = {"edge": ([tree], None),
             "glob": ([f"{four_files}/part-0000[13].parquet"], None),
             "single": ([single], None),
             "relative": ([relative], None),
             "input_files": ([tree], [single, f"{tree}/noext"])}
    for name, (paths, input_files) in cases.items():
        out = str(tmp_path / f"out_{name}")
        # input_files joins a tokens file to an edge-tree file: two
        # schemas, which only "mixed" encodes
        mode = "mixed" if name == "input_files" else "single"
        pipeline.encode_path(spark, paths[0], out, input_files=input_files,
                             schema_mode=mode)
        want = _spark_inference_files(spark, *(input_files or paths))
        assert want, name
        assert sorted(mf.committed_input_files(out)) == want, name

    # a tree encoded with the inference listing's lineage never
    # re-encodes: only a file added since is new
    out = str(tmp_path / "out_edge")
    before = mf.committed_input_files(out)
    assert f"{tree}/b c%d.parquet" in before
    # the walked subdirectory, as the reference expands directories
    assert f"{tree}/sub/z.parquet" in before and len(before) == 4
    _write(f"{tree}/part-1.parquet", 50)
    t = pipeline.encode_path(spark, tree, out, append=True)
    assert t["waves_run"] == 1 and t["n_rows"] == 10
    assert t["n_files_already_committed"] == len(before)
    assert mf.committed_input_files(out) - before \
        == {f"{tree}/part-1.parquet"}
    # every file verifies, the "%"-and-space name included
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["files_compared"] == len(before) + 1


def test_one_call_listing_keeps_every_name(spark, tmp_path):
    """``spark_input_files`` joins the JVM listing JVM-side and fetches
    it in substrings of at most ``_LISTING_CHUNK`` UTF-16 units;
    a newline in a file name (listed as ``%0A``) must not split it, nor
    a substring boundary an astral-plane character's surrogate pair
    (the names carry runs of them, so some boundary falls inside one)."""
    from pyspark.sql.types import StructType

    from embulk_input_parquet_hadoop_spark.sources import table
    tree = str(tmp_path / "odd")
    astral = "\U0001F600"
    names = ["a\nb.parquet", "c d%e.parquet", "part-0.parquet"] + [
        f"{i:03d}-{astral * (30 + i % 17)}-é%\n.parquet" for i in range(300)]
    for k, name in enumerate(names):
        _write(f"{tree}/{name}", 10 * k)
    df = spark.read.schema(StructType()).parquet(tree)
    listed = pipeline.spark_input_files(df)
    assert listed == df.inputFiles() and len(listed) == len(names)
    units = len("\n".join(listed).encode("utf-16-le")) // 2
    assert units > 3 * pipeline._LISTING_CHUNK
    assert table.table_files(df) == sorted(df.inputFiles())
    assert pipeline.spark_input_files(spark.range(3)) == []

    out = str(tmp_path / "out")
    pipeline.encode_path(spark, tree, out)
    assert sorted(mf.committed_input_files(out)) == sorted(
        f"{tree}/{n}" for n in names)
    v = verify.verify_files(spark, out)
    assert v["ok"] and v["files_compared"] == len(names)
    assert v["rows_compared"] == 10 * len(names)


def test_empty_and_missing_inputs_keep_sparks_refusal(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for src, error in ((str(empty), "UNABLE_TO_INFER_SCHEMA"),
                       (str(tmp_path / "missing"), "PATH_NOT_FOUND")):
        out = tmp_path / f"out_{error}"
        with pytest.raises(AnalysisException, match=error):
            pipeline.encode_path(spark, src, str(out))
        assert not (out / "manifest").exists()
        assert not (out / "chunks").exists()


def _group_jobs(sc, group: str) -> list[list[str]]:
    """Stage names of each job ``group`` ran, in job order."""
    st = sc.statusTracker()
    return [[st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(group))]


def test_expected_schema_still_runs_inference_first(spark, four_files,
                                                    tmp_path, monkeypatch):
    # without expected_schema the encode runs no `parquet at` job at all
    # (test_wave_runs_as_one_stage_packed_per_core pins that job shape).
    # These files are small enough for the driver route, which runs no
    # job for the wave; the Spark route is forced to see the wave's job
    # follow the inference job
    monkeypatch.setattr(filetasks, "DRIVER_WAVE_BYTES", 0)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("inferred", "encode with expected_schema")
        pipeline.encode_path(
            spark, four_files, str(tmp_path / "typed"),
            expected_schema="doc_id string, tokens array<int>, n_tok int, "
                            "source string")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    typed = _group_jobs(sc, "inferred")
    assert [s[0].startswith("parquet at") for s in typed] == [True, False]


@pytest.mark.parametrize("victim", range(4))
def test_corrupt_file_fails_alone_wherever_it_lists(spark, four_files,
                                                    tmp_path, victim):
    """Truncating the first listed file used to abort the call in the
    Spark schema probe, which reads that file's footer."""
    bad = str(tmp_path / "bad")
    shutil.copytree(four_files, bad)
    path = f"{bad}/part-{victim:05d}.parquet"
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    out = str(tmp_path / "tolerant")
    t = pipeline.encode_path(spark, bad, out, bad_file_threshold=0.5)
    assert t["n_rows"] == 300
    assert mf.read_manifest(spark, out).collect()[0].n_bad_files == 1
    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, bad, str(tmp_path / "strict"))
