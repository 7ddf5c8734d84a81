"""delta_meta.export_table: DataFrame -> one-commit Delta table,
readback-gated through the repo's own native reader."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.sources import delta_meta as dm


def test_export_roundtrips_through_native_reader(spark, tmp_path):
    df = (spark.range(0, 400)
          .select(F.col("id").alias("doc_id"),
                  (F.col("id") % 7).alias("bucket"),
                  F.array((F.col("id") % 100).cast("int"),
                          F.lit(1)).alias("toks"))
          .repartition(2))
    out = str(tmp_path / "dt")
    res = dm.export_table(df, out)
    assert res["n_rows"] == 400 and len(res["files"]) == 2

    scan = dm.snapshot_scan(out)
    assert scan["version"] == 0 and not scan["row_deletes"]
    back = spark.read.parquet(*scan["data_files"])
    assert back.count() == 400
    assert sorted(r.doc_id for r in back.select("doc_id").collect()) \
        == list(range(400))
    # the schemaString is Spark's own StructType JSON
    sch = json.loads(scan["schema_string"])
    assert [f["name"] for f in sch["fields"]] \
        == ["doc_id", "bucket", "toks"]
    assert sch["fields"][2]["type"]["type"] == "array"


def test_export_add_actions_carry_counts_and_sizes(spark, tmp_path):
    import os
    df = spark.range(0, 100).select(F.col("id").alias("a"))
    out = str(tmp_path / "dt2")
    dm.export_table(df.coalesce(1), out)
    log = (tmp_path / "dt2" / "_delta_log" / ("0" * 20 + ".json"))
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds == ["protocol", "metaData", "add"]
    add = actions[2]["add"]
    assert json.loads(add["stats"])["numRecords"] == 100
    assert add["size"] == os.path.getsize(
        tmp_path / "dt2" / add["path"])
    assert add["partitionValues"] == {}


def test_export_refuses_unmappable_and_remote(spark, tmp_path):
    bad = spark.createDataFrame([(1,)], "a long") \
        .select(F.lit(None).cast("void").alias("n"))
    with pytest.raises(NotImplementedError, match="Delta mapping"):
        dm.export_table(bad, str(tmp_path / "bad"))
    ok = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(NotImplementedError, match="local"):
        dm.export_table(ok, "mock-s3://bucket/t")


def test_export_feeds_encode_path(spark, tmp_path):
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    from embulk_input_parquet_hadoop_spark.sources.datagen import generate
    src = tmp_path / "src"
    generate(str(src), n_docs=300, seed=17, n_files=1)
    out = str(tmp_path / "dtbl")
    dm.export_table(spark.read.parquet(str(src)), out)
    scan = dm.snapshot_scan(out)
    enc = str(tmp_path / "enc")
    t = pipeline.encode_path(spark, out, enc,
                             input_files=scan["data_files"])
    assert t["n_rows"] == 300
    assert verify.verify_files(spark, enc)["ok"]


def test_partitioned_export_roundtrip_with_injection(spark, tmp_path):
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    df = (spark.range(0, 300)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 101 == 0, F.lit(None))
                  .otherwise(F.concat(F.lit("s"),
                                      (F.col("id") % 3).cast("string")))
                  .alias("source"),
                  (F.col("id") * 2).alias("n")))
    out = str(tmp_path / "pdt")
    res = dm.export_table(df, out, partition_by=["source"])
    assert res["n_rows"] == 300

    scan = dm.snapshot_scan(out)
    assert scan["partition_columns"] == ["source"]
    # every file carries a decoded partition value (None for the hive
    # default-partition directory)
    vals = {scan["partition_values"][f]["source"]
            for f in scan["data_files"]}
    assert vals == {"s0", "s1", "s2", None}
    # metadata-level pruning works, including the null partition
    pruned = dm.snapshot_scan(out, partition_filter={"source": "s1"})
    assert 0 < len(pruned["data_files"]) < len(scan["data_files"])
    nulls = dm.snapshot_scan(out, partition_filter={"source": None})
    assert len(nulls["data_files"]) >= 1

    # encode with injected partition constants -> decoded table equals
    # the original, INCLUDING the dropped-from-data partition column
    enc = str(tmp_path / "enc")
    pipeline.encode_path(spark, out, enc,
                         input_files=scan["data_files"],
                         plan=dm.partition_const_columns(scan))
    dec = pipeline.read_decoded(
        spark, enc, ["doc_id", "source", "n"],
        "doc_id bigint, source string, n bigint")
    got = sorted((r.doc_id, r.source, r.n) for r in dec.collect())
    want = sorted((r.doc_id, r.source, r.n) for r in df.collect())
    assert got == want


def test_partition_values_with_hive_escaped_chars_roundtrip(
        spark, tmp_path):
    # ':' is hive-escaped in directory names; add.path must be
    # percent-encoded per the spec so _resolve_path's unquote restores
    # the on-disk spelling (this regressed the readback gate once)
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, "plain")],
        "doc_id bigint, source string")
    out = str(tmp_path / "esc")
    res = dm.export_table(df, out, partition_by=["source"])
    assert res["n_rows"] == 3
    scan = dm.snapshot_scan(out)
    vals = {scan["partition_values"][f]["source"]
            for f in scan["data_files"]}
    assert vals == {"a:b", "plain"}
    back = spark.read.parquet(*scan["data_files"])
    assert back.count() == 3


def test_export_into_dir_whose_path_mentions_delta_log(spark, tmp_path):
    # a substring test on the walk once exported an EMPTY table for
    # such paths; only the table's own _delta_log dir must be skipped
    base = tmp_path / "backup_delta_log" / "tbl"
    df = spark.createDataFrame([(1,), (2,)], "a long")
    res = dm.export_table(df, str(base))
    assert res["n_rows"] == 2
    assert len(dm.snapshot_scan(str(base))["data_files"]) >= 1
