"""Incremental (append) encode: growing directories and Iceberg
snapshot diffs feed new files into an existing tree as fresh waves."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
from embulk_input_parquet_hadoop_spark.sources.datagen import generate
from fixtures.avro_ref import read_avro
from fixtures.delta_fixture import write_delta_fixture


def _grow_dir(tmp_path: Path) -> tuple[str, list[str], list[str]]:
    """A corpus directory that grows: 2 initial files + 2 arrivals."""
    a = tmp_path / "batch_a"
    b = tmp_path / "batch_b"
    generate(str(a), n_docs=800, seed=5, n_files=2)
    generate(str(b), n_docs=700, seed=7, n_files=2, start_doc=800)
    grow = tmp_path / "grow"
    grow.mkdir()
    first, second = [], []
    for f in sorted(a.glob("*.parquet")):
        first.append(str(grow / f"a-{f.name}"))
        shutil.copy(f, first[-1])
    for f in sorted(b.glob("*.parquet")):
        second.append(str(grow / f"b-{f.name}"))
    return str(grow), first, second


def test_append_encodes_only_new_files(spark, tmp_path):
    grow, first, second = _grow_dir(tmp_path)
    out = str(tmp_path / "enc")
    t1 = pipeline.encode_path(spark, grow, out, waves=2)
    assert t1["waves_run"] == 2
    n1 = t1["n_rows"]

    # nothing new yet: append is a no-op, not an error
    t_noop = pipeline.encode_path(spark, grow, out, waves=2, append=True)
    assert t_noop["waves_run"] == 0
    assert t_noop["n_files_already_committed"] == 2

    # two new files arrive
    src = sorted((tmp_path / "batch_b").glob("*.parquet"))
    for f, dst in zip(src, second):
        shutil.copy(f, dst)
    t2 = pipeline.encode_path(spark, grow, out, waves=2, append=True)
    assert t2["waves_run"] == 2
    assert t2["n_files_already_committed"] == 2
    assert t2["n_rows"] == 1500 - n1

    # wave ids continue past the existing ones; lineage is disjoint
    m = mf.read_manifest(spark, out)
    assert sorted(r["wave_id"] for r in m.collect()) == [0, 1, 2, 3]
    seen = [f for r in m.select("input_files").collect()
            for f in r["input_files"]]
    assert len(seen) == len(set(seen)) == 4

    # the union tree decodes bit-identical to the union source, once each
    res = verify.verify_path(spark, grow, out)
    assert res["ok"], res
    assert res["rows_compared"] == 1500
    assert verify.verify_files(spark, out)["ok"]

    # idempotent: a third append run sees nothing new
    t3 = pipeline.encode_path(spark, grow, out, waves=2, append=True)
    assert t3["waves_run"] == 0
    assert t3["n_files_already_committed"] == 4


def test_append_resume_mutually_exclusive(spark, tmp_path):
    import pytest
    with pytest.raises(ValueError, match="mutually exclusive"):
        pipeline.encode_path(spark, str(tmp_path), str(tmp_path / "o"),
                             append=True, resume=True)


def test_iceberg_snapshot_diff_incremental(spark, tmp_path):
    """End to end: encode snapshot 1, append the snapshot-2 diff, decode
    equals the full snapshot-2 table."""
    d = tmp_path / "data"
    generate(str(d), n_docs=900, seed=11, n_files=3)
    files = sorted(str(p) for p in d.glob("*.parquet"))
    old, added = files[:2], files[2:]
    table = str(tmp_path / "table")
    iceberg_meta.write_table_fixture(table, files, snapshot_id=2,
                                     older_snapshots={1: old})

    diff = iceberg_meta.snapshot_scan_diff(table, 1)["data_files"]
    assert diff == [str(Path(f).resolve()) for f in added]
    assert iceberg_meta.snapshot_scan_diff(table, 2)["data_files"] == []

    out = str(tmp_path / "enc")
    t1 = pipeline.encode_path(
        spark, table, out,
        input_files=iceberg_meta.snapshot_data_files(table, 1))
    t2 = pipeline.encode_path(spark, table, out, input_files=diff,
                              append=True)
    assert t1["waves_run"] == 1 and t2["waves_run"] == 1
    dec = verify.decoded_df(spark, out)
    assert dec.count() == 900
    assert dec.select(F.countDistinct("doc_id")).collect()[0][0] == 900
    res = verify.verify_path(spark, str(d), out)
    assert res["ok"], res


def test_append_empty_input_files_is_noop_not_fallback(spark, tmp_path):
    """An explicit empty input_files (the snapshot-diff steady state)
    must be an append no-op — never a silent fallback to listing
    input_path — and an error without append."""
    import pytest
    d = tmp_path / "data"
    generate(str(d), n_docs=200, seed=3, n_files=1)
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), out)
    t = pipeline.encode_path(spark, str(d), out, input_files=[],
                             append=True)
    assert t["waves_run"] == 0
    # out tree untouched: still exactly the original rows
    assert verify.decoded_df(spark, out).count() == 200
    with pytest.raises(FileNotFoundError, match="empty"):
        pipeline.encode_path(spark, str(d), out + "2", input_files=[])


def test_append_recognizes_files_across_listing_modes(spark, tmp_path):
    """First run via explicit plain paths, append via directory listing
    (Spark file: URIs): lineage identity is scheme-normalized, so the
    append sees nothing new."""
    d = tmp_path / "data"
    generate(str(d), n_docs=300, seed=9, n_files=2)
    files = sorted(str(p) for p in d.glob("*.parquet"))
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), out, input_files=files)
    t = pipeline.encode_path(spark, str(d), out, append=True)
    assert t["waves_run"] == 0
    assert t["n_files_already_committed"] == 2


def test_decode_job_exports_parquet(spark, tmp_path, monkeypatch):
    """decode_job round-trip: encode -> export to parquet -> the export
    equals the source; a --range export equals the filtered source."""
    import sys as _sys

    from jobs import decode_job

    d = tmp_path / "data"
    generate(str(d), n_docs=400, seed=21, n_files=2)
    enc = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), enc, waves=2)

    out = str(tmp_path / "export")
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out, "--cores", "8"])
    assert decode_job.main() == 0
    src = spark.read.parquet(str(d)).orderBy("doc_id").collect()
    got = spark.read.parquet(out).orderBy("doc_id").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in src]

    out2 = str(tmp_path / "export_filtered")
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out2,
        "--columns", "doc_id,n_tok", "--range", "n_tok:100:400",
        "--cores", "8"])
    assert decode_job.main() == 0
    want = {(r.doc_id, r.n_tok) for r in
            spark.read.parquet(str(d))
            .filter("n_tok between 100 and 400").collect()}
    got2 = {(r.doc_id, r.n_tok) for r in spark.read.parquet(out2).collect()}
    assert got2 == want and want


def test_decode_job_exports_jsonl(spark, tmp_path, monkeypatch):
    """--format json exports the decoded tree as gzipped JSON-lines —
    the raw-corpus exchange shape — and the reloaded export equals the
    source (tokens arrays included)."""
    import glob as _glob
    import gzip as _gzip
    import json as _json
    import sys as _sys

    from jobs import decode_job

    d = tmp_path / "data"
    generate(str(d), n_docs=120, seed=22, n_files=2)
    enc = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), enc)
    out = str(tmp_path / "export_jsonl")
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out,
        "--format", "json", "--json-gzip", "--cores", "8"])
    assert decode_job.main() == 0
    rows = []
    for f in _glob.glob(f"{out}/*.json.gz"):
        rows += [_json.loads(ln) for ln in _gzip.open(f, "rt")]
    src = {r.doc_id: r for r in spark.read.parquet(str(d)).collect()}
    assert len(rows) == len(src)
    for r in rows:
        assert r["tokens"] == src[r["doc_id"]].tokens


def test_decode_job_exports_avro(spark, tmp_path, monkeypatch):
    """--format avro exports the decoded tree as Avro containers via
    the pure-Python writer; the export reloads bit-equal through BOTH
    the pure-Python reader and the stage_avro ingest path (full
    export->ingest symmetry), and the block-header readback count
    gates the job."""
    import sys as _sys

    from jobs import decode_job

    from embulk_input_parquet_hadoop_spark.sources import jsonl_io

    d = tmp_path / "data"
    generate(str(d), n_docs=120, seed=23, n_files=2)
    enc = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), enc)
    out = str(tmp_path / "export_avro")
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out,
        "--format", "avro", "--cores", "8"])
    assert decode_job.main() == 0
    import glob as _glob
    parts = sorted(_glob.glob(f"{out}/part-*.avro"))
    assert parts
    rows = []
    for f in parts:
        _, recs = read_avro(f)
        rows += recs
    src = {r.doc_id: r for r in spark.read.parquet(str(d)).collect()}
    assert len(rows) == len(src)
    for r in rows:
        assert r["tokens"] == src[r["doc_id"]].tokens
        assert r["source"] == src[r["doc_id"]].source
    # the ingest path stages the export straight back
    staged = jsonl_io.stage_avro(spark, out, str(tmp_path / "restage"))
    assert staged["n_rows"] == len(src) and not staged["errors"]
    # overwrite contract: refuses without --overwrite, clears with it
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out,
        "--format", "avro", "--cores", "8"])
    with pytest.raises(SystemExit, match="exists"):
        decode_job.main()
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--input", enc, "--output", out,
        "--format", "avro", "--overwrite", "--cores", "8"])
    assert decode_job.main() == 0


def test_snapshot_diff_composes_with_partition_filter(spark, tmp_path):
    """snapshot_scan_diff prunes the diff at the metadata level too:
    only new files whose partition record matches are returned, and an
    old file outside the filter is pruned from both snapshots (not read
    as removed)."""
    d = tmp_path / "data"
    generate(str(d), n_docs=400, seed=31, n_files=4)
    files = [str(Path(f).resolve()) for f in
             sorted(d.glob("*.parquet"))]
    table = str(tmp_path / "ptable")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2, older_snapshots={1: files[:2]},
        partitions=[{"source": "web"}, {"source": "books"},
                    {"source": "web"}, {"source": "books"}])

    def diff(**kw):
        return iceberg_meta.snapshot_scan_diff(table, 1, **kw)["data_files"]
    assert diff() == files[2:]
    assert diff(partition_filter={"source": "web"}) == [files[2]]
    assert diff(partition_filter={"source": "books"}) == [files[3]]


def test_lineage_key_uri_forms():
    """Scheme normalization handles authority forms: host-qualified
    file:// URIs are local, remote schemes keep their bucket, and a
    literal '/localhost/...' path is NOT conflated with
    'file://localhost/...'."""
    k = pipeline._lineage_key
    assert k("/a/b.parquet") == "/a/b.parquet"
    assert k("file:/a/b.parquet") == "/a/b.parquet"
    assert k("file:///a/b.parquet") == "/a/b.parquet"
    assert k("file://localhost/a/b.parquet") == "/a/b.parquet"
    assert k("/localhost/a/b.parquet") == "/localhost/a/b.parquet"
    assert k("file://otherhost/a/b") != "/a/b"
    assert k("s3://bkt/a/b") == "s3://bkt/a/b"
    assert k("s3://bkt2/a/b") != k("s3://bkt/a/b")
    # windows-style drive letters are not schemes to urlparse's eye but
    # contain ':' — ensure no crash and stability
    assert k("hdfs://nn:8020/a/b") == "hdfs://nn:8020/a/b"


def test_append_wave_base_advances_past_lineage_free_waves(spark, tmp_path):
    """A committed wave with EMPTY manifest lineage must still advance
    append's wave numbering — wave ids are never reused/overwritten."""
    d = tmp_path / "data"
    generate(str(d), n_docs=200, seed=41, n_files=1)
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, str(d), out)
    # simulate a meta-only wave: commit a record with no lineage
    rec = mf.read_manifest(spark, out).collect()[0].asDict()
    from embulk_input_parquet_hadoop_spark.plans import fsutil
    rec["wave_id"], rec["input_files"] = 7, []
    fsutil.write_json_atomic(f"{out}/manifest", "wave-7.json", rec)
    # the chunk dir for wave 7 exists but is empty of parts; append of a
    # new file must start at wave 8, not clobber 0..7
    d2 = tmp_path / "more"
    generate(str(d2), n_docs=100, seed=43, n_files=1)
    import shutil as _sh
    for f in d2.glob("*.parquet"):
        _sh.copy(f, d / f"new-{f.name}")
    t = pipeline.encode_path(spark, str(d), out, append=True)
    assert t["waves_run"] == 1
    waves = mf.completed_waves(spark, out)
    assert 8 in waves and waves == {0, 7, 8}


def _mor_grow_files(tmp_path, n_docs=900, seed=13):
    """Three source files; v1 of the table will hold the first two."""
    d = tmp_path / "mor_data"
    generate(str(d), n_docs=n_docs, seed=seed, n_files=3)
    return sorted(str(Path(p).resolve()) for p in d.glob("*.parquet"))


def test_snapshot_scan_diff_mor_incremental(spark, tmp_path):
    """MOR-aware snapshot diff: the v2 arrivals carry position deletes
    scoped to the NEW file only — the diff returns that file plus its
    delete mapping, and the appended tree decodes to exactly the live
    rows of snapshot 2."""
    import pyarrow.parquet as pq
    files = _mor_grow_files(tmp_path)
    dead = [0, 5, 299]
    table = str(tmp_path / "mor_table2")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2, older_snapshots={1: files[:2]},
        record_counts=[300, 300, 300],
        position_deletes={files[2]: dead})
    diff = iceberg_meta.snapshot_scan_diff(table, 1)
    assert diff["data_files"] == [files[2]]
    assert set(diff["position_deletes"]) == {files[2]}
    assert diff["equality_deletes"] == {}

    out = str(tmp_path / "mor_enc")
    pipeline.encode_path(
        spark, table, out,
        input_files=iceberg_meta.snapshot_data_files(table, 1))
    t2 = pipeline.encode_path(
        spark, table, out, input_files=diff["data_files"],
        plan={"row_deletes": diff["position_deletes"]}, append=True)
    assert t2["waves_run"] == 1 and t2["n_rows"] == 300 - len(dead)
    ids = pq.read_table(files[2], columns=["doc_id"]).column(
        "doc_id").to_pylist()
    expected = set()
    for f in files[:2]:
        expected |= set(pq.read_table(f, columns=["doc_id"]).column(
            "doc_id").to_pylist())
    expected |= {d for i, d in enumerate(ids) if i not in set(dead)}
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id string")
    assert {r.doc_id for r in dec.collect()} == expected
    # the MOR-aware verify replays the masking each wave recorded
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 900 - len(dead)


def test_snapshot_scan_diff_refuses_deletes_on_live_files(tmp_path):
    """New deletes touching a file already live at ``from`` refuse: an
    append-only tree cannot retract committed rows."""
    import pytest
    files = _mor_grow_files(tmp_path)
    table = str(tmp_path / "mor_refuse")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2, older_snapshots={1: files[:2]},
        record_counts=[300, 300, 300],
        position_deletes={files[0]: [1, 2]})
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="cannot retract"):
        iceberg_meta.snapshot_scan_diff(table, 1)


def test_snapshot_scan_diff_refuses_eq_deletes_reaching_old_files(
        tmp_path):
    """An equality delete whose sequence scope reaches the old files
    refuses the diff (it would retract committed rows)."""
    import pyarrow as pa
    import pytest
    d = tmp_path / "eqd"
    generate(str(d), n_docs=600, seed=17, n_files=3)
    files = sorted(str(Path(p).resolve()) for p in d.glob("*.parquet"))
    table = str(tmp_path / "eq_diff_tab")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2, older_snapshots={1: files[:2]},
        record_counts=[200, 200, 200],
        schema_fields=["doc_id", "tokens", "n_tok", "source"],
        equality_delete_tables=[{
            "table": pa.table({"doc_id": ["nope"]}),
            "sequence_number": 5}])
    with pytest.raises(iceberg_meta.IcebergMetaError,
                       match="cannot retract"):
        iceberg_meta.snapshot_scan_diff(table, 1)


def test_snapshot_scan_diff_cow_matches_added_data_files(tmp_path):
    """On a delete-free table the MOR-aware diff degenerates to the
    added data files (the live-file set difference of the two
    snapshots) with empty mappings."""
    d = tmp_path / "cowd"
    generate(str(d), n_docs=300, seed=19, n_files=3)
    files = sorted(str(Path(p).resolve()) for p in d.glob("*.parquet"))
    table = str(tmp_path / "cow_tab")
    iceberg_meta.write_table_fixture(table, files, snapshot_id=2,
                                     older_snapshots={1: files[:2]})
    diff = iceberg_meta.snapshot_scan_diff(table, 1)
    old = set(iceberg_meta.snapshot_data_files(table, 1))
    assert diff["data_files"] == sorted(
        f for f in iceberg_meta.snapshot_data_files(table) if f not in old)
    assert diff["position_deletes"] == {} == diff["equality_deletes"]


def test_snapshot_scan_diff_refuses_removed_files(tmp_path):
    """A data file live at ``from`` but gone at ``to`` (COW delete,
    compaction, delete-applying rewrite) refuses: removal retracts or
    re-homes rows the encode tree has already committed — re-encoding
    the rewrite would duplicate them, and skipping it would keep
    serving retracted rows."""
    import pytest
    files = _mor_grow_files(tmp_path)
    table = str(tmp_path / "rm_refuse")
    iceberg_meta.write_table_fixture(
        table, files[1:], snapshot_id=2, older_snapshots={1: files},
        record_counts=[300, 300])
    with pytest.raises(iceberg_meta.IcebergMetaError, match="removed"):
        iceberg_meta.snapshot_scan_diff(table, 1)


def test_tree_across_snapshots_verifies_with_no_mappings(spark, tmp_path):
    """A tree built across snapshots verifies with no mappings: the wave
    encoded from snapshot 1 carries its own position deletes, the wave
    appended from the snapshot diff carries none, and each replays what
    its manifest record says it applied (handing verify the
    diff-restricted mapping used to false-fail the wave-0 file)."""
    files = _mor_grow_files(tmp_path)
    dead = [0, 3, 7]
    table = str(tmp_path / "mor_hist")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2,
        record_counts=[300, 300, 300],
        older_snapshots={1: {"files": files[:2],
                             "position_deletes": {files[0]: dead}}})
    # snapshot 1 is itself MOR; both snapshots see the same delete file
    scan1 = iceberg_meta.snapshot_scan(table, 1)
    assert set(scan1["position_deletes"]) == {files[0]}
    out = str(tmp_path / "enc_hist")
    t1 = pipeline.encode_path(
        spark, table, out, input_files=scan1["data_files"],
        plan={"row_deletes": scan1["position_deletes"]})
    assert t1["n_rows"] == 600 - len(dead)
    diff = iceberg_meta.snapshot_scan_diff(table, 1)
    assert diff["data_files"] == [files[2]]
    assert diff["position_deletes"] == {}  # nothing on the NEW file
    pipeline.encode_path(
        spark, table, out, input_files=diff["data_files"],
        plan={"row_deletes": diff["position_deletes"]}, append=True)
    recs = mf.wave_records(out)
    assert [sorted(r.get("plan", {}).get("files", {})) for r in recs] \
        == [[files[0]], []]
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["rows_compared"] == 900 - len(dead)


def _run_encode_job(monkeypatch, capsys, argv: list[str]) -> tuple[int, dict]:
    """``encode_job.main()`` in-process on the suite's session (its
    closing ``spark.stop()`` made a no-op); returns the exit code and
    the printed totals."""
    import sys as _sys

    from pyspark.sql import SparkSession

    from jobs import encode_job
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(_sys, "argv", ["encode_job.py", *argv,
                                       "--cores", "8"])
    capsys.readouterr()
    rc = encode_job.main()
    return rc, __import__("json").loads(
        capsys.readouterr().out.strip().splitlines()[-1])


_DELTA_WAVE0_PLAN = (
    '{"files": {"<TBL>/part-00000.parquet": [["deltadv:{\\"cardinality'
    '\\": 1, \\"offset\\": 1, \\"path\\": \\"<TBL>/ab/deletion_ve'
    'ctor_5347cacd-44ac-5637-bd9f-4da05f093ead.bin\\", \\"size\\": 34}'
    '"], null, "{\\"src\\": \\"web\\"}"]}, "const_schema": {"src": '
    '"string"}, "column_renames": [{"logical": "doc_id", "physical": "co'
    'l-1", "id": 1}, {"logical": "n", "physical": "col-2", "id": 2}, {"l'
    'ogical": "src", "physical": "p-1", "id": 3}]}')


def test_encode_job_delta_since_version_verify_files(spark, tmp_path,
                                                     monkeypatch, capsys):
    """``--delta --since-version 0 --inject-partitions --verify-files``
    on a partitioned, column-mapped table whose version-0 file carries a
    deletion vector: the appended tree verifies with each wave's own
    DV, constants and renames."""
    import pyarrow as pa

    t1 = pa.table({"doc_id": ["a", "b", "c", "d"],
                   "n": pa.array([1, 2, 3, 4], pa.int32())})
    t2 = pa.table({"doc_id": ["e", "f"],
                   "n": pa.array([5, 6], pa.int32())})
    d = str(tmp_path / "delta_tbl")
    write_delta_fixture(d, [t1, t2], column_mapping="name",
                        commits=[{"dv": {0: [1]}}, {"add": [1]}],
                        partition_columns=["src"],
                        partition_values={0: {"src": "web"},
                                          1: {"src": "app"}})
    out = str(tmp_path / "enc")
    rc, t0 = _run_encode_job(monkeypatch, capsys, [
        "--delta", "--at-version", "0", "--inject-partitions",
        "--input", d, "--output", out])
    assert rc == 0 and t0["n_rows"] == 3
    # wave 0's recorded plan, byte for byte as earlier builds wrote it:
    # trees they encoded must keep verifying
    with open(f"{out}/manifest/wave-0.json") as f:
        raw = f.read()
    assert ('"plan": ' + _DELTA_WAVE0_PLAN.replace("<TBL>", d)) in raw
    rc, t = _run_encode_job(monkeypatch, capsys, [
        "--delta", "--since-version", "0", "--inject-partitions",
        "--verify-files", "--input", d, "--output", out])
    assert rc == 0 and t["waves_run"] == 1 and t["n_rows"] == 2
    assert t["verify"]["ok"], t["verify"]
    assert t["verify"]["rows_compared"] == 5
    dec = pipeline.decode_chunks(pipeline.read_chunks(spark, out),
                                 ["doc_id", "src"], "doc_id string, "
                                 "src string")
    assert sorted((r.doc_id, r.src) for r in dec.collect()) == [
        ("a", "web"), ("c", "web"), ("d", "web"), ("e", "app"),
        ("f", "app")]


def test_encode_job_iceberg_since_snapshot_verify_files(
        spark, tmp_path, monkeypatch, capsys):
    """``--iceberg --since-snapshot 1 --verify-files`` on the
    ``_mor_grow_files`` table: wave 0 (snapshot 1) masks its own
    position deletes, the appended wave masks the new file's, and the
    whole tree verifies."""
    files = _mor_grow_files(tmp_path)
    dead0, dead2 = [0, 3, 7], [1, 299]
    table = str(tmp_path / "mor_cli")
    iceberg_meta.write_table_fixture(
        table, files, snapshot_id=2, record_counts=[300, 300, 300],
        position_deletes={files[2]: dead2},
        older_snapshots={1: {"files": files[:2],
                             "position_deletes": {files[0]: dead0}}})
    scan1 = iceberg_meta.snapshot_scan(table, 1)
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, table, out,
                         input_files=scan1["data_files"],
                         plan={"row_deletes": scan1["position_deletes"]})
    rc, t = _run_encode_job(monkeypatch, capsys, [
        "--iceberg", "--since-snapshot", "1", "--verify-files",
        "--input", table, "--output", out])
    assert rc == 0 and t["waves_run"] == 1
    assert t["n_rows"] == 300 - len(dead2)
    assert t["verify"]["ok"], t["verify"]
    assert t["verify"]["rows_compared"] == 900 - len(dead0) - len(dead2)


def test_encode_job_table_with_an_added_column(spark, tmp_path,
                                               monkeypatch, capsys):
    """A Delta table whose version 1 adds a file with a new column: the
    snapshot's files differ in schema. ``encode_path`` with the default
    ``schema_mode="single"`` refuses them; ``encode_job`` encodes table
    sources as ``mixed`` by default, through a ``--since-version``
    append onto a committed tree too, and the union decodes with nulls
    where the old file lacks the column."""
    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.sources import delta_meta as dm
    wide = pa.table({"doc_id": ["c"], "n": pa.array([3], pa.int32()),
                     "tag": ["x"]})
    old = pa.table({"doc_id": ["a", "b"], "n": pa.array([1, 2], pa.int32())})
    d = str(tmp_path / "delta_tbl")
    # the table's schema is the wide one; version 0 adds the old file
    write_delta_fixture(d, [wide, old],
                        commits=[{"add": [1]}, {"add": [0]}])
    scan = dm.snapshot_scan(d)
    with pytest.raises(ValueError, match="schema_mode='mixed'"):
        pipeline.encode_path(spark, d, str(tmp_path / "single"),
                             input_files=scan["data_files"])

    out = str(tmp_path / "enc")
    rc, t0 = _run_encode_job(monkeypatch, capsys, [
        "--delta", "--at-version", "0", "--input", d, "--output", out])
    assert rc == 0 and t0["n_rows"] == 2
    rc, t = _run_encode_job(monkeypatch, capsys, [
        "--delta", "--since-version", "0", "--verify-files",
        "--input", d, "--output", out])
    assert rc == 0 and t["waves_run"] == 1 and t["n_rows"] == 1
    assert t["verify"]["ok"] and t["verify"]["rows_compared"] == 3
    assert [r["schemas"] for r in mf.wave_records(out)] == [
        ["doc_id: string, n: int32"],
        ["doc_id: string, n: int32, tag: string"]]
    dec = pipeline.decode_chunks(pipeline.read_chunks(spark, out),
                                 ["doc_id", "n", "tag"],
                                 "doc_id string, n int, tag string")
    assert sorted(tuple(r) for r in dec.collect()) == [
        ("a", 1, None), ("b", 2, None), ("c", 3, "x")]
    # an explicit --schema-mode single keeps the refusal
    with pytest.raises(ValueError, match="schema_mode='single'"):
        _run_encode_job(monkeypatch, capsys, [
            "--delta", "--schema-mode", "single", "--input", d,
            "--output", str(tmp_path / "enc_single")])
