"""JSONL staging source: distributed raw-corpus ingestion
(``sources/jsonl_io.py``) — conversion, idempotence, schema pinning,
bad-file tolerance, object-store staging, and the encode integration."""

from __future__ import annotations

import gzip
import json
import os

import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.sources import jsonl_io as jl
from fixtures.avro_ref import avro_record_count, read_avro


def _write_jsonl(path, rows, gz=False):
    data = "\n".join(json.dumps(r) for r in rows).encode() + b"\n"
    with open(path, "wb") as fh:
        fh.write(gzip.compress(data) if gz else data)
    return str(path)


ROWS = [[{"doc_id": 1, "text": "alpha beta", "n": 10},
         {"doc_id": 2, "text": "gamma", "n": 5}],
        [{"doc_id": 3, "text": "delta", "n": 7}],
        [{"doc_id": 4, "text": "epsilon zeta", "n": 12}]]


def _corpus(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    files = [_write_jsonl(d / "a.jsonl", ROWS[0]),
             _write_jsonl(d / "b.jsonl.gz", ROWS[1], gz=True),
             _write_jsonl(d / "sub_c.ndjson", ROWS[2])]
    (d / ".hidden.jsonl").write_text("{}")   # must be skipped
    (d / "notes.txt").write_text("ignore")
    return str(d), files


def test_stage_basic_and_idempotent(spark, tmp_path):
    raw, _files = _corpus(tmp_path)
    stg = str(tmp_path / "stg")
    res = jl.stage_jsonl(spark, raw, stg)
    assert res["n_staged"] == 3 and res["n_skipped"] == 0
    assert res["n_rows"] == 4 and not res["errors"]
    got = sorted(r for f in res["files"]
                 for r in pq.read_table(f).column("doc_id").to_pylist())
    assert got == [1, 2, 3, 4]
    # second run: everything already staged, same file list back
    res2 = jl.stage_jsonl(spark, raw, stg)
    assert res2["n_skipped"] == 3 and res2["n_staged"] == 0
    assert res2["files"] == res["files"]


def test_stage_schema_ddl_pins_types_and_order(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    # file 1 has an extra field; file 2 is missing `n` entirely
    _write_jsonl(d / "a.jsonl", [{"doc_id": 1, "text": "x", "n": 1,
                                  "extra": "drop me"}])
    _write_jsonl(d / "b.jsonl", [{"doc_id": 2, "text": "y"}])
    res = jl.stage_jsonl(spark, str(d), str(tmp_path / "stg"),
                         schema_ddl="doc_id bigint, text string, n int")
    schemas = [pq.read_schema(f) for f in res["files"]]
    assert all(s.names == ["doc_id", "text", "n"] for s in schemas)
    assert all(str(s.field("n").type) == "int32" for s in schemas)
    tabs = {r["doc_id"]: r for f in res["files"]
            for r in pq.read_table(f).to_pylist()}
    assert tabs[1]["n"] == 1 and "extra" not in tabs[1]
    assert tabs[2]["n"] is None


def test_stage_bad_file_threshold(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    _write_jsonl(d / "good.jsonl", [{"doc_id": 1}])
    (d / "broken.jsonl").write_text('{"doc_id": 1}\nNOT JSON AT ALL{{\n')
    with pytest.raises(RuntimeError, match="failed to stage"):
        jl.stage_jsonl(spark, str(d), str(tmp_path / "s1"))
    res = jl.stage_jsonl(spark, str(d), str(tmp_path / "s2"),
                         bad_file_threshold=0.5)
    assert len(res["errors"]) == 1 and "broken" in res["errors"][0][0]
    assert len(res["files"]) == 1 and res["n_rows"] == 1


def test_stage_empty_input_raises(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        jl.stage_jsonl(spark, str(d), str(tmp_path / "stg"))


def test_stage_to_mock_s3(spark, tmp_path):
    raw, _ = _corpus(tmp_path)
    stg = f"mock-s3://bucket{tmp_path}/stg"
    res = jl.stage_jsonl(spark, raw, stg)
    assert res["n_staged"] == 3
    assert all(f.startswith("mock-s3://") for f in res["files"])
    from embulk_input_parquet_hadoop_spark.plans import fsutil
    local = fsutil.mock_local_path(res["files"][0])
    assert pq.read_metadata(local).num_rows == 2


def test_stage_encode_append_end_to_end(spark, tmp_path):
    """The growing-drop-directory shape: stage+encode, drop a new
    JSONL in, stage again (old files skipped) and append — only the
    new staged file encodes, and the decoded tree holds the union."""
    from embulk_input_parquet_hadoop_spark.plans import pipeline
    raw, _ = _corpus(tmp_path)
    stg = str(tmp_path / "stg")
    out = str(tmp_path / "enc")
    res = jl.stage_jsonl(spark, raw, stg,
                         schema_ddl="doc_id bigint, text string, n int")
    t0 = pipeline.encode_path(spark, stg, out, input_files=res["files"],
                              append=True)
    assert t0["n_rows"] == 4
    _write_jsonl(os.path.join(raw, "d.jsonl"),
                 [{"doc_id": 5, "text": "eta", "n": 3}])
    res2 = jl.stage_jsonl(spark, raw, stg,
                          schema_ddl="doc_id bigint, text string, n int")
    assert res2["n_skipped"] == 3 and res2["n_staged"] == 1
    t1 = pipeline.encode_path(spark, stg, out, input_files=res2["files"],
                              append=True)
    assert t1["n_rows"] == 1
    assert t1["n_files_already_committed"] == 3
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id bigint")
    assert sorted(r.doc_id for r in dec.collect()) == [1, 2, 3, 4, 5]


def test_stage_csv_and_tsv(spark, tmp_path):
    d = tmp_path / "rawcsv"
    d.mkdir()
    (d / "a.csv").write_text("doc_id,text,n\n1,alpha,10\n2,beta,5\n")
    (d / "b.tsv").write_text("doc_id\ttext\tn\n3\tgamma\t7\n")
    gz = gzip.compress(b"doc_id,text,n\n4,delta,12\n")
    (d / "c.csv.gz").write_bytes(gz)
    res = jl.stage_csv(spark, str(d), str(tmp_path / "stg"),
                       schema_ddl="doc_id bigint, text string, n int")
    assert res["n_staged"] == 3 and not res["errors"]
    rows = sorted(r["doc_id"] for f in res["files"]
                  for r in pq.read_table(f).to_pylist())
    assert rows == [1, 2, 3, 4]
    schemas = [pq.read_schema(f) for f in res["files"]]
    assert all(s.names == ["doc_id", "text", "n"] for s in schemas)
    assert all(str(s.field("n").type) == "int32" for s in schemas)


def test_stage_csv_missing_and_extra_columns(spark, tmp_path):
    d = tmp_path / "rawcsv"
    d.mkdir()
    (d / "a.csv").write_text("doc_id,text,extra\n1,alpha,zzz\n")
    res = jl.stage_csv(spark, str(d), str(tmp_path / "stg"),
                       schema_ddl="doc_id bigint, text string, n int")
    row = pq.read_table(res["files"][0]).to_pylist()[0]
    assert row == {"doc_id": 1, "text": "alpha", "n": None}


def test_stage_restages_empty_partial_file(spark, tmp_path):
    """A zero-byte staged file (crashed writer on a rename-less store
    would never leave one visible, but a copy tool might) is NOT
    treated as done: the skip check requires non-empty."""
    raw, files = _corpus(tmp_path)
    stg = tmp_path / "stg"
    stg.mkdir()
    (stg / jl.staged_name(files[0])).touch()  # zero-byte leftover
    res = jl.stage_jsonl(spark, raw, str(stg))
    assert res["n_staged"] == 3 and res["n_skipped"] == 0
    assert pq.read_metadata(str(stg / jl.staged_name(files[0]))) \
        .num_rows == 2


def test_stage_refuses_changed_source(spark, tmp_path):
    """A source file mutated after staging refuses loudly: the skip
    would silently lose the new rows, a silent re-stage would duplicate
    the old ones in an already-encoded tree."""
    raw, files = _corpus(tmp_path)
    stg = str(tmp_path / "stg")
    jl.stage_jsonl(spark, raw, stg)
    _write_jsonl(files[0], ROWS[0] + [{"doc_id": 99,
                                       "text": "appended", "n": 1}])
    with pytest.raises(RuntimeError, match="source changed since staged"):
        jl.stage_jsonl(spark, raw, stg)


# ---------------------------------------------------------------------
# Avro container staging (same protocol, pure-Python avro_io decode)
# ---------------------------------------------------------------------

AVRO_SCHEMA = {
    "type": "record", "name": "doc", "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "meta", "type": {"type": "map", "values": "long"}},
        {"name": "pos", "type": {"type": "record", "name": "pos",
                                 "fields": [
                                     {"name": "x", "type": "int"},
                                     {"name": "y", "type": "int"}]}},
    ]}


def _avro_rows(ids):
    return [{"doc_id": i, "text": f"t{i}",
             "n": None if i % 2 else i * 10,
             "tags": [f"a{i}", "b"], "meta": {"k": i},
             "pos": {"x": i, "y": -i}} for i in ids]


def _avro_corpus(tmp_path):
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    d = tmp_path / "araw"
    d.mkdir()
    files = []
    for name, ids, codec in [("a.avro", [1, 2], "deflate"),
                             ("b.avro", [3], "null"),
                             ("c.avro", [4, 5], "deflate"),
                             ("d.avro.gz", [6, 7], "null")]:
        p = str(d / name)
        if name.endswith(".gz"):
            import gzip as _gz
            import io as _io
            tmp = str(d / "tmp.avro")
            avro_io.write_avro(tmp, AVRO_SCHEMA, _avro_rows(ids),
                               codec=codec)
            with open(tmp, "rb") as fh:
                (d / name).write_bytes(_gz.compress(fh.read()))
            os.remove(tmp)
        else:
            avro_io.write_avro(p, AVRO_SCHEMA, _avro_rows(ids),
                               codec=codec)
        files.append(p)
    (d / ".hidden.avro").write_bytes(b"junk")  # skipped by listing
    (d / "notes.txt").write_text("ignore")
    return str(d), files


def test_stage_avro_basic_and_idempotent(spark, tmp_path):
    raw, _files = _avro_corpus(tmp_path)
    stg = str(tmp_path / "stg")
    res = jl.stage_avro(spark, raw, stg)
    assert res["n_staged"] == 4 and res["n_rows"] == 7
    assert not res["errors"]
    tbls = [pq.read_table(f) for f in res["files"]]
    got = sorted(r for t in tbls
                 for r in t.column("doc_id").to_pylist())
    assert got == [1, 2, 3, 4, 5, 6, 7]  # incl. the .avro.gz file
    # nested avro types land as real arrow types from the writer schema
    sch = tbls[0].schema
    import pyarrow as pa
    assert sch.field("tags").type == pa.list_(pa.string())
    assert sch.field("meta").type == pa.map_(pa.string(), pa.int64())
    assert sch.field("pos").type == pa.struct([("x", pa.int32()),
                                               ("y", pa.int32())])
    assert sch.field("n").type == pa.int64()
    one = {r["doc_id"]: r for t in tbls for r in t.to_pylist()}
    assert one[2]["pos"] == {"x": 2, "y": -2}
    assert one[1]["n"] is None and one[2]["n"] == 20
    assert dict(one[3]["meta"]) == {"k": 3}
    # idempotent second run
    res2 = jl.stage_avro(spark, raw, stg)
    assert res2["n_skipped"] == 4 and res2["n_staged"] == 0
    assert res2["files"] == res["files"]


def test_stage_avro_schema_ddl_pins_columns(spark, tmp_path):
    raw, _files = _avro_corpus(tmp_path)
    stg = str(tmp_path / "stg")
    res = jl.stage_avro(spark, raw, stg,
                        schema_ddl="doc_id bigint, text string, "
                                   "missing string")
    assert not res["errors"]
    t = pq.read_table(res["files"][0])
    assert t.schema.names == ["doc_id", "text", "missing"]
    assert t.column("missing").null_count == t.num_rows


def test_stage_avro_unsupported_union_tolerated(spark, tmp_path):
    """A general (non-null) union has no single Arrow type: that file
    errors, the rest stage, and the threshold contract applies."""
    from embulk_input_parquet_hadoop_spark.sources import avro_io
    raw, _files = _avro_corpus(tmp_path)
    bad_schema = {"type": "record", "name": "r", "fields": [
        {"name": "v", "type": ["string", "long"]}]}
    avro_io.write_avro(str(tmp_path / "araw" / "bad.avro"),
                       bad_schema, [{"v": 1}])
    stg = str(tmp_path / "stg")
    with pytest.raises(RuntimeError, match="failed"):
        jl.stage_avro(spark, raw, stg)
    res = jl.stage_avro(spark, raw, stg, bad_file_threshold=0.5)
    assert len(res["errors"]) == 1
    assert "union" in res["errors"][0][1]
    # the failing run already staged the good files; the retry skips
    # them (idempotence) and returns the same usable file list
    assert res["n_skipped"] == 4 and len(res["files"]) == 4


def test_stage_avro_encode_end_to_end(spark, tmp_path):
    from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
    raw, _files = _avro_corpus(tmp_path)
    stg = str(tmp_path / "stg")
    res = jl.stage_avro(spark, raw, stg,
                        schema_ddl="doc_id bigint, text string")
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, raw, out,
                                  input_files=res["files"])
    assert totals["n_rows"] == 7
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id bigint")
    assert sorted(r.doc_id for r in dec.collect()) == \
        [1, 2, 3, 4, 5, 6, 7]
    assert verify.verify_files(spark, out)["ok"]


# ---------------------------------------------------------------------
# ORC staging (pyarrow's vectorized reader, same protocol)
# ---------------------------------------------------------------------

def _orc_corpus(tmp_path):
    import pyarrow as pa
    import pyarrow.orc as pa_orc
    d = tmp_path / "oraw"
    d.mkdir()
    files = []
    for name, ids in [("a.orc", [1, 2]), ("b.orc", [3, 4, 5])]:
        p = str(d / name)
        pa_orc.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([f"t{i}" for i in ids]),
            "tags": pa.array([[f"g{i}"] for i in ids],
                             pa.list_(pa.string()))}), p)
        files.append(p)
    (d / ".hidden.orc").write_bytes(b"junk")
    return str(d), files


def test_stage_orc_basic_idempotent_and_encode(spark, tmp_path):
    import pyarrow as pa

    from embulk_input_parquet_hadoop_spark.plans import pipeline
    raw, _files = _orc_corpus(tmp_path)
    stg = str(tmp_path / "stg")
    res = jl.stage_orc(spark, raw, stg)
    assert res["n_staged"] == 2 and res["n_rows"] == 5
    assert not res["errors"]
    t = pq.read_table(res["files"][0])
    assert t.schema.field("tags").type == pa.list_(pa.string())
    res2 = jl.stage_orc(spark, raw, stg)
    assert res2["n_skipped"] == 2 and res2["files"] == res["files"]
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, raw, out,
                                  input_files=res["files"])
    assert totals["n_rows"] == 5
    dec = pipeline.decode_chunks(
        pipeline.read_chunks(spark, out), ["doc_id"], "doc_id bigint")
    assert sorted(r.doc_id for r in dec.collect()) == [1, 2, 3, 4, 5]


def test_stage_orc_schema_ddl(spark, tmp_path):
    raw, _files = _orc_corpus(tmp_path)
    res = jl.stage_orc(spark, raw, str(tmp_path / "stg"),
                       schema_ddl="doc_id int, text string, "
                                  "missing double")
    assert not res["errors"]
    import pyarrow as pa
    t = pq.read_table(res["files"][0])
    assert t.schema.names == ["doc_id", "text", "missing"]
    assert t.schema.field("doc_id").type == pa.int32()  # cast applied
    assert t.column("missing").null_count == t.num_rows


def test_avro_stream_writer_and_ranged_count(tmp_path):
    """write_avro_stream emits a MULTI-block container (one block per
    chunk, bounded memory) that the standard reader decodes, and
    avro_record_count_ranged counts it via block-header hops without
    touching payload bytes — locally and on a PUT-only object store."""
    from embulk_input_parquet_hadoop_spark.plans import fsutil
    from embulk_input_parquet_hadoop_spark.sources import avro_io

    chunks = [_avro_rows([1, 2]), [], _avro_rows([3]),
              _avro_rows([4, 5, 6])]
    p = str(tmp_path / "multi.avro")
    with open(p, "rb+" if os.path.exists(p) else "wb") as fh:
        n = avro_io.write_avro_stream(fh, AVRO_SCHEMA, iter(chunks))
    assert n == 6
    schema, recs = read_avro(p)
    assert [r["doc_id"] for r in recs] == [1, 2, 3, 4, 5, 6]
    data = open(p, "rb").read()
    assert avro_record_count(data) == 6
    assert avro_io.avro_record_count_ranged(p) == 6
    # ranged count over a remote scheme (put the same bytes)
    remote = f"mock-s3://bucket{tmp_path}/multi.avro"
    fsutil.put_bytes(remote, data)
    assert avro_io.avro_record_count_ranged(remote) == 6
    # deflate codec too, and a header larger than one range hop
    big = [{"doc_id": i, "text": "x" * 50, "n": None,
            "tags": [], "meta": {}, "pos": {"x": 0, "y": 0}}
           for i in range(500)]
    p2 = str(tmp_path / "big.avro")
    with open(p2, "wb") as fh:
        avro_io.write_avro_stream(fh, AVRO_SCHEMA,
                                  (big[i:i + 64]
                                   for i in range(0, 500, 64)))
    assert avro_io.avro_record_count_ranged(p2) == 500
    _, recs2 = read_avro(p2)
    assert len(recs2) == 500
