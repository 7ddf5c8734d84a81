"""The per-file source reader (``pipeline._source_batches``) that both the
encode task and ``verify_files`` read through: its allocation pattern, its
batch boundaries and corrupt-page skips, its refusal of unknown projected
columns, and verify's check of a committed file whose chunk file is gone."""

import glob
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_input_parquet_hadoop_spark.operators.encode import decode_column
from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline, verify
from embulk_input_parquet_hadoop_spark.sources import datagen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(path, batch_rows, skipped, threshold=0.0):
    return list(pipeline._source_batches(
        path, batch_rows, None, None, None, threshold, skipped))


_ALLOC_PROBE = """
import sys
import pyarrow as pa
import pyarrow.parquet as pq
from embulk_input_parquet_hadoop_spark.plans import pipeline
path = sys.argv[1]
pa.log_memory_allocations(True)
got = list(pipeline._source_batches(path, pipeline.DEFAULT_BATCH_ROWS, None,
                                    None, None, 0.0, []))
pa.log_memory_allocations(False)
print("EQUAL", pa.Table.from_batches(got).equals(pq.read_table(path)))
"""


def test_source_read_allocates_no_block_of_8mib(tmp_path):
    """One 10,000-row row group of about 300 Zipf tokens per row, the
    bench corpus's shape. Arrow's default (jemalloc) pool gives every
    block of 8 MiB or more back to the kernel when it is freed, so each
    such block is paid again in page faults; decoding whole 16,384-row
    batches grew the token buffers to 16 MiB."""
    rng = np.random.default_rng(0)
    n = 10_000
    lens = rng.integers(200, 400, n)
    vals = (rng.zipf(1.2, int(lens.sum())) % 50257).astype(np.int32)
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    path = str(tmp_path / "tokens.parquet")
    pq.write_table(pa.table({"tokens": pa.ListArray.from_arrays(
        pa.array(offs), pa.array(vals))}), path, compression="zstd",
        row_group_size=n)
    proc = subprocess.run([sys.executable, "-c", _ALLOC_PROBE, path],
                          cwd=REPO, capture_output=True, text=True,
                          check=True)
    # the logging pool writes to standard output; read both streams
    log = proc.stdout + proc.stderr
    assert "EQUAL True" in log
    sizes = [int(m.group(1)) for m in re.finditer(
        r"^(?:Allocate: size|Reallocate: old_size = \d+, new_size) = (\d+)",
        log, re.M)]
    assert sizes, log[:500]
    big = [s for s in sizes if s >= 8 << 20]
    assert not big, f"{len(big)} allocations of 8 MiB or more: {big}"


# two row groups, neither a multiple of BATCH; ~24 KiB rows, so 1 MiB of
# uncompressed data holds fewer than BATCH rows and does not divide it
BATCH = 50
RG_ROWS = (130, 170)
PAGE = 32 << 10


def _wide_rows(n, seed):
    rng = np.random.default_rng(seed)
    lens = rng.integers(5000, 7000, n)
    vals = (rng.zipf(1.3, int(lens.sum())) % 50000).astype(np.int32)
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.table({
        "doc_id": [f"d{seed}-{i}" for i in range(n)],
        "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(vals))})


def _two_group_file(path):
    groups = [_wide_rows(n, seed) for seed, n in enumerate(RG_ROWS, 1)]
    with pq.ParquetWriter(path, groups[0].schema, compression="zstd",
                          use_dictionary=["doc_id"],
                          data_page_size=PAGE) as w:
        for g in groups:
            w.write_table(g)
    return pa.concat_tables(groups)


def _decoded_chunks(out):
    """(n_rows per chunk, decoded rows) of a one-file tree, in read
    order."""
    rows = []
    for p in glob.glob(f"{out}/chunks/**/*.parquet", recursive=True):
        rows += pq.read_table(p).to_batches()
    batches = sorted((b.slice(i, 1) for b in rows
                      for i in range(b.num_rows)),
                     key=lambda b: b.column("batch_idx")[0].as_py())
    sizes, tabs = [], []
    for b in batches:
        sizes.append(b.column("n_rows")[0].as_py())
        (entries,) = pipeline.chunk_columns(b)
        tabs.append(pa.table({nm: decode_column(kd, buf)
                              for nm, kd, buf in entries}))
    return sizes, pa.concat_tables(tabs)


def test_chunk_boundaries_and_mid_group_skip(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "part-00000.parquet")
    clean = _two_group_file(path)
    md = pq.ParquetFile(path).metadata
    assert [md.row_group(i).num_rows for i in range(2)] == list(RG_ROWS)
    for i in range(2):
        rg = md.row_group(i)
        per_mib = (1 << 20) * rg.num_rows // rg.total_byte_size
        assert 0 < per_mib < BATCH and BATCH % per_mib
        # the tokens column spans many pages
        assert rg.column(1).total_compressed_size > 20 * PAGE
    # chunk boundaries: BATCH-row chunks per row group, then the remainder
    split = [50, 50, 30, 50, 50, 50, 20]
    skipped = []
    got = _read(path, BATCH, skipped)
    assert [b.num_rows for b in got] == split and skipped == []
    assert pa.Table.from_batches(got).equals(clean)

    # clobber a page in the middle of the second row group's tokens
    col = md.row_group(1).column(1)
    with open(path, "r+b") as f:
        f.seek(col.data_page_offset + 3 * col.total_compressed_size // 10)
        f.write(b"\xff" * 4096)
    skipped = []
    got = _read(path, BATCH, skipped, threshold=0.5)
    kept = [b.num_rows for b in got]
    # whole chunks up to the failing one; the rest of the group skipped
    assert kept == split[:4] and skipped == [120]

    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, str(src), out, batch_rows=BATCH,
                                  bad_record_threshold=0.5)
    assert totals["n_rows"] == 180
    rec = mf.read_manifest(spark, out).collect()[0]
    assert rec.n_bad_rows == 120 and rec.n_bad_files == 0
    sizes, rows = _decoded_chunks(out)
    assert sizes == split[:4]
    assert rows.equals(clean.slice(0, 180))
    vf = verify.verify_files(spark, out, batch_rows=BATCH)
    assert vf["ok"] and vf["rows_compared"] == 180


def test_unknown_projected_column_fails_the_file(spark, tmp_path):
    """``iter_batches(columns=)`` ignores names the file lacks; the reader
    refuses them instead of committing zero-column chunks."""
    src = str(tmp_path / "src")
    datagen.generate(src, n_docs=40, seed=2, n_files=1)
    with pytest.raises(ValueError, match="nope"):
        next(pipeline._source_batches(
            glob.glob(f"{src}/*.parquet")[0], 16, ["doc_id", "nope"],
            None, None, 0.0, []))
    with pytest.raises(RuntimeError, match="bad_file_threshold"):
        pipeline.encode_path(spark, src, str(tmp_path / "strict"),
                             columns=["nope"])
    out = str(tmp_path / "tolerant")
    totals = pipeline.encode_path(spark, src, out, columns=["nope"],
                                  bad_file_threshold=1.0)
    assert totals["n_rows"] == 0
    assert mf.read_manifest(spark, out).collect()[0].n_bad_files == 1
    errs = [e for p in pipeline.meta_files(out, 0)
            for e in pq.read_table(p).column("error").to_pylist() if e]
    assert len(errs) == 1 and "nope" in errs[0]


def test_verify_files_fails_when_a_chunk_file_is_missing(spark, tmp_path):
    src = str(tmp_path / "src")
    datagen.generate(src, n_docs=400, seed=4, n_files=2)
    out = str(tmp_path / "enc")
    pipeline.encode_path(spark, src, out)
    assert verify.verify_files(spark, out)["ok"]
    chunk = sorted(glob.glob(f"{out}/chunks/**/*.parquet",
                             recursive=True))[0]
    os.remove(chunk)
    vf = verify.verify_files(spark, out)
    assert not vf["ok"]
    assert any(os.path.basename(chunk) in e for e in vf["errors"])


def test_verify_files_passes_a_file_with_every_group_skipped(spark,
                                                             tmp_path):
    """A committed file whose only row group was skipped within threshold
    has no chunk file, and its source reads to no batch: still ok."""
    src = str(tmp_path / "src")
    datagen.generate(src, n_docs=400, seed=6, n_files=2)
    victim = sorted(glob.glob(f"{src}/*.parquet"))[0]
    col = pq.ParquetFile(victim).metadata.row_group(0).column(0)
    with open(victim, "r+b") as f:
        f.seek(col.data_page_offset + 8)
        f.write(b"\xff" * min(64, col.total_compressed_size - 16))
    out = str(tmp_path / "enc")
    totals = pipeline.encode_path(spark, src, out, bad_record_threshold=1.0)
    assert totals["n_rows"] == 200
    vf = verify.verify_files(spark, out)
    assert vf["ok"] and vf["files_compared"] == 2
    assert vf["rows_compared"] == 200
