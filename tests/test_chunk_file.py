"""The chunk-file writer: coded blobs are written without Parquet column
statistics or a dictionary page, so a small chunk's file is mostly its
blobs."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from embulk_input_parquet_hadoop_spark.operators.encode import decode_column
from embulk_input_parquet_hadoop_spark.plans import pipeline


def _events(n: int) -> pa.Table:
    """An events-shaped table: ids, a time series, low-card strings and
    two-decimal float amounts."""
    rng = np.random.default_rng(0)
    gaps = rng.exponential(2e6, n).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(1_700_000_000_000_000 + np.cumsum(gaps),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 10_000, n),
        "event_type": rng.choice(np.array(["view", "click", "cart", "buy"]),
                                 n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 64, n)],
    })


def test_chunk_file_is_mostly_blobs(tmp_path):
    src = str(tmp_path / "events.parquet")
    table = _events(1000)
    pq.write_table(table, src)
    wave_dir = str(tmp_path / "chunks" / "wave=0")
    fn = pipeline.make_encode_files_fn(0, wave_dir)
    (row,) = fn(0, pa.RecordBatch.from_pylist(
        [{"path": src}], schema=pipeline.FILE_ROWS_ARROW_SCHEMA))
    assert row.column("error")[0].as_py() is None
    (chunk_file,) = glob.glob(f"{wave_dir}/*.parquet")  # committed

    md = pq.ParquetFile(chunk_file).metadata
    assert md.num_row_groups == 1
    rg = md.row_group(0)
    leaves = {rg.column(i).path_in_schema: rg.column(i)
              for i in range(rg.num_columns)}
    blob_leaf = leaves["blobs.list.element"]
    assert not blob_leaf.is_stats_set
    assert not blob_leaf.has_dictionary_page
    assert "PLAIN_DICTIONARY" not in blob_leaf.encodings
    assert "RLE_DICTIONARY" not in blob_leaf.encodings

    chunks = pq.read_table(chunk_file)
    entries = list(pipeline.chunk_columns(chunks.to_batches()[0]))
    assert len(entries) == 1
    blob_bytes = 0
    for name, kind, blob in entries[0]:
        blob_bytes += len(blob)
        assert decode_column(kind, blob).equals(table.column(name)
                                                .combine_chunks()), name
    # footer, page headers and the stat columns; about 17.6 KB with
    # statistics and dictionary pages on, against ~10 KB of blobs
    assert os.path.getsize(chunk_file) - blob_bytes <= 6 * 1024


def test_encode_df_chunk_file_is_lean(spark, tmp_path):
    """The DataFrame path's chunk files drop the blob statistics too, and
    a tree committed from them still reads back."""
    from embulk_input_parquet_hadoop_spark.plans import manifest as mf
    src = str(tmp_path / "events.parquet")
    table = _events(1000).drop_columns(["ts"])
    pq.write_table(table, src)
    out = str(tmp_path / "enc")
    pipeline.encode_df(spark, spark.read.parquet(src), out)
    files = glob.glob(f"{out}/chunks/wave=0/*.parquet")
    assert files
    for f in files:
        rg = pq.ParquetFile(f).metadata.row_group(0)
        leaves = {rg.column(i).path_in_schema: rg.column(i)
                  for i in range(rg.num_columns)}
        blob_leaf = leaves["blobs.list.element"]
        assert not blob_leaf.is_stats_set
        assert not blob_leaf.has_dictionary_page
    mf.commit_wave(spark, out, 0, [src], 0.0)
    dec = pipeline.read_decoded(spark, out, ["event_id", "user_id"],
                                "event_id bigint, user_id bigint",
                                int_ranges={"event_id": (10, 19)})
    got = sorted((r.event_id, r.user_id) for r in dec.collect())
    want = [(i, table.column("user_id")[i].as_py()) for i in range(10, 20)]
    assert got == want
