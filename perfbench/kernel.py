"""Spark-free, single-core replay of the encode task body, plus the codec
census.

``KernelLeg.replay`` follows the order of the encode task in
``plans/pipeline.py``: read a file with
``fsutil.parquet_file(...).iter_batches(use_threads=False)``, build each
batch's chunk row with the task's own ``pipeline._encode_one_batch`` (whose
``encode_column`` calls are timed per column kind), and write the rows with
``ParquetWriter`` in ``pipeline.CHUNK_ARROW_SCHEMA``, uncompressed. Only
those steps count as task-body time. After each batch, untimed for the
body, every blob is decoded with ``decode_column`` and compared with its
input column; ``select_int_codec`` is timed on the integer arrays; and the
frames of every blob are counted by codec and outer stage
(``framing.read_frames``).
"""

from __future__ import annotations

import itertools
import os
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from embulk_input_parquet_hadoop_spark.codecs import framing
from embulk_input_parquet_hadoop_spark.operators.encode import (
    decode_column, encode_column, temporal_int_view)
from embulk_input_parquet_hadoop_spark.operators.select import (
    encode_best, select_int_codec)
from embulk_input_parquet_hadoop_spark.plans import fsutil, pipeline

KINDS = ("list_i32", "str_direct", "str_dict", "int", "f64", "temporal")
OUTER = ("none", "zs", "zp")


def _same(decoded: pa.Array, original: pa.Array) -> bool:
    if pa.types.is_list(original.type):
        return (decoded.flatten().equals(original.flatten())
                and np.array_equal(np.diff(decoded.offsets.to_numpy()),
                                   np.diff(original.offsets.to_numpy())))
    if decoded.type != original.type:
        decoded = decoded.cast(original.type)
    return decoded.equals(original)


def _int_arrays(kind: str, col: pa.Array) -> list[np.ndarray]:
    """Integer arrays a column hands to the codec selector."""
    if kind == "list_i32":
        offs = col.offsets.to_numpy().astype(np.int64)
        return [offs - offs[0], col.flatten().to_numpy()]
    if col.null_count:
        col = col.drop_null()
    if kind == "int":
        return [col.to_numpy()]
    if kind == "temporal":
        return [temporal_int_view(col).to_numpy().astype(np.int64)]
    return []


class KernelLeg:
    def __init__(self, batch_rows: int, work_dir: str):
        self.batch_rows = batch_rows
        self.work_dir = work_dir
        self.read_ns = self.write_ns = self.body_ns = 0
        self.tokens = 0
        self.enc_ns: Counter = Counter()
        self.dec_ns: Counter = Counter()
        self.values: Counter = Counter()
        self.est_ns = self.est_values = 0
        self.est_over_actual: list[float] = []
        self.frames: Counter = Counter()
        self.frame_bytes: Counter = Counter()
        self.outer: Counter = Counter()
        self.file_body_s: dict[str, float] = {}
        self.mismatches: list[str] = []

    def _timed_encode_column(self, col):
        """``encode_column``, timed per column kind (patched into
        ``pipeline`` for the replay)."""
        t0 = time.perf_counter_ns()
        kind, blob = encode_column(col)
        self.enc_ns[kind] += time.perf_counter_ns() - t0
        self.values[kind] += (len(col.flatten()) if kind == "list_i32"
                              else len(col))
        return kind, blob

    def replay(self, path: str) -> float:
        """Replay the task body on one file; returns its body seconds."""
        out = os.path.join(self.work_dir, "kernel-chunk.parquet")
        pf = fsutil.parquet_file(path)
        is_tokens = "tokens" in pf.schema_arrow.names
        body_ns = read_ns = write_ns = 0
        n_tokens = 0
        writer = pq.ParquetWriter(out, pipeline.CHUNK_ARROW_SCHEMA,
                                  compression="none")
        it = pf.iter_batches(batch_size=self.batch_rows, use_threads=False)
        pipeline.encode_column = self._timed_encode_column
        try:
            for bidx in itertools.count():
                t0 = time.perf_counter_ns()
                batch = next(it, None)
                t1 = time.perf_counter_ns()
                read_ns += t1 - t0
                if batch is None:
                    body_ns += t1 - t0
                    break
                row, stats = pipeline._encode_one_batch(batch, 0, 0, bidx)
                t2 = time.perf_counter_ns()
                writer.write_batch(row)
                t3 = time.perf_counter_ns()
                write_ns += t3 - t2
                body_ns += t3 - t0
                n_tokens += stats["n_tokens"]
                self._after_batch(path, batch, row)
            t0 = time.perf_counter_ns()
            writer.close()
            writer = None
            write_ns += time.perf_counter_ns() - t0
            body_ns += time.perf_counter_ns() - t0
        finally:
            pipeline.encode_column = encode_column
            if writer is not None:
                writer.close()
            os.remove(out)
        if is_tokens:
            self.read_ns += read_ns
            self.write_ns += write_ns
            self.body_ns += body_ns
            self.tokens += n_tokens
        self.file_body_s[path] = body_ns / 1e9
        return body_ns / 1e9

    def _after_batch(self, path: str, batch: pa.RecordBatch,
                     row: pa.RecordBatch) -> None:
        """Untimed for the body: decode every blob of the chunk row and
        compare it with its input column, time the selector's estimate on
        the integer arrays, and count the blob frames."""
        cols = row.column("cols")[0].values
        blobs = row.column("blobs")[0].values
        for name, kind, blob in zip(cols.field("name").to_pylist(),
                                    cols.field("kind").to_pylist(),
                                    blobs.to_pylist()):
            col = batch.column(name)
            td = time.perf_counter_ns()
            dec = decode_column(kind, blob)
            self.dec_ns[kind] += time.perf_counter_ns() - td
            if not _same(dec, col):
                self.mismatches.append(f"{path}:{name}")
            for a in _int_arrays(kind, col):
                ts = time.perf_counter_ns()
                choice, _st, est = select_int_codec(a)
                self.est_ns += time.perf_counter_ns() - ts
                self.est_values += len(a)
                _c, payload, _p = encode_best(a)
                self.est_over_actual.append(est[choice] / max(1, len(payload)))
            for f in framing.read_frames(blob):
                self.frames[f.codec] += 1
                self.frame_bytes[f.codec] += len(f.payload)
                z = f.params.get("z")
                self.outer["none" if not z else
                           "zp" if z == "zp" else "zs"] += 1

    def metrics(self) -> dict[str, float]:
        """Per-layer metrics; a column kind the replayed files never held
        is left out, so a missing declared metric shows as an error."""
        m = {
            "fsutil.read_ns_per_token": self.read_ns / self.tokens,
            "pipeline.chunk_write_ns_per_token": self.write_ns / self.tokens,
            "kernel.task_tokens_per_s_per_core":
                self.tokens / (self.body_ns / 1e9),
            "select.estimate_ns_per_value": self.est_ns / self.est_values,
            "select.est_over_actual_p50":
                statistics.median(self.est_over_actual),
        }
        for k in KINDS:
            if self.values[k]:
                m[f"encode.{k}.encode_ns_per_value"] = (self.enc_ns[k]
                                                        / self.values[k])
                m[f"encode.{k}.decode_ns_per_value"] = (self.dec_ns[k]
                                                        / self.values[k])
        for c in framing.CODEC_IDS:
            m[f"select.frames.{c}"] = self.frames[c]
            m[f"select.bytes.{c}"] = self.frame_bytes[c]
        for o in OUTER:
            m[f"encode.outer.{o}"] = self.outer[o]
        return m
