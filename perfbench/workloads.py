"""The benchmark's workloads. Each one drives the package's public API from
one driver process at ``local[cores]``.

A workload has a set-up (which includes a warm-up run of its operation), a
timed operation repeated for the run's measuring window, correctness checks
after every operation, and final checks after the window. Every check that
fails counts as a failed operation.

- ``encode_tokens``: one-wave ``encode_path`` of a Zipf token corpus.
- ``append_mixed``: ``encode_path(append=True)`` rounds into growing
  ``lineitem``- and ``events``-shaped input directories.
- ``read_tokens``: ``verify_files``, a zone-map-pruned ``read_decoded`` and
  a per-column ``read_columns`` of a tree encoded in set-up. It is not a
  workload of BENCHMARK.json; every traced run runs it as a probe.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from embulk_input_parquet_hadoop_spark.plans import (columnar, manifest,
                                                     pipeline, verify)

# read_tokens encodes with small chunks so each sorted file spans several
# chunks and an n_tok range can prune most of them
READ_BATCH_ROWS = 1024
SLICES_PER_APPEND = 2
# warm-up operations in set-up: walls keep falling for the first few
# Spark jobs of a session while the JVM compiles its hot paths
WARMUP_ENCODES = 2
WARMUP_READ_ROUNDS = 1
WARMUP_APPEND_ROUNDS = 3
READ_PROBE_ROUNDS = 2


def _parquet_files(root: str) -> list[str]:
    out = []
    for d, _dirs, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names
                   if n.endswith(".parquet") and not n.startswith("."))
    return sorted(out)


def dir_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def chunk_digest(out_dir: str) -> str:
    """Digest of every chunk's column kinds and blobs, in chunk-id order.
    Chunk files also carry a wall-clock field, so their raw bytes are not
    compared."""
    paths = _parquet_files(os.path.join(out_dir, "chunks"))
    if not paths:
        return ""
    t = pa.concat_tables(pq.read_table(p, columns=["chunk_id", "cols",
                                                   "blobs"])
                         for p in paths).sort_by("chunk_id")
    h = hashlib.blake2b(digest_size=16)
    for cid, cols, blobs in zip(t.column("chunk_id").to_pylist(),
                                t.column("cols").to_pylist(),
                                t.column("blobs")):
        h.update(cid.encode())
        for c in cols:
            h.update(f"{c['name']}:{c['kind']}".encode())
        for b in blobs.values:
            h.update(b.as_buffer())
    return h.hexdigest()


class Workload:
    name = ""
    op_span = ""  # span name of the timed operation
    batch_rows = pipeline.DEFAULT_BATCH_ROWS

    def __init__(self, spark, inputs: dict, work: str, cores: int, tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.checks: list[tuple[str, bool, str]] = []
        # (start_ns, wall_s, input files) of every encode_path call
        self.encode_calls: list[tuple[int, float, list[str]]] = []
        # latest verify_files result per tree
        self.verify_results: dict[str, dict] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)

    def encode(self, in_dir: str, out_dir: str, files: list[str],
               **kw) -> dict:
        t0 = time.perf_counter_ns()
        res = pipeline.encode_path(self.spark, in_dir, out_dir, **kw)
        self.encode_calls.append(
            (t0, (time.perf_counter_ns() - t0) / 1e9, files))
        return res

    def verify_tree(self, out_dir: str, rows: int) -> bool:
        v = verify.verify_files(self.spark, out_dir,
                                batch_rows=self.batch_rows)
        self.verify_results[out_dir] = v
        return self.check(f"verify_files {os.path.basename(out_dir)}",
                          v["ok"] and v["rows_compared"] == rows,
                          f"ok={v['ok']} rows={v['rows_compared']}/{rows} "
                          f"errors={v['errors'][:1]}")

    # -- per-workload hooks ----------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def op(self) -> dict | None:
        """One timed operation: {"wall_s", "values"}; None when the
        workload's inputs are used up."""
        raise NotImplementedError

    def final_checks(self) -> None:
        pass

    def trees(self) -> list[str]:
        raise NotImplementedError

    def values_total(self) -> int:
        """Input values held by the trees (tokens, or table cells)."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def kernel_files(self) -> list[str]:
        """Files the workload encoded, for the kernel replay and census."""
        raise NotImplementedError

    def trace_probe(self) -> None:
        """Traced manifest reads of every tree after each operation (trace
        mode only)."""
        for t in self.trees():
            manifest.completed_waves(self.spark, t)
            manifest.committed_input_files(t)
            manifest.read_manifest(self.spark, t)

    def trace_extras(self, prepare) -> dict:
        """Read rounds of a tree encoded from the n_tok-sorted corpus, for
        the verify, read_decoded and columnar layers (read_tokens is not a
        benchmark workload); ``prepare(workload)`` returns that workload's
        input manifest."""
        probe = ReadTokens(self.spark, prepare("read_tokens"),
                           os.path.join(self.work, "read"), self.cores,
                           self.tracer)
        probe.setup()
        rounds = [probe.op() for _ in range(READ_PROBE_ROUNDS)]
        self.checks.extend(probe.checks)
        self.verify_results.update(probe.verify_results)

        def median(key):
            return statistics.median(r[key] for r in rounds)
        return {
            "read_tokens.verify_tokens_per_s":
                probe.tokens / median("verify_s"),
            "read_tokens.scan_pruned_s": median("scan_pruned_s"),
            "read_tokens.read_columns_s": median("read_columns_s"),
            "read_tokens.bytes_per_token": probe.byte_metrics()[0],
            "pipeline.chunks_kept_frac": probe.chunks_kept_frac(),
        }

    # -- metrics ---------------------------------------------------------

    def byte_metrics(self) -> tuple[float, float]:
        chunk_bytes = sum(dir_bytes(os.path.join(t, "chunks"))[0]
                          for t in self.trees())
        return (chunk_bytes / self.values_total(),
                chunk_bytes / self.input_bytes())

    def layer_metrics(self, loop_ns: int, file_body_s: dict) -> dict:
        calls = ([c for c in self.encode_calls if c[0] >= loop_ns]
                 or self.encode_calls)
        walls = [c[1] for c in calls]
        overheads = [c[1] - sum(file_body_s.get(f, 0.0) for f in c[2])
                     / self.cores for c in calls]
        out_bytes = out_files = meta_bytes = waves = 0
        for t in self.trees():
            b, n = dir_bytes(os.path.join(t, "chunks"))
            out_bytes += b
            out_files += n
            meta_bytes += dir_bytes(os.path.join(t, "manifest"))[0]
            meta_bytes += dir_bytes(os.path.join(t, "chunks_meta"))[0]
            waves += len(manifest.completed_waves(self.spark, t))
        tr = self.tracer
        m = {
            "pipeline.encode_path_s": statistics.median(walls),
            "pipeline.overhead_s": statistics.median(overheads),
            "pipeline.encode_path_self_s": self._self_median(
                "pipeline.encode_path"),
            "pipeline.read_decoded_s": tr.median_s("op.scan_pruned", loop_ns),
            "verify.verify_files_s": tr.median_s("verify.verify_files",
                                                 loop_ns),
            "verify.files_compared": sum(
                v["files_compared"] for v in self.verify_results.values()),
            "verify.mismatch_chunks": sum(
                v["mismatch_chunks"] for v in self.verify_results.values()),
            "columnar.relayout_s": tr.median_s("columnar.relayout_columnar"),
            "columnar.read_columns_s": tr.median_s("op.read_columns",
                                                   loop_ns),
            "manifest.completed_waves_s": tr.median_s(
                "manifest.completed_waves", loop_ns),
            "manifest.committed_input_files_s": tr.median_s(
                "manifest.committed_input_files", loop_ns),
            "manifest.read_manifest_s": tr.median_s("manifest.read_manifest",
                                                    loop_ns),
            "manifest.waves": waves,
            "fsutil.out_bytes": out_bytes,
            "fsutil.out_files": out_files,
            "fsutil.meta_bytes_per_wave": meta_bytes / max(1, waves),
        }
        # a span never recorded leaves its metric out, so the run fails on
        # the missing declared metric instead of reporting a made-up 0
        return {k: v for k, v in m.items() if v is not None}

    def _self_median(self, name: str) -> float | None:
        """Median self time of ``name`` called from this workload's timed
        operation (or from anywhere, when the operation never calls it)."""
        selfs = self.tracer.self_ns()
        spans = self.tracer.spans
        calls = [s for s in spans if s["name"] == name]
        vals = ([selfs[s["id"]] for s in calls if s["parent"] is not None
                 and spans[s["parent"]]["name"] == self.op_span]
                or [selfs[s["id"]] for s in calls])
        return statistics.median(vals) / 1e9 if vals else None


class EncodeTokens(Workload):
    """One-wave encode of the token corpus, repeated into a fresh tree."""

    name = "encode_tokens"
    op_span = "op.encode"

    def setup(self) -> None:
        self.files = self.inputs["files"]
        self.corpus = os.path.dirname(self.files[0])
        n_tok = pa.concat_arrays([pq.read_table(f, columns=["n_tok"])
                                  .column("n_tok").combine_chunks()
                                  for f in self.files])
        self.tokens = int(pc.sum(n_tok).as_py())
        self.rows = len(n_tok)
        self.out = os.path.join(self.work, "encode_tokens")
        for _ in range(WARMUP_ENCODES):
            self._encode_once()
        self.ref_digest = chunk_digest(self.out)
        self.ref_bytes = dir_bytes(os.path.join(self.out, "chunks"))[0]

    def _encode_once(self) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        res = self.encode(self.corpus, self.out, self.files)
        self.check("encode_path counts",
                   res["n_tokens"] == self.tokens
                   and res["n_rows"] == self.rows,
                   f"tokens={res['n_tokens']}/{self.tokens} "
                   f"rows={res['n_rows']}/{self.rows}")
        return res

    def op(self) -> dict:
        with self.tracer.span(self.op_span):
            self._encode_once()
        wall = self.encode_calls[-1][1]
        self.check("chunk blobs identical across repeats",
                   chunk_digest(self.out) == self.ref_digest)
        self.check("chunk bytes identical across repeats",
                   dir_bytes(os.path.join(self.out, "chunks"))[0]
                   == self.ref_bytes)
        return {"wall_s": wall, "values": self.tokens}

    def final_checks(self) -> None:
        self.verify_tree(self.out, self.rows)

    def trees(self) -> list[str]:
        return [self.out]

    def values_total(self) -> int:
        return self.tokens

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)

    def kernel_files(self) -> list[str]:
        return self.files


def _token_aggregates(files: list[str], lo: int | None = None,
                      hi: int | None = None) -> dict:
    """{source: (rows, sum n_tok, sum of token ids)} computed with pyarrow
    from the source files, optionally for lo <= n_tok <= hi."""
    t = pa.concat_tables(pq.read_table(f, columns=["n_tok", "source",
                                                   "tokens"])
                         for f in files)
    if lo is not None:
        t = t.filter(pc.and_(pc.greater_equal(t["n_tok"], lo),
                             pc.less_equal(t["n_tok"], hi)))
    tokens = t.column("tokens").combine_chunks()
    offs = tokens.offsets.to_numpy()
    flat = tokens.flatten().to_numpy().astype(np.int64)
    csum = np.concatenate([[0], np.cumsum(flat)])
    row_sums = csum[offs[1:]] - csum[offs[:-1]]
    agg = (pa.table({"source": t["source"], "n_tok": t["n_tok"],
                     "tsum": row_sums})
           .group_by("source")
           .aggregate([("n_tok", "count"), ("n_tok", "sum"),
                       ("tsum", "sum")]))
    return {s: (int(n), int(a), int(b)) for s, n, a, b in zip(
        agg["source"].to_pylist(), agg["n_tok_count"].to_pylist(),
        agg["n_tok_sum"].to_pylist(), agg["tsum_sum"].to_pylist())}


class ReadTokens(Workload):
    """Three reads of a tree encoded in set-up from n_tok-sorted files."""

    name = "read_tokens"
    op_span = "op.read"
    batch_rows = READ_BATCH_ROWS

    def setup(self) -> None:
        self.files = self.inputs["files"]
        n_tok = np.concatenate([pq.read_table(f, columns=["n_tok"])
                                .column("n_tok").to_numpy()
                                for f in self.files])
        self.rows = len(n_tok)
        self.tokens = int(n_tok.sum())
        # an n_tok band holding about a tenth of the rows
        self.lo, self.hi = (int(v) for v in np.quantile(n_tok, [0.45, 0.55]))
        self.expect_scan = _token_aggregates(self.files, self.lo, self.hi)
        self.expect_cols = {s: v[:2] for s, v in
                            _token_aggregates(self.files).items()}
        self.tree = os.path.join(self.work, "read_tokens")
        self.col_dir = os.path.join(self.work, "read_tokens_columns")
        self.encode(os.path.dirname(self.files[0]), self.tree, self.files,
                    batch_rows=self.batch_rows)
        columnar.relayout_columnar(self.spark, self.tree, self.col_dir)
        for _ in range(WARMUP_READ_ROUNDS):
            self._round()

    def _round(self) -> dict:
        walls = {}
        with self.tracer.span(self.op_span):
            for part, read in (("verify_s", self._verify),
                               ("scan_pruned_s", self._scan_pruned),
                               ("read_columns_s", self._read_columns)):
                t0 = time.perf_counter()
                read()
                walls[part] = time.perf_counter() - t0
        return {"wall_s": sum(walls.values()), "values": self.tokens,
                **walls}

    def _verify(self) -> None:
        with self.tracer.span("op.verify"):
            self.verify_tree(self.tree, self.rows)

    def _scan_pruned(self) -> None:
        with self.tracer.span("op.scan_pruned"):
            df = pipeline.read_decoded(
                self.spark, self.tree, ["n_tok", "source", "tokens"],
                "n_tok int, source string, tokens array<int>",
                {"n_tok": (self.lo, self.hi)})
            token_sum = F.aggregate("tokens", F.lit(0).cast("long"),
                                    lambda acc, x: acc + x)
            rows = (df.groupBy("source")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("n_tok").alias("s"),
                         F.sum(token_sum).alias("t"))
                    .collect())
        got = {r["source"]: (r["n"], r["s"], r["t"]) for r in rows}
        self.check("scan_pruned aggregate", got == self.expect_scan,
                   f"{got} != {self.expect_scan}")

    def _read_columns(self) -> None:
        with self.tracer.span("op.read_columns"):
            df = columnar.read_columns(self.spark, self.col_dir,
                                       {"source": "string", "n_tok": "int"})
            rows = (df.groupBy("source")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("n_tok").alias("s"))
                    .collect())
        got = {r["source"]: (r["n"], r["s"]) for r in rows}
        self.check("read_columns aggregate", got == self.expect_cols,
                   f"{got} != {self.expect_cols}")

    def op(self) -> dict:
        return self._round()

    def chunks_kept_frac(self) -> float:
        chunks = pipeline.read_chunks(self.spark, self.tree)
        kept = pipeline.prune_chunks(chunks, "n_tok", self.lo,
                                     self.hi).count()
        return kept / max(1, chunks.count())

    def trees(self) -> list[str]:
        return [self.tree]

    def values_total(self) -> int:
        return self.tokens

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)

    def kernel_files(self) -> list[str]:
        return self.files


class AppendMixed(Workload):
    """Append rounds: each round stages a few new slices per table and runs
    one ``encode_path(append=True)`` per table tree."""

    name = "append_mixed"
    op_span = "op.append"
    tables = ("lineitem", "events")

    def setup(self) -> None:
        self.slices = self.inputs["slices"]
        self.meta = {}
        for p in self.slices["lineitem"] + self.slices["events"]:
            md = pq.ParquetFile(p).metadata
            self.meta[p] = (md.num_rows, md.num_rows * md.num_columns,
                            os.path.getsize(p))
        self.in_dir = {t: os.path.join(self.work, f"in_{t}")
                       for t in self.tables}
        self.out_dir = {t: os.path.join(self.work, f"out_{t}")
                        for t in self.tables}
        for d in self.in_dir.values():
            os.makedirs(d)
        self.next = {t: 0 for t in self.tables}
        # per table: staged copy -> generated slice it came from
        self.appended: dict[str, dict[str, str]] = {t: {}
                                                    for t in self.tables}
        for _ in range(WARMUP_APPEND_ROUNDS):
            self._round()

    def exhausted(self) -> bool:
        return any(self.next[t] + SLICES_PER_APPEND > len(self.slices[t])
                   for t in self.tables)

    def stage(self, table: str) -> list[str]:
        """Copy the table's next slices into its input directory."""
        k = self.next[table]
        staged = []
        for src in self.slices[table][k:k + SLICES_PER_APPEND]:
            dst = os.path.join(self.in_dir[table], os.path.basename(src))
            shutil.copyfile(src, dst)
            self.appended[table][dst] = src
            staged.append(dst)
        self.next[table] = k + SLICES_PER_APPEND
        return staged

    def append(self, table: str, staged: list[str]) -> float:
        before = len(self.appended[table]) - len(staged)
        res = self.encode(self.in_dir[table], self.out_dir[table],
                          [self.appended[table][s] for s in staged],
                          append=True)
        rows = sum(self.meta[self.appended[table][s]][0] for s in staged)
        self.check(f"append {table}",
                   res["waves_run"] == 1 and res["n_rows"] == rows
                   and res.get("n_files_already_committed") == before,
                   f"waves={res['waves_run']} rows={res['n_rows']}/{rows} "
                   f"already={res.get('n_files_already_committed')}/"
                   f"{before}")
        return self.encode_calls[-1][1]

    def _round(self) -> dict:
        wall = values = 0
        with self.tracer.span(self.op_span):
            for t in self.tables:
                staged = self.stage(t)
                wall += self.append(t, staged)
                values += sum(self.meta[self.appended[t][s]][1]
                              for s in staged)
        return {"wall_s": wall, "values": values}

    def op(self) -> dict | None:
        return None if self.exhausted() else self._round()

    def final_checks(self) -> None:
        for t in self.tables:
            out = self.out_dir[t]
            staged = self.appended[t]
            rows = sum(self.meta[src][0] for src in staged.values())
            self.verify_tree(out, rows)
            recs = manifest.read_manifest(self.spark, out).collect()
            lineage = [f for r in recs for f in r["input_files"]]
            self.check(f"manifest rows {t}",
                       sum(r["n_rows"] for r in recs) == rows,
                       f"{sum(r['n_rows'] for r in recs)}/{rows}")
            self.check(f"manifest lineage has no duplicates {t}",
                       len(lineage) == len(set(lineage)))
            committed = {os.path.realpath(f)
                         for f in manifest.committed_input_files(out)}
            self.check(f"committed_input_files {t}",
                       committed == {os.path.realpath(f) for f in staged},
                       f"{len(committed)} committed, {len(staged)} staged")

    def trees(self) -> list[str]:
        return list(self.out_dir.values())

    def _sources(self) -> list[str]:
        return [src for t in self.tables
                for src in self.appended[t].values()]

    def values_total(self) -> int:
        return sum(self.meta[s][1] for s in self._sources())

    def input_bytes(self) -> int:
        return sum(self.meta[s][2] for s in self._sources())

    def kernel_files(self) -> list[str]:
        return self._sources()


WORKLOADS = {w.name: w for w in (EncodeTokens, ReadTokens, AppendMixed)}
