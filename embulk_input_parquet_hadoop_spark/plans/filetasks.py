"""Per-file task jobs: one Python stage, at most one task per core.

Every file-source job in the package has one shape: the driver holds a
list of per-file input rows (paths, plus per-file side inputs), a task
function turns an Arrow batch of those rows into output batches — one
file at a time, each file its own commit and error unit — and the driver
needs the O(files) or O(chunks) output whole. ``encode_path``'s waves,
``verify.verify_files``, ``jsonl_io``'s JSONL/CSV/Avro/ORC staging and
``hudi_log``'s MOR staging all run through :func:`run_file_tasks`.

Job shape: ``sc.parallelize(bins, n_tasks).mapPartitions(...).collect()``
— one Python stage. Each task builds one input ``RecordBatch`` from its
rows, runs the task function on it, and returns the output batches as one
Arrow IPC stream; the driver concatenates the streams. A DataFrame route
(``createDataFrame(parallelize(rows))`` + ``mapInArrow`` + ``toArrow``)
runs two chained Python workers per task (the row conversion's
PythonRDD, then the Arrow UDF): on a 4-core host 8 no-op file tasks cost
1.31 s that way against 0.65 s with one Python worker per task, and the
session keeps twice the idle Python workers alive.

Packing: each task round of a Python stage has a fixed cost. Most of it
used to be worker CPU, not waiting: every task's ``setup_spark_files``
re-read the central directories of ``pyspark.zip``, the py4j zip and the
spark-core jar (0.24–0.51 s per task on a 4-core host), which the package
daemon now skips for unchanged archives (``daemon.guard_zip_rereads``).
Then each task stalled about 40 ms on the loopback-TCP worker channel
(``PythonRunner`` ``finish``), which ``session.get_spark`` removes by
moving the channel onto a Unix domain socket (``finish`` 0–1 ms). What
is left still grows with task rounds: on that host, warm, a no-op Python
job costs 0.04–0.05 s as 1 task, 0.06–0.09 s as 4 and 0.12–0.13 s as 8
(quartiles of 15; on TCP 0.08–0.09, 0.10–0.11 and 0.19–0.23 s; before
the guard 0.22–0.24, 0.28–0.34 and 0.54–0.67 s). Files are
therefore packed into ``min(files, defaultParallelism)`` tasks by greedy
LPT on a per-file weight (source bytes). The packing is deterministic — ties break
by listing order — because task ids name outputs (chunk ids
``w{wave}-p{pid}-b{batch}`` and chunk files ``part-{pid}-f{seq}``): a
re-run or retry of the same file list lands the same names.
"""

from __future__ import annotations

import heapq

import pyarrow as pa
from pyspark.sql import SparkSession


def pack_lpt(weights: list[int], n_bins: int) -> list[list[int]]:
    """Greedy longest-processing-time packing of item indices into
    ``n_bins`` bins: heaviest item first (ties: listing order), each onto
    the bin with the least load, then the fewest items, then the lowest
    index. Each bin lists its items in listing order. With at least as
    many items as bins, no bin is empty (zero weights pack round-robin)."""
    heap = [(0, 0, b) for b in range(n_bins)]
    bins: list[list[int]] = [[] for _ in range(n_bins)]
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        load, count, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + weights[i], count + 1, b))
    return [sorted(b) for b in bins]


def run_file_tasks(spark: SparkSession, rows: list[tuple],
                   in_schema: pa.Schema, task_fn, out_schema: pa.Schema,
                   weights: list[int] | None = None) -> pa.Table:
    """Run ``task_fn`` over ``rows`` (tuples in ``in_schema`` field order)
    as one Spark stage of ``min(len(rows), defaultParallelism)`` tasks,
    rows LPT-packed on ``weights`` (unit weights when None). ``task_fn``
    takes an iterator of input ``RecordBatch``es and yields batches in
    ``out_schema``; the result is every task's output in task order."""
    if not rows:
        return out_schema.empty_table()
    sc = spark.sparkContext
    n_tasks = min(len(rows), sc.defaultParallelism)
    bins = [[rows[i] for i in b]
            for b in pack_lpt(weights or [1] * len(rows), n_tasks)]
    names = in_schema.names

    def task(parts):
        for part in parts:
            batch = pa.RecordBatch.from_pylist(
                [dict(zip(names, r)) for r in part], schema=in_schema)
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, out_schema) as writer:
                for out in task_fn(iter([batch])):
                    writer.write_batch(out)
            yield sink.getvalue().to_pybytes()

    streams = sc.parallelize(bins, n_tasks).mapPartitions(task).collect()
    return pa.concat_tables(pa.ipc.open_stream(s).read_all()
                            for s in streams)
