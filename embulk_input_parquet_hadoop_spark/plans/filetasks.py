"""Per-file task jobs: at most one task per core, in a Spark stage or,
for a small wave, in the driver.

Every file-source job in the package has one shape: the driver holds a
list of per-file input rows (paths, plus per-file side inputs), a task
function turns an Arrow batch of those rows into output batches — one
file at a time, each file its own commit and error unit — and the driver
needs the O(files) or O(chunks) output whole. ``encode_path``'s waves,
``verify.verify_files``, ``jsonl_io``'s JSONL/CSV/Avro/ORC staging and
``hudi_log``'s MOR staging all run through :func:`run_file_tasks`.

Packing: rows are packed into ``min(rows, defaultParallelism)`` bins by
greedy LPT on each row's source bytes. The packing is deterministic —
ties break by listing order — because a bin's index ``pid`` names its
outputs (chunk ids ``w{wave}-p{pid}-b{batch}`` and chunk files
``part-{pid}-f{seq}``): a re-run or retry of the same file list lands
the same names. ``run_file_tasks`` hands each task function its ``pid``
on both routes below.

Spark route: ``sc.parallelize(bins, n_tasks).mapPartitionsWithIndex(...)
.collect()`` — one Python stage, one task per bin. Each task builds one
input ``RecordBatch`` from its rows, runs the task function on it, and
returns the output batches as one Arrow IPC stream; the driver
concatenates the streams. A DataFrame route
(``createDataFrame(parallelize(rows))`` + ``mapInArrow`` + ``toArrow``)
runs two chained Python workers per task (the row conversion's
PythonRDD, then the Arrow UDF): on a 4-core host 8 no-op file tasks cost
1.31 s that way against 0.65 s with one Python worker per task, and the
session keeps twice the idle Python workers alive.

Each task round of a Python stage has a fixed cost. Most of it used to
be worker CPU, not waiting: every task's ``setup_spark_files`` re-read
the central directories of ``pyspark.zip``, the py4j zip and the
spark-core jar (0.24–0.51 s per task on a 4-core host), which the package
daemon now skips for unchanged archives (``daemon.guard_zip_rereads``).
Then each task stalled about 40 ms on the loopback-TCP worker channel
(``PythonRunner`` ``finish``), which ``session.get_spark`` removes by
moving the channel onto a Unix domain socket (``finish`` 0–1 ms). What
is left still grows with task rounds: on that host, warm, a no-op Python
job costs 0.04–0.05 s as 1 task, 0.06–0.09 s as 4 and 0.12–0.13 s as 8
(quartiles of 15; on TCP 0.08–0.09, 0.10–0.11 and 0.19–0.23 s; before
the guard 0.22–0.24, 0.28–0.34 and 0.54–0.67 s).

Driver route: a wave whose weights sum to at most ``DRIVER_WAVE_BYTES``
runs its bins one after another in the driver process, in bin order,
each with its own ``pid``, and concatenates their batches: the same
rows, names and outputs as the Spark route, without the job. An error
that escapes the task function reaches the caller as itself (the Spark
route raises the job failure, ``Py4JJavaError``); a crash in native code
ends the driver instead of failing a task.

A row's weight is its source bytes scaled by what its caller pays per
byte in the driver. Only Avro staging scales them
(``jsonl_io._AVRO_BYTE_COST``, 3: its containers are decoded a record
at a time in Python); every other caller passes plain bytes. A caller
scales every weight of a wave by the same factor, so the bins, pids and
output names are those of plain bytes. The cut is where the sequential
body of the dearest bytes passes the job it saves: the Spark route runs
its bins in parallel, so the dearer a byte, the earlier the driver
route loses. Each caller near the cut, on a 4-core host, warm (3
warm-up pairs, then 10 alternated pairs), the whole ``run_file_tasks``
call, median ms in the driver against the Spark route, and the driver's
ns per source byte:

===========================================  ============  ==========  ====
caller, source files                         source bytes  driver/ms   ns/B
===========================================  ============  ==========  ====
encode wave, 11 events slices (~19 KB)       209 KB        63 vs 119   303
encode wave, 2 lineitem slices (~98 KB)      195 KB        24 vs 71    125
``verify_files``, 11 encoded events slices   209 KB        44 vs 67    210
JSONL staging, 11 ``.jsonl.gz`` (events)     209 KB        52 vs 78    249
CSV staging, 4 ``.csv`` (events)             214 KB        15 vs 63    70
ORC staging, 7 ``.orc`` (events)             214 KB        20 vs 65    92
Hudi MOR staging, 4 slices (base + log)      180 KB        63 vs 78    348
Hudi MOR staging, 5 slices (base + log)      226 KB        68 vs 93    302
Avro staging, 4 deflate ``.avro`` (events)   69 KB         80 vs 111   1166
Avro staging, 12 deflate ``.avro`` (events)  206 KB        134 vs 107  651
===========================================  ============  ==========  ====

Every caller at 1x wins at ~196 KB; Avro wins at 64 KiB of container
bytes and loses at ~196 KB, so its bytes weigh 3x and its cut stays at
64 KiB. An earlier sweep on the same host put the break-even of events
encode waves near 280 KB, of lineitem encode waves near 600 KB, and of
Avro staging near 110–140 KB. So an append wave of two events slices
(~38 KB) or two lineitem slices (~150 KB) runs in the driver; a wave of
larger files (an encode_tokens wave of ~4 MB files) keeps its Spark
stage.
"""

from __future__ import annotations

import heapq

import pyarrow as pa
from pyspark.sql import SparkSession

# the driver route's cut in weighted source bytes, measured in the
# module docstring
DRIVER_WAVE_BYTES = 192 * 1024


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
                   weights: list[int]) -> pa.Table:
    """Run ``task_fn`` over ``rows`` (tuples in ``in_schema`` field order),
    LPT-packed on ``weights`` (each row's source bytes, scaled by the
    caller's cost per byte; see the module docstring) into
    ``min(len(rows), defaultParallelism)`` bins. ``task_fn(pid, batch)``
    takes a bin's index and its rows as one input ``RecordBatch`` and
    yields batches in ``out_schema``; the result is every bin's output in
    bin order. A wave whose weights sum to at most ``DRIVER_WAVE_BYTES``
    runs its bins one after another in the driver; any other wave runs them
    as one Spark stage, one task per bin."""
    if not rows:
        return out_schema.empty_table()
    sc = spark.sparkContext
    n_tasks = min(len(rows), sc.defaultParallelism)
    bins = [[rows[i] for i in b] for b in pack_lpt(weights, n_tasks)]
    names = in_schema.names

    def run(pid, part):
        return task_fn(pid, pa.RecordBatch.from_pylist(
            [dict(zip(names, r)) for r in part], schema=in_schema))

    if sum(weights) <= DRIVER_WAVE_BYTES:
        return pa.Table.from_batches(
            [out for pid, part in enumerate(bins) for out in run(pid, part)],
            schema=out_schema)

    def task(pid, parts):
        for part in parts:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, out_schema) as writer:
                for out in run(pid, part):
                    writer.write_batch(out)
            yield sink.getvalue().to_pybytes()

    streams = (sc.parallelize(bins, n_tasks)
               .mapPartitionsWithIndex(task).collect())
    return pa.concat_tables(pa.ipc.open_stream(s).read_all()
                            for s in streams)
