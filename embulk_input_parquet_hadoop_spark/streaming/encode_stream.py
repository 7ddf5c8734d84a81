"""Structured-Streaming encode: continuously encode newly-arriving files.

The reference is strictly batch (Embulk input plugin; "Resume supported:
no", ``/root/reference/README.md:9``). A training-data pipeline at 10^12
sequences is fed continuously, so we add the streaming shape on top of the
same batch kernels:

- ``readStream`` over the token-table directory (file-source streaming:
  Spark's checkpoint tracks exactly which files each micro-batch consumed —
  the streaming analogue of our wave manifest's file lineage);
- ``foreachBatch`` reuses :func:`plans.pipeline.encode_df` per micro-batch,
  so one code path serves batch waves and streaming epochs; each epoch
  commits a manifest record (wave_id = epoch id) exactly like a batch wave;
- a watermarked windowed aggregation provides the standard
  late-data-tolerant throughput monitor over the encode metrics stream.

``trigger(availableNow=True)`` drains everything present and stops — the
bounded-test mode; production would run the same query unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import manifest as mf
from ..plans import pipeline

TOKENS_DDL = ("doc_id string, tokens array<int>, n_tok int, source string")


def encode_stream(spark: SparkSession, input_path: str, out_dir: str,
                  checkpoint_dir: str,
                  max_files_per_trigger: int | None = None,
                  available_now: bool = True):
    """Start the streaming encode; returns the StreamingQuery.

    Each micro-batch is one wave: chunks land under
    ``{out_dir}/chunks/wave={epoch}``, a manifest record commits the epoch.
    Restart with the same checkpoint dir and Spark replays only unconsumed
    files — streaming resume on top of our wave manifest.
    """
    reader = (spark.readStream.schema(TOKENS_DDL))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def handle_batch(df: DataFrame, epoch_id: int) -> None:
        spark_b = df.sparkSession
        pipeline.encode_df(spark_b, df, out_dir, wave_id=int(epoch_id))
        files = [r.f for r in
                 df.select(F.input_file_name().alias("f")).distinct()
                 .collect()]
        mf.commit_wave(spark_b, out_dir, int(epoch_id), files, 0.0)

    writer = (stream.writeStream.foreachBatch(handle_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def token_rate_monitor(spark: SparkSession, input_path: str,
                       window: str = "1 minute",
                       watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed token-throughput over an arriving-events shape.

    Input rows need an event-time column ``ts`` plus ``source``/``n_tok``;
    late rows beyond the watermark are dropped (state is bounded — the
    property that matters at 10^12-sequence scale).
    Returns the streaming DataFrame; caller attaches a sink.
    """
    stream = (spark.readStream
              .schema("ts timestamp, source string, n_tok int")
              .parquet(input_path))
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("source"))
            .agg(F.sum("n_tok").alias("tokens"),
                 F.count(F.lit(1)).alias("docs"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "source", "tokens", "docs"))
