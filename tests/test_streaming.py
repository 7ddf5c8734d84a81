"""Streaming reuse of a batch operator: ``pack.chunk_with_overlap`` runs
unchanged inside ``foreachBatch``."""

import pytest

from embulk_input_parquet_hadoop_spark.sources import datagen


@pytest.fixture(scope="module")
def stream_tokens(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "tokens")
    datagen.generate(path, n_docs=800, seed=11, n_files=4)
    return path


def test_streaming_chunk_with_overlap_reuses_batch_operator(
        spark, stream_tokens, tmp_path):
    """The batch chunker runs unchanged inside foreachBatch: drained
    micro-batch outputs union to exactly the batch chunking of the
    whole input — the same batch/stream kernel-reuse contract as the
    encode path."""
    from embulk_input_parquet_hadoop_spark.operators import pack

    out = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, tokens array<int>, n_tok int, source string"

    def handle(df, epoch_id):
        (pack.chunk_with_overlap(df, 64, 48)
         .write.mode("append").parquet(out))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 2).parquet(stream_tokens)
         .writeStream.foreachBatch(handle)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = pack.chunk_with_overlap(
        spark.read.parquet(stream_tokens), 64, 48)
    got = {(r.doc_id, r.chunk_id, tuple(r.chunk))
           for r in spark.read.parquet(out).collect()}
    want = {(r.doc_id, r.chunk_id, tuple(r.chunk))
            for r in batch.collect()}
    assert got == want and want
