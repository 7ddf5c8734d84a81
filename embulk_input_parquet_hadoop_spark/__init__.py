"""PySpark-native columnar encode engine.

A from-scratch re-expression of the capability surface of
``rubik-ai/embulk-input-parquet_hadoop`` (an Embulk Parquet input plugin:
glob scan -> per-file fan-out -> column-chunk decode -> row emit, see
/root/reference/embulk-input-parquet_hadoop/src/main/java/org/embulk/input/
parquet_hadoop/ParquetHadoopInputPlugin.java:78-190) inverted into an
*encode* pipeline per the north rule: read tables of pre-tokenized training
sequences ``(doc_id string, tokens array<int32>, n_tok int32, source
string)``, encode every column chunk with lightweight codecs (dictionary,
delta, bit-packing, frame-of-reference, exception planes), pick the codec
per column chunk by sampled cost estimation inside Arrow-vectorized UDFs,
and guarantee decode is bit-identical to the input. RLE and FSST-style
symbol-table frames that earlier builds wrote are still decoded.

Layout:
  codecs/     numpy codec kernels + chunk framing (no Spark imports)
  operators/  column encoders, codec selector, dedup/similarity/text ops
  sources/    parquet/iceberg-style scan helpers, token-table datagen
  plans/      encode pipeline, verify, resumable manifest
  functions/  oracle-stable hash/text helpers shared by Spark + DuckDB
  streaming/  structured-streaming encode (foreachBatch micro-batch)
"""

__version__ = "0.1.0"
