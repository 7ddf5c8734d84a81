#!/usr/bin/env python
"""spark-submit entry point for the columnar encode job.

Cluster usage (the north rule's deployment shape):

    cd repo && zip -r /tmp/engine.zip embulk_input_parquet_hadoop_spark
    spark-submit --py-files /tmp/engine.zip \
        --conf spark.executor.instances=$N \
        jobs/encode_job.py \
        --input /data/tokens --output /data/encoded \
        --waves 16 [--resume] [--verify] [--cluster-partitions 4096]

Local sandbox stand-in (N vs 4N executors -> local[N] vs local[4N]):

    python jobs/encode_job.py --input ... --output ... --cores 8
    python jobs/encode_job.py --input ... --output ... --cores 32

The job prints one JSON line of totals (rows, tokens, bytes, wall, and the
verify result when requested). Resume: rerun with --resume and the same
--output; committed waves are skipped via the manifest
(see plans/manifest.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from embulk_input_parquet_hadoop_spark.plans import pipeline, verify  # noqa: E402
from embulk_input_parquet_hadoop_spark.session import get_spark  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="token table path (parquet)")
    p.add_argument("--output", required=True, help="encode output dir")
    p.add_argument("--waves", type=int, default=1,
                   help="checkpoint granularity: input files per commit")
    p.add_argument("--resume", action="store_true",
                   help="skip waves already committed in the manifest")
    p.add_argument("--verify", action="store_true",
                   help="decode + bit-identity check after encoding")
    p.add_argument("--cluster-partitions", type=int, default=None,
                   help="use the DataFrame path with salted clustering "
                        "repartition into this many partitions")
    p.add_argument("--batch-rows", type=int, default=pipeline.DEFAULT_BATCH_ROWS)
    p.add_argument("--columns", default=None,
                   help="comma-separated column projection")
    p.add_argument("--schema-mode", choices=("single", "mixed"),
                   default=None,
                   help="'mixed' accepts trees with incompatible per-file "
                        "schemas (they share waves); 'single' refuses a "
                        "wave that brings a second schema. Default: "
                        "'mixed' for --iceberg/--delta/--hudi/--hive "
                        "without --cluster-partitions (a table's files "
                        "differ in schema after schema evolution), "
                        "else 'single'")
    p.add_argument("--bad-file-threshold", type=float, default=0.0,
                   help="tolerated fraction of failed input files per wave")
    p.add_argument("--bad-record-threshold", type=float, default=0.0,
                   help="tolerated fraction of rows per file lost to "
                        "corrupt row groups (the reference's "
                        "parquet.read.bad.record.threshold)")
    p.add_argument("--relayout-columnar", metavar="DIR", default=None,
                   help="after encoding, re-layout committed chunks into "
                        "a per-column Hive-partitioned tree at DIR "
                        "(single-column reads become partition-pruned; "
                        "see plans/columnar.py)")
    p.add_argument("--iceberg", action="store_true",
                   help="treat --input as an Iceberg table directory: "
                        "resolve the current snapshot's data files from "
                        "the table metadata (pure-Python avro reader, no "
                        "runtime jar) and encode that frozen file list")
    p.add_argument("--delta", action="store_true",
                   help="treat --input as a Delta Lake table directory: "
                        "replay _delta_log (JSON commits + classic "
                        "checkpoints, no Delta runtime) for the current "
                        "version's data files; deletion vectors apply "
                        "inside the encode tasks")
    p.add_argument("--at-version", type=int, default=None, metavar="V",
                   help="with --delta: time-travel to table version V "
                        "instead of the latest")
    p.add_argument("--at-timestamp", type=int, default=None,
                   metavar="EPOCH_MS",
                   help="with --delta: time-travel to the latest "
                        "version committed at or before the given "
                        "epoch-milliseconds (in-commit timestamps, "
                        "then commitInfo, then log-file mtime — the "
                        "spec's timestampAsOf resolution)")
    p.add_argument("--since-version", type=int, default=None,
                   metavar="V",
                   help="with --delta: encode only data files added "
                        "after version V (live-set diff vs --at-version "
                        "or latest); implies --append")
    p.add_argument("--inject-partitions", action="store_true",
                   help="with --delta or --hive: inject each file's "
                        "partition values as typed constant columns so "
                        "the encoded tree serves them (Delta and Hive "
                        "store partition values outside the data files)")
    p.add_argument("--hive", action="store_true",
                   help="treat --input as a Hive-partitioned parquet "
                        "tree (key=value directories); combine with "
                        "--inject-partitions to keep the partition "
                        "columns (as strings) in the encoded output")
    p.add_argument("--hudi", action="store_true",
                   help="treat --input as an Apache Hudi table "
                        "directory (COPY_ON_WRITE or MERGE_ON_READ): "
                        "replay the .hoodie timeline (pure-Python, no "
                        "Hudi runtime) and encode the snapshot's latest "
                        "file slices; MOR log chains are merged into "
                        "the --staging tree first (each slice on its "
                        "own)")
    p.add_argument("--as-of", default=None, metavar="INSTANT",
                   help="with --hudi: time-travel to the given timeline "
                        "instant (inclusive)")
    p.add_argument("--since-instant", default=None, metavar="INSTANT",
                   help="with --hudi: encode only file groups added "
                        "after the given completed instant (vs --as-of "
                        "or latest); rewrites/replacements of "
                        "already-live groups refuse; implies --append")
    p.add_argument("--jsonl", action="store_true",
                   help="treat --input as a JSONL corpus (dir of "
                        ".jsonl/.ndjson[.gz] files): stage each file "
                        "to parquet (each file on its own, idempotent "
                        "md5-named outputs) then encode the staged "
                        "tree; combine with --append for incremental "
                        "ingest over a growing drop directory")
    p.add_argument("--csv", action="store_true",
                   help="like --jsonl for .csv/.tsv[.gz] files "
                        "(header row required; tab delimiter inferred "
                        "for .tsv)")
    p.add_argument("--avro", action="store_true",
                   help="like --jsonl for .avro container files "
                        "(pure-Python reader, no avro package/jar; "
                        "null/deflate/snappy codecs; each file's "
                        "embedded writer schema maps to Arrow)")
    p.add_argument("--orc", action="store_true",
                   help="like --jsonl for .orc files (pyarrow's "
                        "vectorized ORC reader, no jar)")
    p.add_argument("--staging", default=None, metavar="DIR",
                   help="with --jsonl/--csv/--avro/--orc/--hudi "
                        "(merge-on-read): parquet staging tree "
                        "(default {output}/_staging — underscore "
                        "prefix keeps it out of parquet globs)")
    p.add_argument("--jsonl-schema", default=None, metavar="DDL",
                   help="with --jsonl/--csv/--avro: Spark DDL pinning "
                        "staged column types and order (else per-file "
                        "inference)")
    p.add_argument("--partition", action="append", default=None,
                   metavar="FIELD=VALUE",
                   help="with --iceberg/--delta/--hudi: metadata-level "
                        "partition pruning; repeatable, fields AND "
                        "together (Hudi: hive-style partition paths "
                        "only)")
    p.add_argument("--append", action="store_true",
                   help="incremental mode: subtract source files already "
                        "in the manifest lineage, encode only new ones "
                        "as fresh waves (combine with --iceberg "
                        "--since-snapshot for snapshot-diff ingest)")
    p.add_argument("--since-snapshot", type=int, default=None,
                   metavar="ID",
                   help="with --iceberg: encode only data files added "
                        "after snapshot ID (live-set diff vs the "
                        "current snapshot); implies --append")
    p.add_argument("--ref", default=None, metavar="NAME",
                   help="with --iceberg: encode the snapshot a named "
                        "branch/tag points at (table metadata refs) "
                        "instead of the current snapshot")
    p.add_argument("--as-of-timestamp", type=int, default=None,
                   metavar="EPOCH_MS",
                   help="with --iceberg: encode the latest snapshot "
                        "committed at or before the given epoch-ms "
                        "(snapshot timestamp-ms records)")
    p.add_argument("--vacuum", action="store_true",
                   help="before encoding: remove crashed-attempt debris "
                        "(uncommitted waves, stray .tmp parts) from "
                        "--output; pairs with --resume for a clean "
                        "restart")
    p.add_argument("--compact-manifest", action="store_true",
                   help="after encoding: compact committed wave records "
                        "into manifest/checkpoint-K.json (one-read "
                        "lineage/metrics for long-lived append trees; "
                        "per-wave records stay as the visibility truth)")
    p.add_argument("--verify-files", action="store_true",
                   help="channel-free positional verify (one task per "
                        "source file) instead of the global join")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] stand-in; omit under spark-submit with a "
                        "real master")
    args = p.parse_args()

    if args.cores is not None:
        spark = get_spark("encode-job", cores=args.cores)
    else:
        # under spark-submit the master/executors come from the submit conf
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.appName("encode-job").getOrCreate()

    input_files = None
    # the table's scan plan (deletes, constants, renames): see
    # encode_path's plan
    plan = {}
    if args.iceberg:
        from embulk_input_parquet_hadoop_spark.sources import iceberg_meta
        pf = None
        if args.partition:
            pf = dict(kv.split("=", 1) for kv in args.partition)
        if sum(x is not None for x in (args.ref, args.as_of_timestamp,
                                       args.since_snapshot)) > 1:
            raise SystemExit("--ref/--as-of-timestamp/--since-snapshot "
                             "are mutually exclusive")
        if args.since_snapshot is not None:
            # a snapshot diff is incremental by definition; an empty diff
            # flows through encode_path's append no-op so --vacuum /
            # --verify-files and the totals line still run. MOR-aware:
            # deletes scoped to the NEW files apply inside the encode
            # tasks; deletes touching already-live files refuse (an
            # append-only tree cannot retract committed rows).
            args.append = True
            scan = iceberg_meta.snapshot_scan_diff(
                args.input, args.since_snapshot, partition_filter=pf)
        else:
            # MOR-aware full-snapshot scan: position deletes apply
            # row-positionally, equality deletes value-wise, both
            # inside the encode tasks
            sid = (iceberg_meta.resolve_ref(args.input, args.ref)
                   if args.ref is not None
                   else iceberg_meta.snapshot_at_timestamp(
                       args.input, args.as_of_timestamp)
                   if args.as_of_timestamp is not None else None)
            scan = iceberg_meta.snapshot_scan(args.input,
                                              snapshot_id=sid,
                                              partition_filter=pf)
        input_files = scan["data_files"]
        plan = {"row_deletes": scan["position_deletes"],
                "eq_deletes": scan["equality_deletes"]}
    elif args.delta:
        from embulk_input_parquet_hadoop_spark.sources import delta_meta
        pf = None
        if args.partition:
            pf = dict(kv.split("=", 1) for kv in args.partition)
        if args.at_timestamp is not None:
            if args.at_version is not None:
                raise SystemExit("--at-version and --at-timestamp are "
                                 "mutually exclusive")
            args.at_version = delta_meta.version_at_timestamp(
                args.input, args.at_timestamp)
        if args.since_version is not None:
            # same incremental contract as --iceberg --since-snapshot:
            # diff refuses removals / changed deletion vectors on
            # already-encoded files
            args.append = True
            scan = delta_meta.snapshot_scan_diff(
                args.input, args.since_version,
                to_version=args.at_version, partition_filter=pf)
        else:
            scan = delta_meta.snapshot_scan(
                args.input, version=args.at_version,
                partition_filter=pf)
        input_files = scan["data_files"]
        plan = {"row_deletes": scan["row_deletes"],
                "column_renames": scan["column_renames"]}
        if args.inject_partitions:
            plan.update(delta_meta.partition_const_columns(scan))
    elif args.hudi:
        from embulk_input_parquet_hadoop_spark.sources import hudi_meta
        if args.since_instant is not None:
            # same incremental contract as --iceberg --since-snapshot /
            # --delta --since-version: only brand-new file groups, an
            # empty diff flows through encode_path's append no-op
            args.append = True
            scan = hudi_meta.snapshot_scan_diff(
                args.input, args.since_instant, as_of=args.as_of)
        else:
            scan = hudi_meta.snapshot_scan(args.input, as_of=args.as_of)
        if args.partition:
            pf = dict(kv.split("=", 1) for kv in args.partition)
            scan = hudi_meta.filter_partitions(scan, pf)
        if scan.get("needs_merge"):
            # MERGE_ON_READ: materialize log-bearing file slices into
            # the staging tree (each slice on its own, idempotent md5
            # names — same protocol as --jsonl), then encode staged +
            # passthrough base files
            from embulk_input_parquet_hadoop_spark.sources import \
                hudi_log
            stg = args.staging or f"{args.output.rstrip('/')}/_staging"
            staged = hudi_log.stage_mor_slices(spark, scan, stg)
            input_files = staged["files"]
        else:
            input_files = scan["files"]
    elif args.jsonl or args.csv or args.avro or args.orc:
        from embulk_input_parquet_hadoop_spark.sources import jsonl_io
        stg = args.staging or f"{args.output.rstrip('/')}/_staging"
        stage = (jsonl_io.stage_jsonl if args.jsonl
                 else jsonl_io.stage_avro if args.avro
                 else jsonl_io.stage_orc if args.orc
                 else jsonl_io.stage_csv)
        staged = stage(
            spark, args.input, stg, schema_ddl=args.jsonl_schema,
            bad_file_threshold=args.bad_file_threshold)
        input_files = staged["files"]
    elif args.hive:
        from embulk_input_parquet_hadoop_spark.sources import table
        input_files, consts = table.hive_partitioned_files(args.input)
        if args.inject_partitions:
            plan = consts
    elif args.partition:
        raise SystemExit("--partition requires --iceberg, --delta or "
                         "--hudi")
    elif args.since_snapshot is not None:
        raise SystemExit("--since-snapshot requires --iceberg")
    elif args.since_version is not None or args.at_version is not None \
            or args.at_timestamp is not None:
        raise SystemExit("--since-version/--at-version/--at-timestamp "
                         "require --delta")
    if (args.as_of is not None or args.since_instant is not None) \
            and not args.hudi:
        raise SystemExit("--as-of/--since-instant require --hudi")
    if (args.ref is not None or args.as_of_timestamp is not None) \
            and not args.iceberg:
        raise SystemExit("--ref/--as-of-timestamp require --iceberg")
    if args.staging and not (args.jsonl or args.csv or args.avro
                             or args.orc or args.hudi):
        raise SystemExit("--staging requires --jsonl/--csv/--avro/"
                         "--orc/--hudi")
    if args.jsonl_schema and not (args.jsonl or args.csv or args.avro
                                  or args.orc):
        raise SystemExit("--jsonl-schema requires --jsonl/--csv/"
                         "--avro/--orc")
    if sum((args.iceberg, args.delta, args.hive, args.hudi,
            args.jsonl, args.csv, args.avro, args.orc)) > 1:
        raise SystemExit("--iceberg/--delta/--hive/--hudi/--jsonl/"
                         "--csv/--avro/--orc are mutually exclusive")
    if args.inject_partitions and not (args.delta or args.hive):
        raise SystemExit("--inject-partitions requires --delta or "
                         "--hive")
    if args.schema_mode is None:
        table_source = args.iceberg or args.delta or args.hudi or args.hive
        args.schema_mode = ("mixed" if table_source
                            and not args.cluster_partitions else "single")
    vacuum_result = None
    if args.vacuum:
        from embulk_input_parquet_hadoop_spark.plans import fsutil
        from embulk_input_parquet_hadoop_spark.plans import manifest as mf
        # scheme-aware existence check — a URI output (file:/, hdfs:/,
        # object store) must not silently skip the vacuum the user asked
        # for; vacuum itself walks any fsutil-supported filesystem
        if fsutil.isdir(args.output):
            vacuum_result = mf.vacuum(args.output)
    t0 = time.perf_counter()
    totals = pipeline.encode_path(
        spark, args.input, args.output, waves=args.waves,
        input_files=input_files,
        resume=args.resume, append=args.append,
        cluster_partitions=args.cluster_partitions,
        batch_rows=args.batch_rows,
        columns=args.columns.split(",") if args.columns else None,
        schema_mode=args.schema_mode,
        bad_file_threshold=args.bad_file_threshold,
        bad_record_threshold=args.bad_record_threshold, plan=plan)
    totals["total_wall_s"] = time.perf_counter() - t0
    if vacuum_result is not None:
        totals["vacuum"] = vacuum_result
    if totals["wall_s"]:
        totals["tokens_per_sec"] = totals["n_tokens"] / totals["wall_s"]
    if args.compact_manifest:
        from embulk_input_parquet_hadoop_spark.plans import manifest as mf
        # a legitimate zero-wave run (append no-op on an empty diff) has
        # nothing to compact — skip with a note instead of aborting the
        # totals report
        if mf.completed_waves(spark, args.output):
            totals["manifest_checkpoint"] = mf.compact_manifest(
                args.output)
        else:
            totals["manifest_checkpoint"] = None
    if args.relayout_columnar:
        from embulk_input_parquet_hadoop_spark.plans import columnar
        totals["columnar"] = columnar.relayout_columnar(
            spark, args.output, args.relayout_columnar)
    if args.verify_files:
        # each wave is replayed with the deletes, constants and renames
        # its manifest record says it was encoded with
        totals["verify"] = verify.verify_files(
            spark, args.output, batch_rows=args.batch_rows)
    elif args.verify:
        if args.iceberg or args.delta or args.hudi:
            # reading the whole table DIR as parquet would also pick up
            # historical snapshots / stale slices / replaced file groups
            # (and every MOR-deleted row) and false-fail a correct encode
            raise SystemExit(
                "--verify reads --input as one parquet tree, but a table-"
                "format directory also holds non-current data files "
                "(old snapshots, rewritten/replaced slices) and rows its "
                "deletes mask; use --verify-files, which verifies against "
                "the exact snapshot file list and masking recorded in the "
                "manifest")
        src = args.input
        if args.jsonl or args.csv:
            # the raw corpus is not parquet; the staged tree IS what was
            # encoded (and under --append both sides accumulate the same
            # md5-named files)
            src = stg
        totals["verify"] = verify.verify_path(spark, src, args.output)
    print(json.dumps(totals))
    spark.stop()
    ok = "verify" not in totals or totals["verify"]["ok"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
