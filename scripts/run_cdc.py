#!/usr/bin/env python
"""spark-submit entry point for the CDC engine.

Ship the package alongside the job and point it at a change-stream
directory and a table location:

    python -m zipfile -c /tmp/engine.zip nvimagecodec_spark/
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        scripts/run_cdc.py \
        --table /lake/transcripts --source /ingest/changes \
        --create-table --bucket-count 256 --source-id binlog-1

Modes:
  --stream        Structured Streaming tail (foreachBatch, availableNow by
                  default so the job drains and exits; --follow keeps it
                  running until killed).
  --incremental   self-paced LSN-sliced epochs with the adaptive rate cap.

Exactly-once either way: commit-tagged snapshots make replays no-ops, and
the checkpoint / lineage log carry resume state. Exit code 0 only after a
clean drain; rerunning after a crash resumes from the last commit.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC apply: change stream -> lake table")
    ap.add_argument("--table", required=True, help="table location (created with --create-table)")
    ap.add_argument("--source", required=True, help="change-stream directory (JSON lines / Debezium)")
    ap.add_argument("--source-id", default="cdc", help="idempotence scope for commit tags")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir (default: <table>/_checkpoints)")
    ap.add_argument("--create-table", action="store_true", help="create the transcript table if absent")
    ap.add_argument("--bucket-count", type=int, default=64)
    ap.add_argument("--incremental", action="store_true", help="LSN-sliced loop instead of streaming")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--max-epochs", type=int, default=10_000)
    ap.add_argument(
        "--shuffle-partitions", dest="sql_partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions for the session",
    )
    ap.add_argument(
        "--mor",
        action="store_true",
        help="merge-on-read epochs: delta-layer writes (O(batch), no base "
        "rewrite) with bounded fold-back — the scattered-small-update regime",
    )
    ap.add_argument("--mor-compact-max-files", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import types as T

    builder = (
        SparkSession.builder.appName(f"cdc-apply-{args.source_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.sql_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.sql_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from nvimagecodec_spark.lakehouse.table import LakeTable
    from nvimagecodec_spark.sources.changelog import ChangeStream
    from nvimagecodec_spark.streaming.engine import CdcEngine

    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    elif args.create_table:
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("role", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("tool", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        table = LakeTable.create(
            spark, args.table, schema, ["conv_id", "turn_idx"], bucket_count=args.bucket_count
        )
    else:
        print(f"table {args.table} does not exist (pass --create-table)", file=sys.stderr)
        return 2

    from nvimagecodec_spark.config import EngineConfig

    config = EngineConfig(
        mor_deltas=args.mor, delta_compact_max_files=args.mor_compact_max_files
    )
    engine = CdcEngine(
        spark, table, source_id=args.source_id, checkpoint_dir=args.checkpoint,
        config=config,
    )
    if args.incremental:
        epochs = engine.run_incremental(ChangeStream(spark, args.source), max_epochs=args.max_epochs)
    else:
        epochs = engine.run_stream(
            args.source,
            max_files_per_trigger=args.max_files_per_trigger,
            max_epochs=args.max_epochs,
        )
    print(json.dumps({"epochs": epochs, **engine.metrics()}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
