#!/usr/bin/env python3
"""spark-submit entry: small-files compaction for the bucketed
results layout (``bucket=K/`` parquet partitions).

An append-heavy table (incremental curate runs, per-group runner
commits) accumulates many small parquet files per bucket; at scale
that turns every downstream scan into a listing + open storm and
starves the scheduler with tiny splits.
Compaction is the standard maintenance pass (Iceberg's
rewrite_data_files; this is the parquet-layout twin):

- plan DRIVER-SIDE from filesystem metadata only (one listing per
  bucket — operator-scale, no data read): a bucket needs work iff
  file_count > ceil(bucket_bytes / target) — i.e. strictly more
  files than the ideal layout needs;
- rewrite ONLY those buckets: read the bucket partition, coalesce to
  the ideal file count, dynamic-partition-overwrite just that
  ``bucket=K`` directory (the same idempotent re-commit discipline as
  pipeline/runner.py — a crash mid-rewrite leaves other buckets
  untouched and the job simply re-runs);
- rows are bit-identical before/after: compaction moves bytes, never
  values, and never re-buckets (the partition VALUE is the identity).

Lists through the storage layer (``ocr_spark.pipeline.storage``, the
Hadoop FileSystem API through the live JVM) so the same code paths
work on hdfs:///s3a:// in a real deployment, not just local disk.

Example:
  spark-submit --py-files dist/ocr_spark.zip jobs/compact.py \\
    --path /out/curated --target-mb 128
"""

from __future__ import annotations

import argparse
import json
import math


def plan_compaction(spark, path: str, target_bytes: int) -> list[dict]:
    """The buckets whose layout is worse than ideal, with their file
    count, bytes and ideal file count. Pure metadata; no data is read."""
    from ocr_spark.pipeline.storage import FileStore

    store = FileStore(path, spark)
    if not store.exists(path):
        raise SystemExit(f"no such table path: {path}")
    plans = []
    for name in store.list_dirs(path):
        if not name.startswith("bucket="):
            continue
        sizes = [n for f, n in store.list_files(f"{path}/{name}").items() if f.endswith(".parquet")]
        ideal = max(1, math.ceil(sum(sizes) / target_bytes))
        if len(sizes) > ideal:
            plans.append(
                {"bucket": name, "files": len(sizes), "bytes": sum(sizes), "ideal_files": ideal}
            )
    return plans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True, help="bucketed table root")
    ap.add_argument("--target-mb", type=int, default=128, help="target file size")
    ap.add_argument(
        "--dry-run", action="store_true", help="print the plan, rewrite nothing"
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ocr_spark.pipeline.session import get_spark

    spark = get_spark(args.master, app_name="ocr_spark_compact")
    target = args.target_mb * 1024 * 1024
    plans = plan_compaction(spark, args.path, target)

    rewritten = []
    for plan in [] if args.dry_run else plans:
        name = plan["bucket"]
        k = int(name.split("=", 1)[1])
        part = spark.read.parquet(f"{args.path}/{name}")
        # coalesce, not repartition: a narrow merge of splits with
        # no shuffle; the rows already belong to this bucket
        (
            part.coalesce(plan["ideal_files"])
            .selectExpr("*", f"CAST({k} AS INT) AS bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(args.path)
        )
        rewritten.append(name)

    print(
        json.dumps(
            {
                "job": "compact",
                "planned": plans,
                "rewritten": rewritten,
                "target_mb": args.target_mb,
                "dry_run": bool(args.dry_run),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
