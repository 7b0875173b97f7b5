#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline (north rule:
``spark-submit --py-files dist/ocr_spark.zip jobs/extract.py ...``).

Reads an interleaved span table (or a flat documents table with
--synthesize), runs the checkpoint-resumable bucketed extraction, and
writes partitioned parquet + per-bucket lineage. Each commit group
reads the input with its bucket predicate pushed into the scan (below
--synthesize), so it derives and extracts only its own docs; no copy
of the input is written. Re-invoking with the same --run-id resumes:
only uncommitted buckets are processed.

This job extracts and nothing else. Shaping the span table before
extraction (integrity quarantine, structural gate, template cap,
media dedup, PII scrub) and the span-table sidecars (structure,
rendered text, multimodal chunks and packs) live in jobs/curate.py.

Example:
  spark-submit --driver-memory 16g --py-files dist/ocr_spark.zip \\
    jobs/extract.py --input /data/documents.parquet --synthesize \\
    --output /out/extracted --run-id run-001 --buckets 64

(--driver-memory matters in LOCAL mode, where executors share the
driver JVM: the session factory's spark.driver.memory setting cannot
resize a JVM spark-submit already started, and the 1 g default OOMs
on multi-million-doc inputs. On a real cluster size executor memory
instead.)
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="input parquet path")
    ap.add_argument("--output", required=True, help="output table dir")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--buckets-per-commit", type=int, default=4)
    ap.add_argument(
        "--synthesize",
        action="store_true",
        help="input is a flat documents table; derive the span table",
    )
    ap.add_argument(
        "--size-weighted-partitions",
        type=int,
        default=0,
        help="pre-spread docs across this many hash partitions, heaviest "
        "docs first, before the kernel (skew guard for giant-doc tails); "
        "0 = off",
    )
    ap.add_argument(
        "--lineage-checksums",
        action="store_true",
        help="record an order-insensitive content checksum per bucket "
        "in the lineage, then byte-audit the finished table against "
        "those records (verify_output; mismatched buckets fail the job "
        "and are listed in the summary). Costs a hash of each row as it "
        "is written plus the one audit scan of verify_output, no extra "
        "shuffle",
    )
    ap.add_argument("--master", default=None, help="override master URL")
    args = ap.parse_args()

    from ocr_spark.pipeline.runner import ExtractionRun, RunConfig
    from ocr_spark.pipeline.session import get_spark
    from ocr_spark.sources.synth import synthesize_spans

    spark = get_spark(args.master, app_name=f"ocr_spark_extract_{args.run_id}")
    docs = spark.read.parquet(args.input)
    if args.synthesize:
        docs = synthesize_spans(docs)
    run = ExtractionRun(
        spark,
        docs,
        args.output,
        RunConfig(
            run_id=args.run_id,
            n_buckets=args.buckets,
            buckets_per_commit=args.buckets_per_commit,
            size_weighted_partitions=args.size_weighted_partitions or None,
            checksum_output=args.lineage_checksums,
            # pin how the input was derived: resuming a half-done run
            # over flat docs as if they were spans (or the reverse)
            # would mix two inputs in one table
            input_config={"synthesize": bool(args.synthesize)},
        ),
    )
    summary = run.run()
    # the byte-audit runs LAST so a failure still prints the full
    # accounting (same summary schema on success and failure)
    if args.lineage_checksums:
        bad = run.verify_output()
        summary["checksum_mismatched_buckets"] = bad
        if bad:
            print(json.dumps(summary))
            raise SystemExit(
                f"lineage checksum audit FAILED for buckets {bad}"
            )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
