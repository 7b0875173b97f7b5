#!/usr/bin/env python3
"""The reference CLI's entry-point shape (/root/reference/cli.py:24-86
-> pipeline.process_directory, /root/reference/pipeline.py:479-564),
re-expressed for the cluster:

  scan input tree (glob filter) -> extraction -> validation summary ->
  incremental CSV table + JSON envelope + printed summary stats.

Example:
  spark-submit --py-files dist/ocr_spark.zip jobs/batch_cli.py \\
    --input /data/docs --glob '*.parquet' --output /out/run1 \\
    --synthesize
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="input root (parquet tree)")
    ap.add_argument("--glob", default=None, help="file filter, e.g. '*.parquet'")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument(
        "--synthesize", action="store_true",
        help="input is a flat documents table; derive the span table",
    )
    ap.add_argument("--append", action="store_true", help="append to existing CSV")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.pipeline.extract import extract_documents_with_metrics, metrics_of
    from ocr_spark.pipeline.session import get_spark
    from ocr_spark.pipeline.sinks import write_csv_incremental, write_json_envelope
    from ocr_spark.sources.read import read_file_tree
    from ocr_spark.sources.synth import synthesize_spans

    spark = get_spark(args.master, app_name="ocr_spark_batch")
    docs = read_file_tree(spark, args.input, glob=args.glob)
    if args.synthesize:
        docs = synthesize_spans(docs)

    # ONE kernel pass: the nested output carries the spans and the
    # per-doc metrics; the span table and every metrics sink below
    # read it from the cache
    nested = extract_documents_with_metrics(docs).persist()
    metrics = metrics_of(nested)

    # per-doc flat results row (the CSV the reference writes per file)
    per_doc = metrics.select(
        "doc_id",
        F.col("n_spans_in").cast("string"),
        F.col("n_spans_out").cast("string"),
        F.col("parse_failed").cast("string"),
        F.col("warning"),
    )
    write_csv_incremental(per_doc, f"{args.output}/results_csv", append=args.append)
    content = nested.select("doc_id", F.inline("spans"))
    content.write.mode("append" if args.append else "overwrite").parquet(
        f"{args.output}/spans"
    )

    # summary stats (cli.py:62-68 analog)
    s = metrics.agg(
        F.count("*").alias("total"),
        F.sum("parse_failed").alias("failures"),
        F.sum("n_spans_in").alias("spans_in"),
        F.sum("n_spans_out").alias("spans_out"),
    ).collect()[0]
    # sums over zero rows come back NULL -> coalesce so an empty tree
    # prints a zero-count envelope instead of dying on int(None)
    meta = {
        "schema_version": "v1",
        "engine": "ocr_spark",
        "total_files": int(s.total),
        "parse_failures": int(s.failures or 0),
        "n_spans_in": int(s.spans_in or 0),
        "n_spans_out": int(s.spans_out or 0),
        "strip_ratio": round(1.0 - (s.spans_out or 0) / max(s.spans_in or 0, 1), 4),
    }
    write_json_envelope(
        metrics.limit(1000), meta, f"{args.output}/parsing_results.json"
    )
    print(json.dumps(meta))
    nested.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
