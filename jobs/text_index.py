#!/usr/bin/env python3
"""spark-submit entry: build and query a persisted inverted text index.

The stored-artifact shape of the repo's retrieval family (bm25_topk /
phrase_search made durable): the scan-path operators re-tokenize the
corpus per query, which is the right correctness baseline and the
wrong query path at 10^12 documents — a query must read only the
probed term buckets of a stored index.

build mode (--build):
  one corpus pass -> postings (bucket, term, doc_id, tf, positions,
  dl) written partitionBy(bucket) where bucket = pmod(md5_long(term),
  --buckets), plus a 1-row stats table (n_docs, sum_dl, build params).

query modes (--bm25 / --phrase):
  the probe-bucket set is computed driver-side from the query terms
  (a handful of integers), applied as a partition filter, and the
  scan reads |query buckets| / n_buckets of the index files — never
  the corpus. BM25 scoring and phrase matching share their expression
  trees with the scan-path operators, so stored-index answers equal
  bm25_topk / phrase_search on the indexed corpus row-for-row
  (pinned by tests/test_text_index.py).

Examples:
  spark-submit --py-files dist/ocr_spark.zip jobs/text_index.py \\
    --build --input /data/documents.parquet --index /out/tidx
  spark-submit ... jobs/text_index.py \\
    --bm25 "spark window merge" --index /out/tidx --output /out/hits
  spark-submit ... jobs/text_index.py \\
    --phrase "fast table" --index /out/tidx --output /out/hits
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--build", action="store_true")
    mode.add_argument(
        "--update",
        action="store_true",
        help="append a batch of NEW docs to an existing index "
        "(postings append + additive stats; see update_text_index)",
    )
    mode.add_argument("--bm25", help="space-separated bag-of-terms query")
    mode.add_argument("--phrase", help="space-separated exact phrase query")
    ap.add_argument("--input", help="documents parquet (doc_id, text) for --build")
    ap.add_argument("--index", required=True, help="index dir (bucket-partitioned)")
    ap.add_argument("--output", help="query-results output dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--min-term-len", type=int, default=2)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if (args.build or args.update) and not args.input:
        ap.error("--build/--update require --input")
    if (args.bm25 or args.phrase) and not args.output:
        ap.error("query modes require --output")
    if args.buckets < 1:
        ap.error("--buckets must be >= 1")

    from pyspark.sql import functions as F

    from ocr_spark.functions.tfidf import (
        bm25_from_index,
        phrase_from_index,
        update_text_index,
        write_text_index,
    )
    from ocr_spark.pipeline.session import get_spark

    spark = get_spark(args.master or "local[*]", app_name="ocr_spark_text_index")

    if args.build or args.update:
        if args.build:
            write_text_index(
                spark.read.parquet(args.input),
                args.index,
                min_term_len=args.min_term_len,
                n_buckets=args.buckets,
            )
        else:
            update_text_index(
                spark, args.index, spark.read.parquet(args.input)
            )
        # ONE aggregate pass over the written postings for both counts
        agg = (
            spark.read.parquet(f"{args.index}/postings")
            .agg(
                F.count(F.lit(1)).alias("n_postings"),
                F.countDistinct("term").alias("n_terms"),
            )
            .collect()[0]
        )
        st = spark.read.parquet(f"{args.index}/stats").collect()[0]
        summary = {
            "mode": "build" if args.build else "update",
            "n_postings": agg["n_postings"],
            "n_terms": agg["n_terms"],
            "n_docs": int(st["n_docs"]),
            "n_buckets": int(st["n_buckets"]),
        }
    else:
        if args.bm25:
            hits = bm25_from_index(
                spark, args.index, args.bm25.split(), k=args.k
            )
            qmode = "bm25"
        else:
            hits = phrase_from_index(spark, args.index, args.phrase.split())
            qmode = "phrase"
        hits.write.mode("overwrite").parquet(args.output)
        summary = {
            "mode": qmode,
            "n_results": spark.read.parquet(args.output).count(),
        }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
