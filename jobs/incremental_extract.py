#!/usr/bin/env python3
"""spark-submit entry: daily INCREMENTAL extraction over a huge
corpus — only new/changed docs reach the kernel; unchanged results
carry forward from the previous published table; deleted docs drop.

The daily-ingest loop at 10^12 docs:

  day 0:  incremental_extract.py --input day0_spans --output out0 \\
            --state state        # no prior state: full extraction
  day N:  incremental_extract.py --input dayN_spans --output outN \\
            --state state --prev out{N-1}

State = one narrow (doc_id, input_hash) parquet (36 B/doc — a
trillion-doc corpus's state is ~40 TB of 100 TB+ span data never
rescanned). The published output always equals a full re-extraction
of today's corpus (the operator-level invariant, oracle-pinned by the
``incremental_extract`` contract query); only the changed fraction
pays kernel compute. State is published atomically AFTER the output
commit succeeds (crash between the two => the next run re-extracts
the delta again — idempotent, never wrong).

Upgrade note: ``doc_input_hash`` breaks offset ties by the serialized
span string (so the Spark and DuckDB twins agree on docs with
duplicate or NULL offsets). State published by a build without that
tie-break hashes those docs differently, so the first run after the
upgrade recomputes them once — an elevated ``n_recomputed_docs`` on
that run is expected, not an ingest anomaly. Output stays correct and
the republished state is stable from then on.

Reference analog: none (the reference re-parses every file per run,
/root/reference/pipeline.py:533); this is the beyond-reference daily
production shape (SURVEY.md §7.2).
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="today's span-table parquet")
    ap.add_argument(
        "--synthesize", action="store_true",
        help="input is a flat documents table; synthesize spans (sandbox)",
    )
    ap.add_argument("--output", required=True, help="extraction output dir")
    ap.add_argument(
        "--state", required=True,
        help="hash-state dir; read if present, atomically republished",
    )
    ap.add_argument(
        "--prev", default=None,
        help="previous run's output table (required when state exists)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.pipeline.extract import (
        doc_input_hash,
        extract_main_content,
        incremental_extract,
    )
    from ocr_spark.pipeline.session import get_spark
    from ocr_spark.pipeline.storage import FileStore, publish_state, recover_state
    from ocr_spark.sources.synth import synthesize_spans

    spark = get_spark(args.master, app_name="ocr_spark_incremental_extract")
    docs = spark.read.parquet(args.input)
    if args.synthesize:
        docs = synthesize_spans(docs)

    hashes_path = args.state.rstrip("/") + "/hashes"
    store = FileStore(hashes_path, spark)
    jpath, jold = store.path(hashes_path), store.path(hashes_path + "._old")
    has_state = recover_state(store.fs, jpath, jold)

    if has_state:
        if args.prev is None:
            raise SystemExit(
                "--prev is required when state exists: carried-forward "
                "rows come from the previous output table"
            )
        prev_hashes = spark.read.parquet(hashes_path)
        prev_out = spark.read.parquet(args.prev).select(
            "doc_id", "kind", "text", "media_ref", "offset"
        )
        out = incremental_extract(docs, prev_hashes, prev_out)
    else:
        out = extract_main_content(docs).withColumn("recomputed", F.lit(1))
    out.write.mode("overwrite").parquet(args.output)

    # counts from the COMMITTED table (one aggregate over one
    # read-back; counting `out` would re-execute the kernel), then
    # publish today's state atomically: write beside, rename over — a
    # crash before the rename leaves yesterday's state, and the next
    # run re-extracts the same delta (idempotent)
    counts = (
        spark.read.parquet(args.output)
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct(
                F.when(F.col("recomputed") == 1, F.col("doc_id"))
            ).alias("n_recomputed"),
            F.count(F.lit(1)).alias("n_span_rows"),
        )
        .first()
    )
    n_docs, n_recomputed = counts.n_docs, counts.n_recomputed
    tmp_path = hashes_path + "._tmp"
    doc_input_hash(docs).write.mode("overwrite").parquet(tmp_path)
    publish_state(store.fs, store.path(tmp_path), jpath, jold)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_recomputed_docs": n_recomputed,
                "n_carried_docs": n_docs - n_recomputed,
                "had_state": bool(has_state),
                "n_span_rows": counts.n_span_rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
