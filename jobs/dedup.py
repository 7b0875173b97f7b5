#!/usr/bin/env python3
"""spark-submit entry: end-to-end corpus deduplication.

The standard training-data pipeline composition:
1. exact pass — hash-groupBy on content, keep the lowest doc_id per
   distinct text (one uniform-key shuffle);
2. near-dup pass — MinHash+LSH candidates over the exact survivors
   (band buckets capped at --max-bucket so boilerplate-identical
   buckets can't emit B^2 pairs), exact n-gram-Jaccard verification of
   ONLY the candidates, connected components, keep each cluster's
   representative;
3. write the keep-list (doc_id) + print a summary JSON line.

No stage scans an all-corpus pair space — this is the composition the
dedup module docstring prescribes for production corpora.

Recurring-ingest mode: with --against-index the input is treated as a
NEW BATCH and additionally near-dup-checked against a persisted
MinHash band index (corpus history is never rescanned); with
--save-index the index of the kept documents is written out — merged
with the loaded index when both flags are given — so tomorrow's batch
dedups against everything kept so far. At real scale the index lives
in an Iceberg table bucketed by (band, key); the parquet layout here
keeps the identical schema and join.

Examples:
  spark-submit --py-files dist/ocr_spark.zip jobs/dedup.py \\
    --input /data/documents.parquet --output /out/keep_list \\
    --tau 0.5 --max-bucket 1000 --save-index /out/index
  # next day's crawl:
  spark-submit ... jobs/dedup.py --input /data/day2.parquet \\
    --output /out/keep2 --against-index /out/index --save-index /out/index2
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--output", required=True, help="keep-list output dir")
    ap.add_argument("--tau", type=float, default=0.5, help="jaccard threshold")
    ap.add_argument(
        "--max-bucket",
        type=int,
        default=1000,
        help="drop LSH band buckets larger than this (boilerplate guard); 0 = no cap",
    )
    ap.add_argument(
        "--against-index",
        default=None,
        help="persisted MinHash band index dir; batch docs near-dupping "
        "an indexed doc are dropped before the in-batch near-dup pass",
    )
    ap.add_argument(
        "--save-index",
        default=None,
        help="write the band index of the kept docs here (merged with "
        "--against-index when both are given)",
    )
    ap.add_argument(
        "--min-match",
        type=int,
        default=None,
        help="signature components (of 16) that must agree to count as "
        "an index near-dup; default k//2 (estimated Jaccard >= 0.5)",
    )
    ap.add_argument(
        "--canonical-exact",
        action="store_true",
        help="exact pass groups on the canonicalized text (case/punct/"
        "whitespace-insensitive keys) instead of the raw bytes",
    )
    ap.add_argument(
        "--against-bloom",
        default=None,
        help="persisted bloom seen-set dir; batch docs whose exact text "
        "the filter may have seen are dropped BEFORE every other stage. "
        "One-sided: nothing previously inserted survives; novel docs "
        "are falsely dropped at the filter's FP rate (size --bloom-bits "
        "for the corpus) — the deliberate bloom tradeoff vs rescanning "
        "history",
    )
    ap.add_argument(
        "--save-bloom",
        default=None,
        help="write the bloom seen-set of the kept docs here (merged "
        "with --against-bloom when both are given)",
    )
    ap.add_argument(
        "--bloom-bits",
        type=int,
        default=20,
        help="log2 of the bloom filter size in bits (default 2^20); "
        "must match the loaded filter — the job validates and fails "
        "loudly on mismatch",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not 10 <= args.bloom_bits <= 40:
        ap.error("--bloom-bits must be in [10, 40]")

    from pyspark.sql import functions as F

    from ocr_spark.functions.dedup import (
        bloom_build,
        bloom_merge,
        bloom_novel,
        dedup_against_index,
        dup_clusters,
        exact_dedup,
        exact_dedup_canonical,
        merge_band_index,
        minhash_band_index,
    )
    from ocr_spark.pipeline.session import get_spark
    from ocr_spark.pipeline.storage import FileStore

    spark = get_spark(args.master, app_name="ocr_spark_dedup")

    def same_dir(a: str, b: str) -> bool:
        # compared as the file system names them: a scheme
        # ("file:///x" vs "/x"), relative paths, trailing slashes and
        # symlinks must not sneak past the guard
        return FileStore(a, spark).qualify(a) == FileStore(b, spark).qualify(b)

    # Spark reads lazily: overwriting the index dir while the merge
    # still scans it corrupts both. Write to a fresh dir and swap.
    if args.save_index and args.against_index and same_dir(args.save_index, args.against_index):
        ap.error("--save-index must differ from --against-index")
    if args.save_bloom and args.against_bloom and same_dir(args.save_bloom, args.against_bloom):
        ap.error("--save-bloom must differ from --against-bloom")

    # doc_id rides through AS-IS: the operator layer is id-type-agnostic
    # (int or string 'sha1:...' both work). The old cast("long") here
    # NULLed every string id and silently emptied the keep-list.
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    n_in = docs.count()

    # 0.5 bloom gate: the cheapest stage runs first — a compressed
    # seen-set lookup (k broadcast joins) before any shuffle
    m_bits, bloom_k = 1 << args.bloom_bits, 4
    corpus_bloom = None
    n_bloom = n_in
    if args.against_bloom:
        loaded = spark.read.parquet(args.against_bloom)
        meta = loaded.select("m_bits", "k").first()
        # meta is None => a legitimately EMPTY filter (e.g. day 1 kept
        # only NULL-text docs): nothing was inserted, nothing can flag
        # seen — the size guard only applies when rows exist
        if meta is not None and (meta.m_bits, meta.k) != (m_bits, bloom_k):
            raise SystemExit(
                f"--against-bloom was built with (m_bits={meta.m_bits}, "
                f"k={meta.k}), job configured "
                f"(m_bits={m_bits}, k={bloom_k}) — verdicts would be garbage"
            )
        corpus_bloom = loaded.select("word_idx", "word")
        docs = (
            bloom_novel(docs, corpus_bloom, m_bits=m_bits, k=bloom_k)
            .where(~F.col("maybe_seen"))
            .drop("maybe_seen")
            .persist()
        )
        n_bloom = docs.count()

    # 1. exact: keep rep_doc_id per distinct text. Survivors feed the
    # count, the near-dup pass AND the final anti-join — persist so the
    # exact-dedup shuffle runs once, not three times.
    exact = exact_dedup_canonical if args.canonical_exact else exact_dedup
    reps = exact(docs).select(F.col("rep_doc_id").alias("doc_id"))
    survivors = docs.join(reps, "doc_id").persist()
    n_exact = survivors.count()
    if args.against_bloom:
        # survivors is materialized; the gated frame's cache (read on
        # both sides of the join above) is no longer needed
        docs.unpersist()

    # 1.5 incremental: drop batch docs that near-dup corpus history
    # (one (band, key) equi-join against the persisted index; history
    # text is never read)
    corpus_index = None
    n_incremental = n_exact
    if args.against_index:
        corpus_index = spark.read.parquet(args.against_index)
        hits = dedup_against_index(
            survivors, corpus_index, min_match=args.min_match
        ).select(F.col("new_doc_id").alias("doc_id")).distinct()
        survivors_new = survivors.join(hits, "doc_id", "left_anti").persist()
        n_incremental = survivors_new.count()
        # only unpersist the parent AFTER the child is materialized —
        # survivors_new's lineage reads the parent on both join sides,
        # and dropping the cache first would recompute the exact-dedup
        # shuffle from the source twice
        survivors.unpersist()
        survivors = survivors_new

    # 2. near-dup: drop cluster members that are not the representative
    clusters = dup_clusters(
        survivors, tau=args.tau, max_bucket=args.max_bucket or None
    )
    losers = clusters.where(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    keep = survivors.join(losers, "doc_id", "left_anti").select("doc_id")
    n_keep = keep.count()

    keep.write.mode("overwrite").parquet(args.output)

    if args.save_index:
        kept_docs = survivors.join(keep, "doc_id")
        new_index = minhash_band_index(kept_docs)
        if corpus_index is not None:
            new_index = merge_band_index(corpus_index, new_index)
        new_index.write.mode("overwrite").parquet(args.save_index)

    if args.save_bloom:
        kept_docs = survivors.join(keep, "doc_id")
        new_bloom = bloom_build(kept_docs, m_bits=m_bits, k=bloom_k)
        if corpus_bloom is not None:
            new_bloom = bloom_merge(corpus_bloom, new_bloom)
        new_bloom.withColumn("m_bits", F.lit(m_bits)).withColumn(
            "k", F.lit(bloom_k)
        ).write.mode("overwrite").parquet(args.save_bloom)

    survivors.unpersist()
    print(
        json.dumps(
            {
                "n_input": n_in,
                "n_after_exact": n_exact,
                "n_keep": n_keep,
                "bloom_dups_removed": n_in - n_bloom,
                "exact_dups_removed": n_bloom - n_exact,
                "index_dups_removed": n_exact - n_incremental,
                "near_dups_removed": n_incremental - n_keep,
                "tau": args.tau,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
