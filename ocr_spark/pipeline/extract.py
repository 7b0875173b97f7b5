"""DataFrame-level extraction orchestration.

Thin and declarative: the semantics are in ocr_spark.kernel.extract
(the pandas executable spec, used as the test oracle) and its Arrow
twin ocr_spark.kernel.arrow_extract (the one execution path); this
module owns the *distribution* concerns — partitioning, skew
handling, Arrow batching — per SURVEY.md §4.3.

Skew strategy (docs are atomic; a document may never straddle batches
or the span order invariant dies):
- the kernel runs on the input's own partitioning (mapInArrow adds no
  shuffle); callers that need a different layout partition first —
  the runner's bucket groups, or ``weight_partition``, which hashes
  doc_id into P >> cores partitions (giant docs, the 1% 2k-20k-span
  tail of FIXTURES.md, land alone in small partitions) and sorts docs
  heaviest-first within each, so the biggest docs start first
  (shorter straggler tail);
- Arrow batch rows are capped (session.ARROW_MAX_RECORDS) so one batch
  holds a bounded number of docs, and each batch is re-sliced to at
  most MAX_SPANS_PER_KERNEL_CALL spans per kernel call.

What a Python task costs: on this stack the fixed per-task set-up of
a Python worker, not the Arrow transfer, dominates the boundary. A
reused worker re-parses every zip archive on its path (pyspark.zip,
the py4j zip, the spark-core jar, a --py-files zip) and collects the
whole module heap between tasks: 0.2-0.5 s per task, more than the
kernel and the transfer of a typical task together. The UDF body in
_run_kernel calls session.settle_python_worker() first, which removes
both costs after a worker's first task.

At 100 TB the same plan holds: the scan is parquet/Iceberg with doc_id
bucketing, extraction itself adds no shuffle (any repartition is the
caller's), and the UDF is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.kernel import arrow_extract as ak
from ocr_spark.kernel.extract import (
    DEFAULT_CONFIG,
    PARITY_CONFIG,
    WARN_EMPTY,
    WARN_MALFORMED,
    ExtractConfig,
)
from ocr_spark.pipeline.session import settle_python_worker
from ocr_spark.schema import (
    ANNOTATED_SPAN_SCHEMA,
    DOC_WITH_METRICS_SCHEMA,
    KIND_ERROR,
)


def weight_partition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Size-aware distribution: docs sorted heaviest-first inside hash
    partitions, so stragglers start early (LPT-style heuristic without
    a global sort — no single-task window)."""
    w = df.withColumn("_w", F.size("spans"))
    out = w.repartition(
        num_partitions, F.pmod(F.hash("doc_id"), F.lit(num_partitions))
    ).sortWithinPartitions(F.desc("_w"))
    return out.drop("_w")


# Memory bound for one kernel invocation: Arrow caps batch ROWS
# (maxRecordsPerBatch), but a row is a whole document — a batch of
# 512 giant docs (20k spans each) would still be ~10M spans. Batches
# are re-sliced so one kernel call sees at most this many spans
# (slicing at row boundaries keeps docs atomic; zero-copy).
MAX_SPANS_PER_KERNEL_CALL = 262_144


def _subslice_batches(batches, max_spans: int):
    """Yield zero-copy row-slices of each RecordBatch such that every
    slice holds <= max_spans total spans (single giant docs still go
    through alone — the kernel is linear in spans, so one doc is the
    floor). Greedy: a slice takes docs while its span total stays <=
    max_spans; one Python step per emitted slice, none per doc."""
    import numpy as np
    import pyarrow.compute as pc

    for b in batches:
        if b.num_rows == 0:
            continue
        lens = pc.fill_null(pc.list_value_length(b.column("spans")), 0).to_numpy(
            zero_copy_only=False
        )
        if lens.sum() <= max_spans:
            yield b
            continue
        # ends[k] = spans in docs [0, k); a slice from `start` ends
        # before the first doc that would push it past max_spans
        ends = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
        start = 0
        while start < b.num_rows:
            over = int(np.searchsorted(ends, ends[start] + max_spans, side="right"))
            stop = max(over - 1, start + 1)
            yield b.slice(start, stop - start)
            start = stop


def _run_kernel(df: DataFrame, arrow_fn, schema, cfg: ExtractConfig) -> DataFrame:
    def apply(batches):
        settle_python_worker()
        for b in _subslice_batches(batches, MAX_SPANS_PER_KERNEL_CALL):
            yield arrow_fn(b, cfg)

    return df.mapInArrow(apply, schema=schema)


def extract_spans(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Main-content extraction, flat output (doc_id, kind, text,
    media_ref, offset, kept, block_id, link_density).

    Input: (doc_id string, spans array<struct>). Error rows surface as
    kind='__error__' (E1/E2/E4: errors become data).
    """
    return _run_kernel(df, ak.extract_flat_batch, ANNOTATED_SPAN_SCHEMA, cfg)


def extract_main_content(
    df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Boilerplate-stripped span stream, canonical flat shape
    (doc_id, kind, text, media_ref, offset) — error rows excluded."""
    out = extract_spans(df, cfg)
    return out.where(F.col("kind") != KIND_ERROR).select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )


def classify_spans(df: DataFrame) -> DataFrame:
    """Parity mode: every span kept and annotated; order preserved.

    This is the path the north-rule fixtures check: output
    (kind, text, media_ref, offset) per doc == input sequence.
    """
    return extract_spans(df, PARITY_CONFIG)


def extract_documents_with_metrics(
    df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Nested output + per-doc metrics from a single kernel execution:
    (doc_id, spans, n_spans_in, n_spans_out, parse_failed). ``spans``
    matches the input contract (array<struct<kind,text,media_ref,
    offset>>); error/empty docs come back with spans=[]. The
    checkpointed runner's commit shape — output and lineage metrics
    cost ONE pass over the corpus."""
    return _run_kernel(df, ak.extract_nested_metrics_batch, DOC_WITH_METRICS_SCHEMA, cfg)


def extraction_metrics(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-doc metrics (A4): n_spans_in/out, parse_failed, warning —
    one row per input row, projected from
    :func:`extract_documents_with_metrics`."""
    return metrics_of(extract_documents_with_metrics(df, cfg))


def metrics_of(nested: DataFrame) -> DataFrame:
    """(doc_id, n_spans_in, n_spans_out, parse_failed, warning) of an
    :func:`extract_documents_with_metrics` frame. ``warning`` follows
    from the counts row by row: the kernel fails a row iff it has no
    spans (empty) or its doc is malformed, so ``n_spans_in = 0`` picks
    the empty warning, even on a malformed doc's empty row."""
    warning = (
        F.when(F.col("n_spans_in") == 0, F.lit(WARN_EMPTY))
        .when(F.col("parse_failed") == 1, F.lit(WARN_MALFORMED))
        .otherwise(F.lit(""))
    )
    return nested.select(
        "doc_id", "n_spans_in", "n_spans_out", "parse_failed", warning.alias("warning")
    )


# ---------------------------------------------------------------------------
# incremental extraction (daily-crawl shape): re-run the kernel ONLY on
# docs whose raw span content changed; carry prior results forward
# ---------------------------------------------------------------------------

# canonical per-span serialization separators (explicit chars, never
# built with Spark SQL chr() — the ascii-modulo-256 gotcha)
_HASH_FS = "\x1e"  # field separator inside one span
_HASH_RS = "\x1f"  # span separator
_HASH_NULL = "\x00"  # NULL sentinel (distinct from empty string)


def doc_input_hash(df: DataFrame) -> DataFrame:
    """(doc_id, input_hash): md5 over the canonical serialization of a
    doc's raw spans in offset order — the change-detection key for
    incremental extraction. Pure scan-stage exprs (array_sort +
    transform + array_join + md5): 36 B/row output, no shuffle, so the
    daily hash pass costs one scan of the span table.

    Canonical form: spans sorted by offset; per span
    ``kind\\x1etext\\x1emedia_ref\\x1eoffset`` (NULL fields -> \\x00,
    distinct from ''), spans joined by \\x1f; a NULL spans array
    hashes as the empty string (error-row docs still get a stable
    key)."""
    # NULL offsets (contract-impossible, but cheap to close): coalesce
    # to -1 BEFORE sorting/serializing — concat_ws drops a trailing
    # NULL while DuckDB's concat keeps its separator, and a NULL in
    # the sort comparator would order unstably vs ORDER BY.
    #
    # Sort key is (offset, full serialized span string), not offset
    # alone: on offset TIES (two -1-coalesced NULLs, duplicate
    # offsets) a single-key sort is stable in Spark's array_sort but
    # unspecified in DuckDB's string_agg ORDER BY, so the twin hashes
    # could diverge. The serialized string is a total secondary key
    # that both engines compare byte-identically (Spark UTF8String and
    # DuckDB default collation are both binary). Built as
    # struct(o, s): array_sort's default struct ordering is
    # field-by-field, so no lambda comparator is needed.
    keyed = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            F.coalesce(s["offset"], F.lit(-1)).alias("o"),
            F.concat_ws(
                _HASH_FS,
                F.coalesce(s["kind"], F.lit(_HASH_NULL)),
                F.coalesce(s["text"], F.lit(_HASH_NULL)),
                F.coalesce(s["media_ref"], F.lit(_HASH_NULL)),
                F.coalesce(s["offset"], F.lit(-1)).cast("string"),
            ).alias("s"),
        ),
    )
    serial = F.array_join(
        F.transform(F.array_sort(keyed), lambda x: x["s"]),
        _HASH_RS,
    )
    return df.select("doc_id", F.md5(F.coalesce(serial, F.lit(""))).alias("input_hash"))


def doc_input_hash_sql(spans_sql: str) -> str:
    """DuckDB twin of :func:`doc_input_hash` over a FLAT span SELECT
    (doc_id, kind, text, media_ref, "offset") — same serialization,
    same order (offset, then the serialized span string as the
    tie-break, matching the Spark side's (o, s) struct sort), same
    sentinels."""
    span_str = (
        "concat(coalesce(kind, chr(0)), chr(30), "
        "coalesce(text, chr(0)), chr(30), "
        "coalesce(media_ref, chr(0)), chr(30), "
        'CAST(coalesce("offset", -1) AS VARCHAR))'
    )
    return f"""
      SELECT doc_id, md5(coalesce(string_agg(
               {span_str},
               chr(31) ORDER BY coalesce("offset", -1), {span_str}), ''))
               AS input_hash
      FROM ({spans_sql}) GROUP BY doc_id
    """


def incremental_extract(
    df: DataFrame,
    prev_hashes: DataFrame,
    prev_extracted: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Daily-ingest extraction over a 10^12-doc corpus: run the kernel
    only on NEW or CHANGED docs (content hash differs from the stored
    ``prev_hashes`` state), carry the stored ``prev_extracted`` span
    rows forward for unchanged docs, and drop docs absent from today's
    corpus. Output = extract_main_content(today's corpus) exactly
    (pinned by the contract twin), plus ``recomputed`` (1 = the kernel
    ran for this doc today) for lineage/cost accounting.

    Scale shape (the incremental-dedup discipline): change detection
    is a narrow (doc_id, 32-char hash) frame — localCheckpoint'ed once
    (it feeds two consumers; recomputing it would re-scan the span
    table) — LEFT-joined against yesterday's equally narrow state;
    the heavy span table is then LEFT SEMI pruned to the changed ids
    before the kernel runs, and yesterday's results are LEFT SEMI
    pruned to the unchanged ids before the union. Only the changed
    fraction of the crawl ever reaches the kernel or the wire; at a
    typical daily change rate that is orders of magnitude less compute
    than a full re-extraction."""
    cur = doc_input_hash(df).localCheckpoint(eager=False)
    status = cur.join(
        prev_hashes.select(
            "doc_id", F.col("input_hash").alias("_prev_hash")
        ),
        "doc_id",
        "left",
    )
    changed_ids = status.where(
        F.col("_prev_hash").isNull()
        | (F.col("_prev_hash") != F.col("input_hash"))
    ).select("doc_id")
    unchanged_ids = status.where(
        F.col("_prev_hash") == F.col("input_hash")
    ).select("doc_id")
    fresh = extract_main_content(
        df.join(changed_ids, "doc_id", "left_semi"), cfg
    ).withColumn("recomputed", F.lit(1))
    carried = prev_extracted.select(
        "doc_id", "kind", "text", "media_ref", "offset"
    ).join(unchanged_ids, "doc_id", "left_semi").withColumn(
        "recomputed", F.lit(0)
    )
    return fresh.unionByName(carried)
