"""Structured Streaming surfaces.

1. ``stream_extract`` — incremental extraction: new document files
   landing in a directory are picked up, run through the same Arrow
   kernel (mapInArrow is stateless, so it composes with streaming),
   and appended to a parquet sink exactly-once via the stream
   checkpoint. This is the production-shaped version of the
   reference's incremental split-job protocol
   (/root/reference/webapp/jobs.py:139-283): the stream checkpoint
   replaces the hand-rolled cursor, and the sink commit log replaces
   finalize-under-lock.

2. ``stream_event_counts`` — watermarked tumbling-window aggregation
   over the events table (event-time, late-data tolerant): the
   standard streaming-agg shape for run-rate metrics dashboards.

Both run with ``availableNow`` in tests (drain-everything batches);
on a cluster the same code runs continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.kernel.extract import DEFAULT_CONFIG, ExtractConfig
from ocr_spark.pipeline.extract import extract_documents
from ocr_spark.pipeline.sinks import bucket_col
from ocr_spark.schema import DOC_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    n_buckets: int | None = None,
):
    """Start (and for availableNow: drain) the incremental extraction
    stream. Returns the StreamingQuery.

    With ``n_buckets`` the sink lands in the SAME ``bucket=K/`` layout
    the batch runner writes (``sinks.bucket_col``), so
    downstream per-doc joins and partition pruning work identically
    whether a table was built by the batch runner or the stream;
    exactly-once still comes from the stream's sink commit log (append
    across micro-batches — buckets accumulate files, they are not
    overwritten)."""
    src = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    out = extract_documents(src, cfg)
    writer = out.writeStream
    if n_buckets:
        out = out.withColumn("bucket", bucket_col("doc_id", n_buckets))
        writer = out.writeStream.partitionBy("bucket")
    writer = (
        writer.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count/sum per event_type with a watermark —
    works identically on a batch or streaming events DataFrame."""
    # event-time watermarks need TIMESTAMP (not NTZ); session TZ is
    # pinned UTC so the cast is deterministic
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """availableNow windowed aggregation over event files; append mode
    emits only watermark-finalized windows."""
    schema = spark.read.parquet(input_dir).schema
    src = spark.readStream.schema(schema).parquet(input_dir)
    agg = event_counts(src, window, watermark)
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
