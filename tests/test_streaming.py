"""Structured Streaming: incremental extraction (exactly-once across
restarts) and watermarked windowed aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.pipeline.extract import extract_documents
from ocr_spark.pipeline.sinks import bucket_col
from ocr_spark.sources.synth import synthesize_spans
from ocr_spark.streaming.extract import event_counts, stream_extract


def _nested_rows(df):
    out = []
    for r in df.collect():
        spans = tuple((s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or []))
        out.append((r.doc_id, spans))
    return sorted(out)


def test_stream_extract_incremental(spark, tmp_path):
    docs = synthesize_spans(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    first = docs.where("CAST(doc_id AS BIGINT) < 250")
    second = docs.where("CAST(doc_id AS BIGINT) >= 250")
    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    first.write.parquet(inp, mode="append")
    stream_extract(spark, inp, outp, ckpt)
    got1 = _nested_rows(spark.read.parquet(outp))
    assert got1 == _nested_rows(extract_documents(first))

    # new files land; restart with the same checkpoint -> only the new
    # docs are processed, no duplicates of the old ones
    second.write.parquet(inp, mode="append")
    stream_extract(spark, inp, outp, ckpt)
    got2 = _nested_rows(spark.read.parquet(outp))
    assert got2 == _nested_rows(extract_documents(docs))
    assert len(got2) == 500


def test_stream_extract_idempotent_rerun(spark, tmp_path):
    docs = synthesize_spans(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).limit(50)
    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs.write.parquet(inp)
    stream_extract(spark, inp, outp, ckpt)
    stream_extract(spark, inp, outp, ckpt)  # no new input -> no-op
    assert spark.read.parquet(outp).count() == 50


def test_stream_extract_bucketed_layout(spark, tmp_path):
    """Bucketed streaming sink: same bucket=K/ dirs as the batch
    runner, same bucket function, exactly-once across restarts."""
    import os

    docs = synthesize_spans(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    first = docs.where("CAST(doc_id AS BIGINT) < 250")
    second = docs.where("CAST(doc_id AS BIGINT) >= 250")
    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    first.write.parquet(inp, mode="append")
    stream_extract(spark, inp, outp, ckpt, n_buckets=8)
    second.write.parquet(inp, mode="append")
    stream_extract(spark, inp, outp, ckpt, n_buckets=8)

    assert {d for d in os.listdir(outp) if d.startswith("bucket=")} == {
        f"bucket={k}" for k in range(8)
    }
    out = spark.read.parquet(outp)
    assert out.count() == 500
    assert out.select("doc_id").distinct().count() == 500  # exactly-once
    # the bucket column matches the batch runner's function -> pruning
    # and per-doc joins behave identically across the two producers
    bad = out.where(
        F.col("bucket") != bucket_col("doc_id", 8)
    ).count()
    assert bad == 0


def test_event_counts_batch_streaming_agree(spark, tmp_path):
    """The same event_counts plan over a batch DF vs through a stream
    must agree on watermark-closed windows."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = event_counts(events).orderBy("window_start", "event_type")
    rows = batch.collect()
    assert len(rows) > 0
    # windows are 1h-aligned and counts sum to the row count
    assert sum(r.n_events for r in rows) == events.count()
    for r in rows:
        assert (r.window_end - r.window_start).total_seconds() == 3600

    from ocr_spark.streaming.extract import stream_event_counts

    inp, outp, ckpt = (str(tmp_path / d) for d in ("ev", "out", "ckpt"))
    events.write.parquet(inp)
    stream_event_counts(spark, inp, outp, ckpt)
    streamed = spark.read.parquet(outp)
    # append mode emits only windows older than the watermark; every
    # emitted window must match the batch result exactly
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in streamed.collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in rows
    }
    assert got, "stream emitted no finalized windows"
    for k, v in got.items():
        assert k in want
        assert v[0] == want[k][0]
        assert v[1] == pytest.approx(want[k][1])
