"""ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the data semantics of the reference
repo maiphh/ocr (snapshot at /root/reference) on Apache Spark:

- kernel/    span kernels: pandas spec + Arrow-native production path
- pipeline/  DataFrame orchestration: partitioning, mapInArrow,
             validation SQL exprs, merge, lineage/resume, sinks
- sources/   readers + deterministic doc->spans synthesizer
- functions/ text analysis, dedup (exact/minhash/simhash/jaccard/
             clusters), sampling, LLM-response parsing, multimodal
             plumbing

Design stance (SURVEY.md §7.0): reference semantics live in the
kernel; Spark code stays thin and declarative so Catalyst/AQE pick
the physical plan. No per-row Python anywhere on the hot path — only
Arrow-batched UDFs and built-in SQL expressions.
"""

__version__ = "0.2.0"

from ocr_spark.kernel.extract import DEFAULT_CONFIG, PARITY_CONFIG, ExtractConfig
from ocr_spark.pipeline.extract import (
    classify_spans,
    extract_documents,
    extract_main_content,
    extract_spans,
    extraction_metrics,
    weight_partition,
)
from ocr_spark.pipeline.runner import ExtractionRun, RunConfig
from ocr_spark.pipeline.session import get_spark
from ocr_spark.pipeline.validate import FieldSpec, run_summary, validate_fields
from ocr_spark.schema import DOC_SCHEMA, SPAN_STRUCT

__all__ = [
    "DEFAULT_CONFIG",
    "PARITY_CONFIG",
    "DOC_SCHEMA",
    "SPAN_STRUCT",
    "ExtractConfig",
    "ExtractionRun",
    "FieldSpec",
    "RunConfig",
    "classify_spans",
    "extract_documents",
    "extract_main_content",
    "extract_spans",
    "extraction_metrics",
    "get_spark",
    "run_summary",
    "validate_fields",
    "weight_partition",
]
