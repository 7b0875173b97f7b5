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
