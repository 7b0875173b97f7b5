"""Canonical Spark schemas for the interleaved text+media document model.

Input table shape is fixed by BASELINE.json ``input_hint``:
  (doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)

Span ``kind`` vocabulary comes from the DocTags streams the reference
emits (observed in /root/reference/parsing_results.json:28,54,83,112,140).
"""

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The ONE whitespace definition shared by every tokenizing regex in
# the repo. \s is a dialect trap: Java (Spark) and Python (?a) include
# vertical tab \x0b, RE2 (DuckDB, pyarrow.compute) does NOT — so any
# paired regex written with \s silently diverges on \x0b. The class is
# spelled with RAW control characters, which mean the same thing in
# all three regex dialects and survive every string-literal escaping
# layer unchanged.
WS_CHARS = " \t\n\r\f\x0b"
WS = "[" + WS_CHARS + "]"
NON_ALNUM_WS = "[^a-zA-Z0-9" + WS_CHARS + "]"

# The ONE ASCII case-mapping table pair (for translate()):
# java.lang.String.toLowerCase / SQL lower() apply locale-sensitive
# FULL case mapping (the Turkish-I / Kelvin-sign trap), translate is a
# 26-char lookup with identical semantics in Spark and DuckDB.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"

# Span kinds observed in the reference DocTags streams.
KIND_TEXT = "text"
KIND_SECTION_HEADER = "section_header_level_1"
KIND_PAGE_HEADER = "page_header"
KIND_PAGE_FOOTER = "page_footer"
KIND_LIST_ITEM = "list_item"
KIND_PICTURE = "picture"
KIND_CAPTION = "caption"
KIND_LINK = "link"
# Synthetic kinds our pipeline can emit (never dropped silently —
# errors become data, mirroring abort_on_error=False at
# /root/reference/document_loader_api.py:19).
KIND_ERROR = "__error__"
KIND_TRUNCATION_MARKER = "__truncated__"

# DocTags OTSL table-structure span kinds (lossless table parsing —
# docling's public OTSL cell tokens, prefixed): cells carry text, nl
# marks row breaks, lcel/ucel/xcel are merged-cell continuations.
TABLE_KINDS = (
    "table_fcel",
    "table_ecel",
    "table_ched",
    "table_rhed",
    "table_srow",
    "table_lcel",
    "table_ucel",
    "table_xcel",
    "table_nl",
)

CONTENT_KINDS = (
    KIND_TEXT,
    KIND_SECTION_HEADER,
    KIND_LIST_ITEM,
    KIND_PICTURE,
    KIND_CAPTION,
)
# Page furniture: boilerplate-strip candidates (SURVEY.md P7).
FURNITURE_KINDS = (KIND_PAGE_HEADER, KIND_PAGE_FOOTER)
# Kinds the truncation budget always keeps — the span analog of the
# reference's "always keep page anchors and headers" rule
# (/root/reference/pipeline.py:119-121).
TRUNCATION_KEEP_KINDS = (KIND_SECTION_HEADER, KIND_PAGE_HEADER)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), True),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
    ]
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), True),
    ]
)

# Flat (exploded) span row — the shape the extraction UDF emits.
FLAT_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), True),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
    ]
)

# Flat span row + classification annotations (parity / debug mode).
ANNOTATED_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), True),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
        StructField("kept", IntegerType(), True),  # 1 = survives strip
        StructField("block_id", IntegerType(), True),
        StructField("link_density", DoubleType(), True),
    ]
)

# Nested extraction output WITH per-doc metrics carried alongside —
# the single-kernel-pass shape the checkpointed runner writes (metrics
# cost 3 ints/doc in parquet; per-bucket lineage aggregates come from
# a column-pruned scan of the written files, never a second kernel
# execution).
DOC_WITH_METRICS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), True),
        StructField("n_spans_in", LongType(), True),
        StructField("n_spans_out", LongType(), True),
        StructField("parse_failed", IntegerType(), True),
    ]
)
