"""Sources (SURVEY.md S1/S2): file-tree, binary-file and JSONL readers.

The reference's ingestion is a recursive directory walk plus a glob
filter (/root/reference/pipeline.py:82-95,509-515; dup
/root/reference/cli.py:16-21). The Spark equivalents are read options
— ``recursiveFileLookup`` and ``pathGlobFilter`` — which push the
filter into file listing (no data is touched for excluded files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_file_tree(
    spark: SparkSession,
    root: str,
    fmt: str = "parquet",
    glob: str | None = None,
    schema=None,
) -> DataFrame:
    """S1+S2: recursive scan of a directory tree with an optional glob
    (e.g. ``*.parquet``) applied at listing time."""
    reader = spark.read.format(fmt).option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(root)


def read_binary_files(spark: SparkSession, root: str, glob: str | None = None) -> DataFrame:
    """Raw-bytes ingestion (path, modificationTime, length, content) —
    the cluster-scale answer to the reference's upload endpoint (S3):
    files land in object storage and are scanned as binary rows."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(root)


def validate_uploads(files: DataFrame) -> DataFrame:
    """S3 upload validation, columnar (the reference rejects non-.pdf
    names and empty payloads per upload with a 400,
    /root/reference/webapp/api.py:163-178). At table scale rejection
    rows become DATA — (…, ok, reject_reason) — so one bad file never
    aborts a million-file batch (abort_on_error=False discipline), and
    the magic-bytes check catches mis-named non-PDF payloads the
    reference's name test misses.

    Input: read_binary_files output. Pure codegen exprs; the content
    column is only touched for its 5-byte prefix."""
    name_ok = F.lower(F.col("path")).endswith(".pdf")
    non_empty = F.coalesce(F.col("length"), F.lit(0)) > 0
    magic_ok = F.expr("substring(content, 1, 5)") == F.lit(b"%PDF-")
    reason = (
        F.when(~name_ok, F.concat(F.lit("File '"), F.col("path"), F.lit("' is not a PDF document.")))
        .when(~non_empty, F.concat(F.lit("File '"), F.col("path"), F.lit("' is empty.")))
        .when(~magic_ok, F.concat(F.lit("File '"), F.col("path"), F.lit("' has no PDF magic bytes.")))
    )
    return files.select(
        "*",
        reason.isNull().alias("ok"),
        F.coalesce(reason, F.lit("")).alias("reject_reason"),
    )


DOCS_JSONL_SCHEMA = "doc_id string, text string, source string, lang string"


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: str = DOCS_JSONL_SCHEMA,
    glob: str | None = None,
) -> DataFrame:
    """Crawl-dump ingestion: JSONL document records with malformed-line
    capture (the wire format web-scale text corpora actually arrive
    in, one JSON object per line).

    The schema is an explicit REQUIRED argument: letting Spark infer
    it costs a full extra pass over the input — at 100 TB that is the
    difference between one scan and two. Malformed lines (broken
    JSON, wrong bracket nesting) become rows with ``ok = false`` and
    the raw line preserved in ``_corrupt_record`` — errors are data,
    never aborts (the E4 abort_on_error=False discipline; the
    reference analog is its per-upload 400 at
    /root/reference/webapp/api.py:163-178, which this generalizes to
    never-lose-the-payload). Type mismatches on individual fields
    NULL the field and keep the row, PERMISSIVE-mode standard.

    Implementation note: this reads lines with the text source and
    parses them with ``from_json`` rather than using the JSON source
    directly — Spark's JSON scan forbids queries that reference only
    its internal corrupt-record column (AnalysisException
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), so e.g.
    ``.where(~ok).count()`` on a json-source frame would crash unless
    the caller remembered to cache first. With ``from_json`` the
    corrupt column is an ordinary derived column, any projection of
    the result is safe, and the parse still happens in the same scan
    stage (one pass). Blank lines are skipped, matching the JSON
    source's behavior.
    """
    full_schema = f"{schema}, _corrupt_record string"
    reader = spark.read.option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    lines = reader.text(path).where(F.trim(F.col("value")) != "")
    parsed = lines.select(
        F.from_json(
            F.col("value"),
            full_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r")
    )
    return parsed.select("r.*").select(
        "*", F.col("_corrupt_record").isNull().alias("ok")
    )
