"""Sinks (SURVEY.md S6-S11) — the reference's export surface,
re-expressed for a distributed engine.

- results parquet/bucketed sink (S11): the cluster-scale path.
- incremental CSV (S6): the reference appends one row per processed
  page, writing the header only when the file is absent
  (/root/reference/pipeline.py:517-549). The distributed analog is an
  append-mode CSV table; the header-if-absent rule becomes
  header-on-first-commit.
- CSV-with-BOM download (S7) and Excel export (S8) are OPERATOR-SCALE
  exports (the reference serves them over HTTP for a human): they
  collect a bounded result to the driver by design. Excel requires
  openpyxl and is gated on its import.
- JSON envelope (S9): documents + run meta, ensure_ascii=False
  (/root/reference/cli.py:56-58).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UTF8_BOM = b"\xef\xbb\xbf"


# ---------------------------------------------------------------------------
# S11: cluster-scale results sink
# ---------------------------------------------------------------------------


def bucket_col(col: str, n_buckets: int):
    """The one bucket function every results producer uses (this sink
    and the checkpointed runner): pmod(hash(key), N)
    over the key's STRING form, so a doc lands in the same bucket
    regardless of the key's native type. A NULL key buckets as '' —
    the kernel renders a NULL doc_id (contract violation -> error row)
    as '', and hash(NULL) would bucket the runner's input row apart
    from its output row — outside the commit group, whose
    dynamic-partition overwrite would then clobber a committed
    bucket."""
    return F.pmod(
        F.hash(F.coalesce(F.col(col).cast("string"), F.lit(""))),
        F.lit(n_buckets),
    )


def write_results(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    bucket_by: str | None = "doc_id",
    n_buckets: int = 16,
    dynamic: bool = True,
) -> None:
    """Partitioned parquet results table. With ``bucket_by``, rows are
    hash-distributed on the key into ``bucket=K/`` partitions — the
    parquet stand-in for Iceberg's ``bucket(N, doc_id)`` transform, so
    downstream per-doc joins can prune and co-locate. The bucket is
    :func:`bucket_col`, shared with the checkpointed runner, so every
    producer lands the same doc in the same bucket.

    ``dynamic=True`` (overwrite mode) replaces only the bucket dirs
    present in ``df`` — the idempotent re-commit discipline;
    ``dynamic=False`` makes overwrite a FULL table replace (stale
    buckets dropped), the semantic twin of Iceberg createOrReplace."""
    if bucket_by:
        out = df.withColumn("bucket", bucket_col(bucket_by, n_buckets))
        (
            out.repartition(n_buckets, "bucket")
            .write.partitionBy("bucket")
            .mode(mode)
            .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
            .parquet(path)
        )
    else:
        df.write.mode(mode).parquet(path)


# ---------------------------------------------------------------------------
# S6: incremental CSV table
# ---------------------------------------------------------------------------


def write_csv_incremental(df: DataFrame, path: str, append: bool = True) -> None:
    """Append-mode CSV table (the columnar reading of the reference's
    header-if-absent append, /root/reference/pipeline.py:521-529).

    Every part file carries its own header — Spark's CSV reader skips
    the first line of EACH file, so per-file headers are what makes a
    multi-commit CSV table read back as one logical table with one
    header. J2 replace semantics = append=False."""
    mode = "append" if append else "overwrite"
    df.write.mode(mode).option("header", "true").option("encoding", "UTF-8").csv(path)


def read_csv_table(spark, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


# ---------------------------------------------------------------------------
# S7/S8: operator-scale exports (bounded collect by design)
# ---------------------------------------------------------------------------


def export_csv_bom(df: DataFrame, path: str, limit: int = 1_000_000) -> str:
    """Single CSV file with a UTF-8 BOM (Excel-friendly download,
    /root/reference/webapp/api.py:499-511). Collects ≤ limit rows."""
    pdf = df.limit(limit).toPandas()
    csv_bytes = pdf.to_csv(index=False).encode("utf-8")
    with open(path, "wb") as f:
        f.write(UTF8_BOM + csv_bytes)
    return path


def export_excel(df: DataFrame, path: str, limit: int = 100_000) -> str:
    """Excel export (/root/reference/webapp/api.py:477-496). Gated on
    openpyxl, which this sandbox does not ship."""
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "Excel export requires openpyxl (unavailable in this environment); "
            "use export_csv_bom instead"
        ) from e
    df.limit(limit).toPandas().to_excel(path, index=False)  # pragma: no cover
    return path  # pragma: no cover


# ---------------------------------------------------------------------------
# S9: JSON envelope
# ---------------------------------------------------------------------------


def write_json_envelope(
    df: DataFrame, meta: dict, path: str, limit: int = 1_000_000
) -> str:
    """{documents: [...], meta: {...}} dump, ensure_ascii=False +
    indent=2 exactly like the reference CLI
    (/root/reference/cli.py:56-58; envelope shape
    /root/reference/pipeline.py:551-562)."""
    docs = [r.asDict(recursive=True) for r in df.limit(limit).collect()]
    envelope = {"documents": docs, "meta": meta}
    with open(path, "w", encoding="utf-8") as f:
        json.dump(envelope, f, ensure_ascii=False, indent=2)
    return path
