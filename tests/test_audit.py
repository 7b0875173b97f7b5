"""Corpus-checksum audit: cross-engine parity + the properties the
operator exists for (order-insensitivity, multiset exactness,
mergeability)."""

from __future__ import annotations

import duckdb
import pytest

from ocr_spark.functions import audit

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return c


def test_table_checksum_matches_oracle(docs, con):
    got = sorted(map(tuple, audit.table_checksum(docs).collect()))
    want = sorted(map(tuple, con.execute(audit.table_checksum_sql()).fetchall()))
    assert got == want and len(got) > 1


@pytest.mark.parametrize("group_cols", [(), ("source",)])
def test_twins_agree_with_and_without_groups(spark, group_cols):
    """The Spark and DuckDB twins give the same rows on the same input,
    including the single whole-table row of ``group_cols=()``."""
    rows = [(1, "alpha", "en", "s"), (2, None, "de", "t"), (3, "gamma", None, "s")]
    schema = "doc_id long, text string, lang string, source string"
    got = sorted(
        map(tuple, audit.table_checksum(spark.createDataFrame(rows, schema), group_cols).collect())
    )
    c = duckdb.connect()
    c.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)")
    c.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    want = sorted(map(tuple, c.execute(audit.table_checksum_sql("t", group_cols)).fetchall()))
    assert got == want and len(got) == (1 if not group_cols else 2)


def test_checksum_is_partitioning_invariant(docs):
    base = sorted(map(tuple, audit.table_checksum(docs).collect()))
    reparted = sorted(
        map(tuple, audit.table_checksum(docs.repartition(13, "text")).collect())
    )
    assert base == reparted


def test_checksum_detects_single_row_changes(spark):
    df = spark.createDataFrame(
        [(1, "alpha", "en", "s"), (2, "beta", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    base = audit.table_checksum(df).collect()[0]
    # one character changed
    mod = spark.createDataFrame(
        [(1, "alphA", "en", "s"), (2, "beta", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    changed = audit.table_checksum(mod).collect()[0]
    assert base.n_rows == changed.n_rows and base.checksum60 != changed.checksum60
    # a duplicated row moves the sum (the XOR-cancellation trap)
    dup = audit.table_checksum(df.union(df)).collect()[0]
    assert dup.n_rows == 4 and dup.checksum60 != base.checksum60
    # NULL and '' render distinctly
    a = audit.table_checksum(
        spark.createDataFrame(
            [(1, None, "en", "s")],
            "doc_id long, text string, lang string, source string",
        )
    ).collect()[0]
    b = audit.table_checksum(
        spark.createDataFrame(
            [(1, "", "en", "s")],
            "doc_id long, text string, lang string, source string",
        )
    ).collect()[0]
    assert a.checksum60 != b.checksum60
    # column-boundary shift ('ab','c' vs 'a','bc') renders distinctly
    x = audit.table_checksum(
        spark.createDataFrame(
            [(1, "ab", "c", "s")],
            "doc_id long, text string, lang string, source string",
        )
    ).collect()[0]
    y = audit.table_checksum(
        spark.createDataFrame(
            [(1, "a", "bc", "s")],
            "doc_id long, text string, lang string, source string",
        )
    ).collect()[0]
    assert x.checksum60 != y.checksum60


def test_fold_checksums_equals_direct_global(docs):
    from pyspark.sql import functions as F

    per_source = audit.table_checksum(docs)
    folded = audit.fold_checksums(per_source).collect()[0]
    # direct global: group on a constant
    direct = audit.table_checksum(
        docs.withColumn("lit", F.lit(1)), group_cols=("lit",)
    ).collect()[0]
    assert (folded.n_rows, folded.checksum60) == (direct.n_rows, direct.checksum60)


def test_checksum_plan_has_partial_aggregation(docs):
    from ocr_spark.plans import plan_str

    plan = plan_str(audit.table_checksum(docs), "formatted")
    assert "partial" in plan.lower()  # map-side combine before the shuffle
