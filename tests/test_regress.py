"""span_diff: per-document span-sequence equality as an operator —
semantics on hand-built diffs, twin parity, hostile NULLs."""

from __future__ import annotations

import os

import duckdb
import pytest

from ocr_spark.pipeline.regress import span_diff, span_diff_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = "doc_id string, kind string, text string, media_ref string, offset int"


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _reg(con, name, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "kind", "text", "media_ref", "offset"]
    )
    con.register(f"{name}_df", pdf)
    con.execute(f'CREATE OR REPLACE VIEW {name} AS SELECT * FROM {name}_df')


def test_span_diff_semantics(spark):
    a = [
        # identical doc
        ("same", "text", "hello", "", 0),
        ("same", "picture", "", "img-1", 1),
        # value diff at offset 1, equal at 0
        ("edit", "text", "alpha", "", 0),
        ("edit", "text", "beta", "", 1),
        # doc only in a
        ("only_a", "text", "gone", "", 0),
        # b has an extra trailing span
        ("longer_b", "text", "x", "", 0),
    ]
    b = [
        ("same", "text", "hello", "", 0),
        ("same", "picture", "", "img-1", 1),
        ("edit", "text", "alpha", "", 0),
        ("edit", "text", "BETA", "", 1),
        ("longer_b", "text", "x", "", 0),
        ("longer_b", "text", "extra", "", 1),
    ]
    out = {
        r.doc_id: r
        for r in span_diff(
            spark.createDataFrame(a, SCHEMA), spark.createDataFrame(b, SCHEMA)
        ).collect()
    }
    assert out["same"].identical and out["same"].first_diff_offset == -1
    assert out["same"].n_a == out["same"].n_b == out["same"].n_equal == 2
    e = out["edit"]
    assert not e.identical and e.first_diff_offset == 1 and e.n_equal == 1
    oa = out["only_a"]
    assert (oa.n_a, oa.n_b, oa.n_equal, oa.first_diff_offset) == (1, 0, 0, 0)
    lb = out["longer_b"]
    assert not lb.identical and lb.first_diff_offset == 1 and lb.n_equal == 1


def test_span_diff_null_values_compare_null_safe(spark):
    """NULL text/media_ref on both sides is EQUAL (null-safe compare);
    NULL vs value is a diff."""
    a = [("d", "text", None, None, 0), ("d", "text", None, "", 1)]
    b = [("d", "text", None, None, 0), ("d", "text", None, None, 1)]
    [r] = span_diff(
        spark.createDataFrame(a, SCHEMA), spark.createDataFrame(b, SCHEMA)
    ).collect()
    assert r.n_equal == 1 and r.first_diff_offset == 1 and not r.identical


def test_span_diff_matches_twin(spark, con):
    from ocr_spark.sources.synth import synth_spans_sql, synthesize_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    flat = synthesize_spans(docs, nested=False)
    got = sorted(
        map(
            tuple,
            span_diff(flat, flat.where("kind <> 'caption'")).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                span_diff_sql(
                    f"SELECT * FROM ({synth_spans_sql()})",
                    f"SELECT * FROM ({synth_spans_sql()}) WHERE kind <> 'caption'",
                )
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 500
    # the perturbation really produced both verdicts
    ident = [r for r in got if r[5]]
    assert 0 < len(ident) < 500


def test_span_diff_null_doc_id_rows_are_present(spark, con):
    """A NULL-doc_id row is a present row on its side, not an absent
    one (the twin's presence flag is the side tag, never doc_id
    nullness); NULL doc_ids never join so each side's rows count under
    the NULL group separately."""
    a = [(None, "text", "za", "", 0)]
    b = [(None, "text", "zb", "", 0)]
    _reg(con, "t_rga", a)
    _reg(con, "t_rgb", b)
    got = sorted(
        map(
            tuple,
            span_diff(
                spark.createDataFrame(a, SCHEMA),
                spark.createDataFrame(b, SCHEMA),
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                span_diff_sql("SELECT * FROM t_rga", "SELECT * FROM t_rgb")
            ).fetchall(),
        )
    )
    assert got == want
    [r] = got
    assert r[1] == 1 and r[2] == 1 and r[3] == 0 and not r[5]


def test_live_build_identical_to_golden_snapshot(spark):
    """The judge-rotation insurance row: the CURRENT build's extraction
    over the fixed sf0.001 corpus span-diffs as identical against the
    MATERIALIZED golden parquet (tests/fixtures). A silent kernel
    behavior change flips `identical` here even though the
    perturbation-based span_diff query would cancel it out of both
    sides. Regenerate the golden only on intentional semantics changes
    (scripts/make_golden_extract.py)."""
    from ocr_spark.pipeline.extract import extract_main_content
    from ocr_spark.sources.synth import synthesize_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    golden = spark.read.parquet(
        os.path.join(REPO, "tests", "fixtures", "golden_extract_sf0001.parquet")
    )
    d = span_diff(extract_main_content(synthesize_spans(docs)), golden)
    assert d.where("NOT identical").count() == 0
    assert d.count() == 500  # every corpus doc produced a verdict row
