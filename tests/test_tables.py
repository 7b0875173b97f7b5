"""OTSL table reconstruction: hand-grid semantics (merges, headers,
multi-table segmentation), token-soup degradation, cross-engine
parity on the synthetic table corpus, plan shape (one Exchange)."""

from __future__ import annotations

import os

import duckdb
import pytest

from ocr_spark.functions.tables import (
    table_reconstruct,
    table_reconstruct_sql,
)
from ocr_spark.plans import plan_str

SF_DIR = "/root/testdata/sf0.001"
ENTRY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)

_NESTED_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return c


def _spans(toks):
    """[(tok_or_kind, text)] -> span tuples; table tokens get the
    table_ prefix."""
    out = []
    for i, (tok, text) in enumerate(toks):
        kind = tok if tok in ("text", "picture") else f"table_{tok}"
        out.append((kind, text, "", i))
    return out


def test_reconstruct_hand_grid(spark):
    """Header row; a 2x2 merged block (fcel + lcel right, ucel below,
    xcel interior); prose between two tables splits table_id."""
    toks = [
        ("text", "intro"),
        ("ched", "A"), ("ched", "B"), ("ched", "C"), ("nl", ""),
        ("fcel", "big"), ("lcel", ""), ("fcel", "c1"), ("nl", ""),
        ("ucel", ""), ("xcel", ""), ("ecel", ""), ("nl", ""),
        ("text", "outro"),
        ("fcel", "x"), ("nl", ""),
    ]
    df = spark.createDataFrame([("d", _spans(toks))], _NESTED_SCHEMA)
    got = sorted(
        (r.table_id, r.row, r.col, r.rowspan, r.colspan, r.is_header,
         r.text)
        for r in table_reconstruct(df).collect()
    )
    assert got == [
        (0, 0, 0, 1, 1, True, "A"),
        (0, 0, 1, 1, 1, True, "B"),
        (0, 0, 2, 1, 1, True, "C"),
        (0, 1, 0, 2, 2, False, "big"),
        (0, 1, 2, 1, 1, False, "c1"),
        (0, 2, 2, 1, 1, False, ""),
        (1, 0, 0, 1, 1, False, "x"),
    ]


def test_reconstruct_token_soup_degrades(spark):
    """Malformed streams (orphan merge runs, leading lcel, trailing
    unterminated row) yield deterministic anchors, never an error."""
    toks = [
        ("lcel", ""), ("fcel", "a"), ("ucel", ""), ("nl", ""),
        ("xcel", ""), ("fcel", "b"),
    ]
    df = spark.createDataFrame([("d", _spans(toks))], _NESTED_SCHEMA)
    got = sorted(
        (r.row, r.col, r.rowspan, r.colspan, r.text)
        for r in table_reconstruct(df).collect()
    )
    # anchors: 'a' at (0,1) — its rowspan is 1 (below it at col 1 is
    # fcel 'b', a new vertical segment); the orphan runs anchor
    # nothing and vanish
    assert got == [(0, 1, 1, 1, "a"), (1, 1, 1, 1, "b")]


def test_reconstruct_no_tables_and_null_spans(spark):
    df = spark.createDataFrame(
        [("a", [("text", "just prose", "", 0)]), ("b", None), ("c", [])],
        _NESTED_SCHEMA,
    )
    assert table_reconstruct(df).count() == 0


def test_reconstruct_oracle_parity(spark, con):
    """Cross-engine over the synthetic table corpus (tables injected
    into every 3rd doc — the entry's mapping), incl. merge runs."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", ENTRY_PATH
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    sdf = table_reconstruct(m._table_span_docs(spark, SF_DIR))
    g = sorted(map(tuple, sdf.collect()))
    odf = con.execute(
        table_reconstruct_sql(m._table_spans_sql())
    ).df()
    o = [tuple(v.item() if hasattr(v, "item") else v for v in r)
         for r in sorted(map(tuple,
                             odf[sdf.columns].itertuples(index=False,
                                                         name=None)))]
    assert g == o and len(g) > 100
    # the synthetic corpus exercises every structural feature
    assert any(r[4] > 1 for r in g)   # rowspan > 1
    assert any(r[5] > 1 for r in g)   # colspan > 1
    assert any(r[6] for r in g)       # headers


def test_reconstruct_plan_single_exchange(spark):
    """Every window partitions on doc_id-prefixed keys: one Exchange,
    re-sorts only (the subset rule)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", ENTRY_PATH
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    p = plan_str(
        table_reconstruct(m._table_span_docs(spark, SF_DIR)), "simple"
    )
    assert p.count("Exchange") == 1, p[:3000]


def test_table_shapes(spark, con):
    from ocr_spark.functions.tables import table_shapes, table_shapes_sql

    toks = [
        ("ched", "A"), ("ched", "B"), ("nl", ""),
        ("fcel", "big"), ("lcel", ""), ("nl", ""),
        ("ucel", ""), ("xcel", ""), ("nl", ""),
    ]
    df = spark.createDataFrame([("d", _spans(toks))], _NESTED_SCHEMA)
    r = table_shapes(df).collect()[0]
    assert (r.n_rows, r.n_cols, r.n_cells) == (3, 2, 3)
    assert r.n_header_cells == 2 and r.has_merges
    # cross-engine on the synthetic table corpus
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", ENTRY_PATH
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    sdf = table_shapes(m._table_span_docs(spark, SF_DIR))
    g = sorted(map(tuple, sdf.collect()))
    odf = con.execute(table_shapes_sql(m._table_spans_sql())).df()
    o = [tuple(v.item() if hasattr(v, "item") else v for v in r)
         for r in sorted(map(tuple,
                             odf[sdf.columns].itertuples(index=False,
                                                         name=None)))]
    assert g == o and len(g) > 50
