"""End-to-end Spark tests on the seeded FIXTURES.md corpus:
engine-vs-oracle differential testing (the pure-pandas kernel run on
the same input is the oracle — SURVEY.md §5.2.3) plus the ordering /
media / error-row invariants (§5.2.4)."""

import pandas as pd
import pytest

from ocr_spark.fixtures import corpus_df, generate_corpus
from ocr_spark.kernel.extract import DEFAULT_CONFIG, extract_flat
from ocr_spark.pipeline.extract import (
    extract_main_content,
    extract_spans,
    extraction_metrics,
    weight_partition,
)
from ocr_spark.schema import KIND_ERROR

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    # skip the giant tail here (covered in bench); keep empties+malformed
    df = corpus_df(spark, n_docs=N_DOCS, seed=42, giant_frac=0.0)
    df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle():
    docs = generate_corpus(n_docs=N_DOCS, seed=42, giant_frac=0.0)
    pdf = pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
    )
    return extract_flat(pdf, DEFAULT_CONFIG)


def test_differential_vs_pandas_oracle(spark, corpus, oracle):
    got = extract_spans(corpus.repartition(8, "doc_id")).collect()
    got_rows = sorted(
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"], r["kept"]) for r in got
    )
    exp_rows = sorted(
        (r.doc_id, int(r.offset), r.kind, r.text, r.media_ref, int(r.kept))
        for r in oracle.itertuples()
    )
    assert got_rows == exp_rows


def test_order_strictly_increasing_per_doc(spark, corpus):
    out = extract_main_content(corpus).toPandas()
    for _, g in out.groupby("doc_id"):
        offs = g["offset"].tolist()
        assert offs == sorted(offs)
        assert len(set(offs)) == len(offs)


def test_strip_is_monotone_subset(spark, corpus):
    stripped = extract_main_content(corpus).toPandas()
    inp = corpus.selectExpr("doc_id", "explode(spans) AS s").selectExpr(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    ).toPandas()
    inp_keys = set(zip(inp["doc_id"], inp["offset"]))
    out_keys = set(zip(stripped["doc_id"], stripped["offset"]))
    assert out_keys <= inp_keys


def test_media_refs_survive(spark, corpus):
    out = extract_main_content(corpus).where("kind = 'picture'").toPandas()
    assert len(out) > 0
    assert (out["media_ref"].str.startswith("img-")).all()


def test_error_rows_for_empty_and_malformed(spark, corpus):
    out = extract_spans(corpus)
    errs = out.where(f"kind = '{KIND_ERROR}'").toPandas()
    # FIXTURES.md: ~10% empty + ~2% malformed of 300 docs
    assert len(errs) > 10
    # every input doc is accounted for: content or error, never dropped
    seen = set(out.select("doc_id").distinct().toPandas()["doc_id"])
    all_ids = set(corpus.select("doc_id").toPandas()["doc_id"])
    assert seen == all_ids


def test_metrics_consistency(spark, corpus):
    m = extraction_metrics(corpus).toPandas().set_index("doc_id")
    out = extract_main_content(corpus).toPandas().groupby("doc_id").size()
    for did, n in out.items():
        assert m.loc[did, "n_spans_out"] == n
    assert (m["n_spans_out"] <= m["n_spans_in"]).all()
    assert (m.loc[m["parse_failed"] == 1, "n_spans_out"] == 0).all()


def test_weight_partition_balances(spark):
    df = corpus_df(spark, n_docs=120, seed=7, giant_frac=0.05, empty_frac=0.0, malformed_frac=0.0)
    wp = weight_partition(df, 8)
    out = extract_main_content(wp)
    # correctness unchanged by the partitioning strategy
    base = extract_main_content(df.repartition(8, "doc_id"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))
