"""North-rule invariant: span-sequence equality (kind, text, media_ref,
order) per document against the reference's golden DocTags fixtures
(/root/reference/parsing_results.json:28,54,83,112,140), end-to-end
through the Spark pipeline. BASELINE.json: pass rate must be 100%."""

import pytest

from ocr_spark.fixtures import frozen_fixture_docs
from ocr_spark.pipeline.extract import classify_spans, extract_documents_with_metrics
from ocr_spark.kernel.extract import PARITY_CONFIG
from ocr_spark.schema import DOC_SCHEMA

FIXTURES = frozen_fixture_docs()


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in FIXTURES
    ]
    return spark.createDataFrame(rows, schema=DOC_SCHEMA)


def test_fixtures_loaded():
    assert len(FIXTURES) == 5
    assert all(len(d["spans"]) > 0 for d in FIXTURES)


def test_span_sequence_equality_flat(spark, fixture_df):
    out = classify_spans(fixture_df.repartition(4, "doc_id"))
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append((r["offset"], r["kind"], r["text"], r["media_ref"]))
    for d in FIXTURES:
        expected = [(s["offset"], s["kind"], s["text"], s["media_ref"]) for s in d["spans"]]
        assert sorted(got[d["doc_id"]]) == expected, f"span mismatch for {d['doc_id']}"


def test_span_sequence_equality_nested(spark, fixture_df):
    out = extract_documents_with_metrics(
        fixture_df.repartition(4, "doc_id"), cfg=PARITY_CONFIG
    ).select("doc_id", "spans")
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    for d in FIXTURES:
        spans = got[d["doc_id"]]
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]


def test_picture_media_refs_preserved(spark, fixture_df):
    out = classify_spans(fixture_df).where("kind = 'picture'").collect()
    assert len(out) > 0
    assert all(r["media_ref"].startswith("pic-") for r in out)
    assert all(r["text"] == "" for r in out)


def test_golden_snapshot_unchanged():
    """The span_diff_golden baseline must never drift silently: its
    byte hash and row count are pinned here. An INTENTIONAL kernel
    semantics change regenerates it via
    KERNEL_SEMANTICS_CHANGED=1 scripts/make_golden_extract.py (which
    refuses to run otherwise) — and must update these pins in the same
    commit, stating the semantics change."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "fixtures", "golden_extract_sf0001.parquet",
    )
    digest = hashlib.md5(open(path, "rb").read()).hexdigest()
    assert digest == "0833d36504fea7c18c219be39f943fdf"
    assert pq.read_table(path).num_rows == 4085
