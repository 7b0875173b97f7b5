"""Physical-plan shape assertions: the optimizer must produce the
plan we designed for, not merely a correct one (SURVEY §4):

- flagship extraction: shuffle-free (no Exchange), scan prunes to the
  two needed columns;
- filters reach the parquet scan (PushedFilters);
- small dimension joins broadcast;
- dedup aggregates partial (map-side combine) before their shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.dedup import lsh_verified_pairs, simhash
from ocr_spark.functions.text import quality_score
from ocr_spark.pipeline.extract import extract_main_content
from ocr_spark.sources.synth import synthesize_spans

SF_DIR = "/root/testdata/sf0.001"


from ocr_spark.plans import plan_str as _plan


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_extraction_is_shuffle_free(docs):
    plan = _plan(extract_main_content(synthesize_spans(docs)))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_extraction_scan_prunes_columns(docs):
    plan = _plan(extract_main_content(synthesize_spans(docs)))
    # only doc_id + text may be read from parquet
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_filter_pushdown_reaches_scan(docs):
    df = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_dimension_join_broadcasts(docs):
    q = quality_score(docs)
    dims = docs.selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "source")
    joined = q.join(F.broadcast(dims), "doc_id").groupBy("source").count()
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_simhash_partial_aggregation(docs):
    plan = _plan(simhash(docs))
    # one shuffle keyed on doc_id with a partial_ aggregate before it
    assert "hashpartitioning(doc_id" in plan, plan
    assert "partial_sum" in plan, plan


def test_lsh_verified_pairs_aggregates_partially(docs):
    # candidate generation: the minhash signature build must map-side
    # combine (partial_min) before its doc_id shuffle
    from ocr_spark.functions.dedup import minhash_lsh_pairs

    cand_plan = _plan(minhash_lsh_pairs(docs))
    assert "partial_min" in cand_plan, cand_plan
    # verification (candidates are checkpointed, so this plan is the
    # verify stage alone): intersection count map-side combines and no
    # cartesian product appears anywhere
    plan = _plan(lsh_verified_pairs(docs))
    assert "partial_count" in plan, plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_whole_stage_codegen_covers_scalar_path(docs):
    plan = _plan(quality_score(docs))
    assert "codegen id" in plan, plan  # codegen'd stages present
    assert "Exchange" not in plan, plan  # pure per-row exprs: no shuffle


def test_dedup_against_index_is_equi_join(docs):
    from ocr_spark.functions.dedup import dedup_against_index, minhash_band_index

    idx = minhash_band_index(docs.where(F.col("doc_id") % 2 == 0))
    plan = _plan(dedup_against_index(docs.where(F.col("doc_id") % 2 == 1), idx))
    # the batch-vs-index join must be an equi-join on (band, key) —
    # never a pair product — and the signature build map-side combines
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_min" in plan, plan
    assert "band" in plan and "key" in plan, plan


def test_dsir_count_tables_broadcast(docs):
    from ocr_spark.functions.dsir import dsir_weights

    plan = _plan(dsir_weights(docs, docs.where(F.col("lang") == "en")))
    # fixed 8192-bucket count tables: partial counts before their
    # shuffle; exactly two 1-row total broadcasts are the only
    # nested-loop joins in the plan (count in "simple" mode — the
    # formatted detail section repeats operators)
    assert "partial_count" in plan, plan
    simple = _plan(dsir_weights(docs, docs.where(F.col("lang") == "en")), "simple")
    assert simple.count("BroadcastNestedLoopJoin") == 2, simple
    assert "Cartesian" not in plan, plan


def test_decode_stats_queries_are_scan_stage(docs):
    """The real-decode pipelines (synthesize -> decode -> integer
    stats) must stay single-scan-stage: synthesis is pure exprs over
    the distinct media refs, the codec is one MapInArrow, and the
    stats aggregate inside the same Arrow pass — at 100 TB the only
    shuffle-bearing step allowed is the upstream distinct() on refs."""
    from ocr_spark.functions import multimodal as mm

    for build in (
        lambda: mm.decoded_image_stats(mm.synthesize_png(docs)),
        lambda: mm.decoded_image_stats(mm.synthesize_bmp(docs)),
        lambda: mm.decoded_audio_stats(mm.synthesize_g711_wav(docs)),
    ):
        # 'simple' mode: each operator printed once, so counts are
        # meaningful (the repo's documented convention for counting)
        plan = _plan(build(), "simple")
        assert "MapInArrow" in plan, plan
        # exactly the ONE exchange the media_ref distinct() requires —
        # decode and stats add none of their own
        assert plan.count("Exchange") == 1, plan
