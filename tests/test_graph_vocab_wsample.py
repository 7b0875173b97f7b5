"""Training-data operators: vocabulary heavy hitters (text.vocab_topk),
quality-weighted deterministic sampling (sampling.weighted_sample)
and BPE pair counts (text.bpe_pair_counts). Each checked for semantics,
execution-stability, and cross-engine twin equality."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions import text
from ocr_spark.functions.sampling import weighted_sample, weighted_sample_sql
from ocr_spark.plans import plan_str as _plan

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


# ---------------------------------------------------------------------------
# vocab_topk
# ---------------------------------------------------------------------------


def test_vocab_topk_hand_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a  c"), (3, "")], "doc_id long, text string"
    )
    got = [tuple(r) for r in text.vocab_topk(df, k=2).collect()]
    assert got == [("a", 3), ("b", 2)]  # '' tokens excluded, c cut at k


def test_vocab_topk_tie_break_is_token_asc(spark):
    df = spark.createDataFrame(
        [(1, "z y x"), (2, "z y x")], "doc_id long, text string"
    )
    got = [tuple(r) for r in text.vocab_topk(df, k=2).collect()]
    assert got == [("x", 2), ("y", 2)]  # all tie at 2 -> token ASC wins


def test_vocab_topk_matches_duckdb_twin(docs, con):
    got = sorted(map(tuple, text.vocab_topk(docs, k=50).collect()))
    want = sorted(
        map(tuple, con.execute(text.vocab_topk_sql("documents", 50)).fetchall())
    )
    assert got == want


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------

def _w():
    return F.least(F.col("n_chars"), F.lit(400)) / F.lit(400.0)


_W_SQL = "least(n_chars, 400) / 400.0"


def test_weighted_sample_clamp_extremes(docs):
    n = docs.count()
    assert weighted_sample(docs, F.lit(1.0)).count() == n  # p=1 keeps all
    assert weighted_sample(docs, F.lit(0.0)).count() == 0  # p=0 drops all
    assert weighted_sample(docs, F.lit(-3.0)).count() == 0  # clamped
    assert weighted_sample(docs, F.lit(7.0)).count() == n  # clamped


def test_weighted_sample_partition_invariant(docs):
    a = sorted(r["doc_id"] for r in weighted_sample(docs, _w()).collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_sample(docs.repartition(11, "lang"), _w()).collect()
    )
    assert a == b and 0 < len(a) < docs.count()


def test_weighted_sample_rate_tracks_mean_weight(docs):
    kept = weighted_sample(docs, _w()).count()
    mean_p = docs.select(
        F.avg(F.least(F.col("n_chars"), F.lit(400)) / F.lit(400.0))
    ).collect()[0][0]
    assert abs(kept / docs.count() - mean_p) < 0.08


def test_weighted_sample_matches_duckdb_twin(docs, con):
    got = sorted(r["doc_id"] for r in weighted_sample(docs, _w()).collect())
    sql = weighted_sample_sql("documents", _W_SQL)
    want = sorted(r[0] for r in con.execute(
        f"SELECT doc_id FROM ({sql})").fetchall())
    assert got == want


def test_weighted_sample_plan_is_scan_stage(docs):
    p = _plan(weighted_sample(docs, _w()), "simple")
    assert "Exchange" not in p  # pure codegen filter, zero shuffle


def test_vocab_topk_plan_shape(docs):
    # global top-k must be TakeOrderedAndProject (per-partition heaps),
    # never a full Sort; the token count keeps its map-side partial
    p = _plan(text.vocab_topk(docs, k=10), "formatted")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial count" in p.lower()


def test_cms_build_plan_shape(docs):
    from ocr_spark.functions.sketches import cms_build
    from ocr_spark.functions.text import words_col

    toks = docs.select(F.explode(words_col()).alias("token")).where(
        F.col("token") != ""
    )
    p = _plan(cms_build(toks, "token"), "simple")
    # one hash-agg exchange over the (row, cell) table — nothing else
    assert p.count("Exchange") == 1


# ---------------------------------------------------------------------------
# bpe_pair_counts
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_hand_counts(spark):
    """'abab abab ab' -> word table {abab:2, ab:1}; pairs per 'abab' =
    ab,ba,ab -> weighted: ab = 2*2+1 = 5, ba = 2, plus nothing else."""
    df = spark.createDataFrame(
        [(1, "abab abab ab")], "doc_id long, text string"
    )
    got = [tuple(r) for r in text.bpe_pair_counts(df, k=10).collect()]
    assert got == [("ab", 5), ("ba", 2)]


def test_bpe_pair_counts_single_char_words_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a a a bb"), (2, None)], "doc_id long, text string"
    )
    got = [tuple(r) for r in text.bpe_pair_counts(df, k=10).collect()]
    # 'a' (len 1) contributes no pairs; 'bb' one pair
    assert got == [("bb", 1)]


def test_bpe_pair_counts_tie_break_pair_asc(spark):
    df = spark.createDataFrame([(1, "xy ab")], "doc_id long, text string")
    got = [tuple(r) for r in text.bpe_pair_counts(df, k=1).collect()]
    assert got == [("ab", 1)]  # count tie -> lexicographic pair wins


def test_bpe_pair_counts_word_cap_bounds_fanout(spark):
    long_word = "ab" * 4000  # 8000 chars
    df = spark.createDataFrame(
        [(1, long_word)], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in
           text.bpe_pair_counts(df, k=10, max_word_chars=100).collect()}
    # capped at 100 chars -> 99 pairs: 50x 'ab', 49x 'ba'
    assert got == {"ab": 50, "ba": 49}


def test_bpe_pair_counts_matches_duckdb_twin(docs, con):
    got = sorted(map(tuple, text.bpe_pair_counts(docs, k=40).collect()))
    want = sorted(
        map(
            tuple,
            con.execute(text.bpe_pair_counts_sql("documents", 40)).fetchall(),
        )
    )
    assert got == want and len(got) == 40


def test_bpe_pair_counts_plan_shape(docs):
    p = _plan(text.bpe_pair_counts(docs, k=10))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
