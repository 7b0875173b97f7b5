"""New training-data operators: integer PageRank (functions/graph.py),
vocabulary heavy hitters (text.vocab_topk), quality-weighted
deterministic sampling (sampling.weighted_sample). Each checked for
semantics, execution-stability, and cross-engine twin equality."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions import text
from ocr_spark.functions.graph import SCALE, pagerank, pagerank_sql, rank_scale
from ocr_spark.functions.sampling import weighted_sample, weighted_sample_sql
from ocr_spark.plans import plan_str as _plan

SF_DIR = "/root/testdata/sf0.001"

# the contract-query edge synthesis: dense-ish node space, multi-edges
# possible, fully deterministic, identical in both dialects
EDGE_SQL = "(SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst" \
           " FROM documents)"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def edges(docs):
    return docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return c


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _pagerank_py(edge_list, iters):
    """Independent pure-python simulation of the integer recurrence."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    n = len(nodes)
    scale = rank_scale(n)
    out = {}
    for u, _ in edge_list:
        out[u] = out.get(u, 0) + 1
    tele = 15 * scale // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in out)
        ins = {v: 0 for v in nodes}
        for u, v in edge_list:
            ins[v] += r[u] // out[u]
        r = {
            v: tele + (85 * (ins[v] + dang // n)) // 100
            for v in nodes
        }
    return r


def test_pagerank_matches_python_sim(spark):
    el = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (1, 2)]  # multi-edge 1->2
    df = spark.createDataFrame(el, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=4).collect()}
    assert got == _pagerank_py(el, 4)


def test_pagerank_dangling_mass_redistributed(spark):
    # node 3 has no out-edges; its mass must come back via the
    # dangling term, not vanish: with redistribution node 1 and 2
    # keep receiving > teleport-only rank
    el = [(1, 2), (2, 3)]
    df = spark.createDataFrame(el, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    sim = _pagerank_py(el, 3)
    assert got == sim
    tele = 15 * SCALE // (100 * 3)
    assert got[1] > tele  # strictly above teleport floor -> dangling fed it


def test_pagerank_zero_iters_is_uniform(spark):
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=0).collect()}
    assert got == {1: SCALE // 2, 2: SCALE // 2}


def test_pagerank_partition_invariant(edges):
    a = sorted(map(tuple, pagerank(edges, iters=2).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(13), iters=2).collect()))
    assert a == b


def test_pagerank_string_node_ids(spark):
    el = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(el, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=2).collect()}
    assert got == _pagerank_py(el, 2)


def test_pagerank_matches_duckdb_twin(edges, con):
    got = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    want = sorted(map(tuple, con.execute(pagerank_sql(EDGE_SQL, 3)).fetchall()))
    assert got == want


def test_pagerank_scale_grows_with_node_count(spark):
    # web-scale precision guard: above 10^6 nodes the fixed-point
    # scale must grow so each node keeps >= 10^6 rank units (a fixed
    # 10^12 scale would truncate hub contributions to zero at real
    # graph sizes). 1.1M-node ring, iters=0 -> uniform scale//n.
    n = 1_100_000
    ring = spark.range(n).selectExpr("id AS src", f"(id + 1) % {n} AS dst")
    assert rank_scale(n) == n * 10**6  # adaptive regime
    one = pagerank(ring, iters=0).where(F.col("node") == 0).collect()
    assert one[0]["rank"] == rank_scale(n) // n  # == 10**6 exactly


def test_pagerank_plan_no_nested_loop(edges):
    p = _plan(pagerank(edges, iters=1), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


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


# ---------------------------------------------------------------------------
# embedding_dup_clusters (semantic-dedup composition)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def con_emb():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    return c


def test_embedding_dup_clusters_matches_duckdb_twin(emb, con_emb):
    from ocr_spark.functions import similarity as sim

    got = sorted(
        map(tuple, sim.embedding_dup_clusters(emb, tau=0.35).collect())
    )
    want = sorted(
        map(
            tuple,
            con_emb.execute(sim.embedding_dup_clusters_sql(tau=0.35)).fetchall(),
        )
    )
    assert got == want and len(got) > 0


def test_embedding_dup_clusters_rep_is_min_member(emb):
    from ocr_spark.functions import similarity as sim

    rows = sim.embedding_dup_clusters(emb, tau=0.35).collect()
    by_rep = {}
    for r in rows:
        by_rep.setdefault(r["cluster_rep"], []).append(r["vec_id"])
    for rep, members in by_rep.items():
        assert rep == min(members)  # label = component minimum, rep in members


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
# personalized (seeded) PageRank
# ---------------------------------------------------------------------------


def _ppr_py(edge_list, seeds, iters):
    from ocr_spark.functions.graph import rank_scale

    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    n = len(nodes)
    scale = rank_scale(n)
    k = sum(1 for v in nodes if v in set(seeds))
    out = {}
    for u, _ in edge_list:
        out[u] = out.get(u, 0) + 1
    tele = 15 * scale // (100 * k)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in out)
        ins = {v: 0 for v in nodes}
        for u, v in edge_list:
            ins[v] += r[u] // out[u]
        r = {
            v: (tele if v in set(seeds) else 0)
            + (85 * (ins[v] + (dang // k if v in set(seeds) else 0))) // 100
            for v in nodes
        }
    return r


def test_personalized_pagerank_matches_python_sim(spark):
    from ocr_spark.functions.graph import personalized_pagerank

    el = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (5, 1)]
    df = spark.createDataFrame(el, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds=[1], iters=3).collect()
    }
    assert got == _ppr_py(el, [1], 3)
    # authority flows FROM the seed: its direct successor outranks a
    # node the seed cannot reach except via teleport-free hops
    assert got[2] > got[5]


def test_personalized_pagerank_matches_duckdb_twin(edges, con):
    from ocr_spark.functions.graph import (
        personalized_pagerank,
        personalized_pagerank_sql,
    )

    seeds = [0, 1, 2]
    got = sorted(
        map(tuple, personalized_pagerank(edges, seeds=seeds, iters=3).collect())
    )
    want = sorted(
        map(
            tuple,
            con.execute(personalized_pagerank_sql(EDGE_SQL, seeds, 3)).fetchall(),
        )
    )
    assert got == want and len(got) > 0


def test_personalized_pagerank_absent_seeds_raise(spark):
    from ocr_spark.functions.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        personalized_pagerank(df, seeds=[99], iters=1)
    with pytest.raises(ValueError):
        personalized_pagerank(df, seeds=[], iters=1)


def test_personalized_pagerank_string_seeds(spark):
    from ocr_spark.functions.graph import personalized_pagerank

    el = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(el, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds=["a"], iters=2).collect()
    }
    assert got == _ppr_py(el, ["a"], 2)


def test_personalized_pagerank_hostile_string_seeds(spark, con):
    # backslash is an ESCAPE character in Spark SQL string literals
    # but literal in DuckDB — both the Spark seed predicate and the
    # twin must treat these node ids identically
    from ocr_spark.functions.graph import (
        personalized_pagerank,
        personalized_pagerank_sql,
    )

    el = [("a\\", "o'b"), ("o'b", "c"), ("c", "a\\")]
    df = spark.createDataFrame(el, "src string, dst string")
    seeds = ["a\\", "o'b", "missing"]
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds=seeds, iters=2).collect()
    }
    assert got == _ppr_py(el, seeds, 2)
    con.execute("CREATE OR REPLACE TABLE hostile_edges AS SELECT * FROM "
                "(VALUES ('a\\', 'o''b'), ('o''b', 'c'), ('c', 'a\\'))"
                " t(src, dst)")
    want = {
        r[0]: r[1]
        for r in con.execute(
            personalized_pagerank_sql("hostile_edges", seeds, 2)
        ).fetchall()
    }
    assert got == want


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
