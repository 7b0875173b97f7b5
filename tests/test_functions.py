"""Differential tests: every functions/* operator, Spark vs DuckDB,
exact value equality on the driver's sf0.001 tables."""

from __future__ import annotations

import math

import duckdb
import pytest

from ocr_spark.functions import dedup, lm, scrub, text, tfidf
from ocr_spark.functions.chunking import chunk_documents, chunk_documents_sql
from ocr_spark.functions.packing import pack_index, pack_index_sql

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return c


def assert_same(spark_df, con, sql, float_cols=()):
    got = sorted(map(tuple, spark_df.collect()))
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        for i, (x, y) in enumerate(zip(g, w)):
            if isinstance(x, float):
                assert (math.isnan(x) and math.isnan(y)) or x == y, (i, g, w)
            else:
                assert x == y, (i, g, w)


def test_token_counts(docs, con):
    assert_same(text.token_counts(docs), con, text.token_counts_sql())


def test_whitespace_class_identical_across_engines(spark, con):
    """\\s is a dialect trap (Java/Python include \\x0b, RE2 does not);
    every tokenizing regex uses the shared explicit class instead —
    pin the dialects' agreement on hostile whitespace."""
    import pandas as pd

    hostile = "a\x0bb c\td\fe\rf\ng  h"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [hostile]}))
    con.register("t_ws_df", pd.DataFrame({"doc_id": [1], "text": [hostile]}))
    con.execute("CREATE OR REPLACE VIEW t_ws AS SELECT * FROM t_ws_df")
    for build, sql in (
        (text.token_counts, text.token_counts_sql("t_ws")),
        (text.quality_score, text.quality_score_sql("t_ws")),
        (text.fingerprint, text.fingerprint_sql("t_ws")),
        (dedup.simhash, dedup.simhash_sql("t_ws")),
        (dedup.ngram_jaccard_pairs, dedup.ngram_jaccard_pairs_sql("t_ws")),
    ):
        assert_same(build(df), con, sql)
    # every separator splits: 8 word tokens in all engines
    assert text.token_counts(df).collect()[0].n_tokens_ws == 8


def test_text_operator_fuzz_across_engines(spark, con):
    """Seeded fuzz: 200 hostile strings (mixed unicode, control chars,
    quotes, long runs) through every text/dedup twin — the dialect-trap
    net that caught the \\x0b divergence, generalized."""
    import random

    import pandas as pd

    rng = random.Random(424242)
    alphabet = (
        "abc XYZ 012 .,;:!?'\"()[]{}<>|/\\@#$%^&*-_=+~`"
        "\t\n\r\f\x0b\xa0éüßñ漢字平仮名عربي🎉"
        "İIı\u212a"  # case-mapping traps: dotted/dotless I, Kelvin sign
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(200)
    ]
    pdf = pd.DataFrame({"doc_id": list(range(200)), "text": texts})
    df = spark.createDataFrame(pdf)
    con.register("t_fuzz_df", pdf)
    con.execute("CREATE OR REPLACE VIEW t_fuzz AS SELECT * FROM t_fuzz_df")
    from ocr_spark.functions.unicode_norm import (
        encoding_profile,
        encoding_profile_sql,
    )

    for build, sql in (
        (text.token_counts, text.token_counts_sql("t_fuzz")),
        (text.lang_id, text.lang_id_sql("t_fuzz")),
        (text.quality_score, text.quality_score_sql("t_fuzz")),
        (text.fingerprint, text.fingerprint_sql("t_fuzz")),
        (text.script_profile, text.script_profile_sql("t_fuzz")),
        (text.lexical_stats, text.lexical_stats_sql("t_fuzz")),
        (text.readability, text.readability_sql("t_fuzz")),
        (encoding_profile, encoding_profile_sql("t_fuzz")),
        (dedup.exact_dedup, dedup.exact_dedup_sql("t_fuzz")),
        (dedup.exact_dedup_canonical, dedup.exact_dedup_canonical_sql("t_fuzz")),
        (dedup.simhash, dedup.simhash_sql("t_fuzz")),
        (dedup.minhash_signatures, dedup.minhash_signatures_sql("t_fuzz")),
        (tfidf.tfidf_top_terms, tfidf.tfidf_top_terms_sql("t_fuzz")),
        (scrub.pii_scrub, scrub.pii_scrub_sql("t_fuzz")),
        (scrub.line_dedup, scrub.line_dedup_sql("t_fuzz")),
        (scrub.gopher_rules, scrub.gopher_rules_sql("t_fuzz")),
        (scrub.repetition_signals, scrub.repetition_signals_sql("t_fuzz")),
        (text.vocab_topk, text.vocab_topk_sql("t_fuzz")),
        (lm.bigram_lm_score, lm.bigram_lm_score_sql("t_fuzz")),
        # repeated_passages with small w/gap so the 0-60-char fuzz
        # strings actually produce windows (unicode substr/length
        # semantics are the trap under test)
        (
            lambda d: scrub.repeated_passages(d, w_chars=6, gap=3),
            scrub.repeated_passages_sql("t_fuzz", w_chars=6, gap=3),
        ),
        # chunk+pack with tiny knobs so the short fuzz strings produce
        # multi-window docs and straddling packs (the WS-split and
        # int64 window arithmetic are the dialect surface under test)
        (
            lambda d: chunk_documents(d, max_tokens=4, overlap=1),
            chunk_documents_sql("t_fuzz", max_tokens=4, overlap=1),
        ),
        (
            lambda d: pack_index(
                chunk_documents(d, max_tokens=4, overlap=1), seq_len=5, n_shards=3
            ),
            pack_index_sql(
                chunk_documents_sql("t_fuzz", max_tokens=4, overlap=1),
                seq_len=5,
                n_shards=3,
            ),
        ),
    ):
        assert_same(build(df), con, sql)


def test_lang_id(docs, con):
    assert_same(text.lang_id(docs), con, text.lang_id_sql())


def test_lang_id_values(docs):
    out = {r.doc_id: r.lang_pred for r in text.lang_id(docs).collect()}
    # corpus vocab is English-ish tech words -> 'the'/'a' dominate
    assert set(out.values()) <= {"en", "und", "de", "fr", "es", "zh"}
    assert len(out) == docs.count()


def test_quality_score(docs, con):
    assert_same(text.quality_score(docs), con, text.quality_score_sql())


def test_quality_range(docs):
    rows = text.quality_score(docs).collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)


def test_fingerprint(docs, con):
    assert_same(text.fingerprint(docs), con, text.fingerprint_sql())


def test_fingerprint_order_sensitive(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "c b a"]})
    )
    fps = [r.fp for r in text.fingerprint(df).collect()]
    assert fps[0] != fps[1]


def test_exact_dedup(docs, con):
    assert_same(dedup.exact_dedup(docs), con, dedup.exact_dedup_sql())


def test_exact_dedup_finds_dups(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["same text", "same text", "other"]})
    )
    out = {r.text_md5: (r.n_docs, r.rep_doc_id) for r in dedup.exact_dedup(df).collect()}
    assert (2, 1) in out.values() and (1, 3) in out.values()


def test_exact_dedup_canonical(docs, con):
    assert_same(
        dedup.exact_dedup_canonical(docs), con, dedup.exact_dedup_canonical_sql()
    )


def test_canonical_key_collapses_formatting_variants(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "Hello, World!",
                    "hello   world",
                    "HELLO-WORLD",
                    "unrelated",
                    None,
                ],
            }
        )
    )
    out = {
        r.canon_md5: (r.n_docs, r.rep_doc_id)
        for r in dedup.exact_dedup_canonical(df).collect()
    }
    # case / punctuation / whitespace variants share one key
    assert (3, 1) in out.values()
    # NULL text keys as NULL (its own group), not as ''
    assert (1, 5) in out.values() and None in out
    # raw exact_dedup keeps them distinct — canonicalization is the
    # only thing merging the three variants
    assert dedup.exact_dedup(df).count() == 5


def test_canonical_text_values(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["  A\x0bB\tc…漢 d-e_f  "]})
    )
    got = df.select(dedup.canonical_text(F.col("text")).alias("c")).collect()[0].c
    # ASCII-lower, every non-alnum (incl. unicode) -> space, runs
    # collapsed, ends trimmed
    assert got == "a b c d e f"


def test_minhash_signatures(docs, con):
    assert_same(dedup.minhash_signatures(docs), con, dedup.minhash_signatures_sql())


def test_minhash_lsh_pairs(docs, con):
    assert_same(dedup.minhash_lsh_pairs(docs), con, dedup.minhash_lsh_pairs_sql())


def test_minhash_catches_near_dups(spark):
    import pandas as pd

    words = [f"word{i:02d}" for i in range(60)]
    base = " ".join(words)
    near = " ".join(words[:59] + ["CHANGED"])  # jaccard ~= 0.91
    far = " ".join(f"other{i:02d}" for i in range(60))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash(docs, con):
    assert_same(dedup.simhash(docs), con, dedup.simhash_sql())


def test_ngram_jaccard(docs, con):
    assert_same(dedup.ngram_jaccard_pairs(docs), con, dedup.ngram_jaccard_pairs_sql())


def test_ngram_max_df_caps_hot_shingles(spark, docs, con):
    import pandas as pd

    # ten docs share ONLY a boilerplate shingle (df=10); one pair
    # genuinely overlaps (its shared shingles have df=2). max_df=3
    # removes the boilerplate pairs from candidate generation without
    # touching the real pair's jaccard value.
    words = [f"u{i}" for i in range(10)]
    boiler = "all rights reserved contact us"
    texts = [f"{boiler} x{i}a x{i}b x{i}c x{i}d x{i}e x{i}f" for i in range(10)]
    texts += [" ".join(words), " ".join(words[:9] + ["X"])]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(1, 13)), "text": texts})
    )
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, tau=0.01).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, tau=0.01, max_df=3).collect()
    }
    assert (1, 2) in full and (11, 12) in full
    assert len(full) >= 45 + 1  # all boiler pairs + the real pair
    assert (1, 2) not in capped  # hot-shingle pairs gone from candidates
    assert set(capped) == {(11, 12)}
    assert capped[(11, 12)] == full[(11, 12)]  # denominators unchanged
    # capped Spark matches the capped oracle on real data
    assert_same(
        dedup.ngram_jaccard_pairs(docs, max_df=3),
        con,
        dedup.ngram_jaccard_pairs_sql(max_df=3),
    )


def test_ngram_default_cap_bounds_boilerplate_fanout(spark):
    """VERDICT r2 #4: max_df defaults ON (1000). A corpus-wide
    boilerplate shingle (df=1100 > cap) must be dropped from candidate
    generation — bounding the join to ~0 rows instead of df^2/2
    (~600k) — while genuine pairs (df=2 shingles) still surface."""
    import pandas as pd

    boiler = "all rights reserved contact us"  # one shared 5-shingle
    n = 1100
    texts = [f"{boiler}" for _ in range(n)]  # identical 5-word docs
    texts += ["p1 p2 p3 p4 p5 p6", "p1 p2 p3 p4 p5 p7"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n + 2)), "text": texts})
    )
    rows = dedup.ngram_jaccard_pairs(df, tau=0.01).collect()
    # boiler pairs (would be n*(n-1)/2 = 604450) are all capped away
    assert {(r.doc_a, r.doc_b) for r in rows} == {(n, n + 1)}
    # uncapped baseline on a small slice still finds boiler pairs
    small = df.where("doc_id < 5")
    assert dedup.ngram_jaccard_pairs(small, tau=0.01, max_df=None).count() == 10


def test_jaccard_identical_docs(spark):
    import pandas as pd

    t = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2], "text": [t, t]}))
    rows = dedup.ngram_jaccard_pairs(df).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_lsh_verified_pairs_matches_oracle(docs, con):
    assert_same(dedup.lsh_verified_pairs(docs), con, dedup.lsh_verified_pairs_sql())


def test_lsh_bucket_cap(spark, docs, con):
    import pandas as pd

    # 6 boilerplate-identical docs: uncapped -> 15 pairs; max_bucket=2
    # drops every band bucket (all 6 collide in all bands) -> 0 pairs
    t = " ".join(f"tpl{i}" for i in range(30))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(6)), "text": [t] * 6})
    )
    assert dedup.minhash_lsh_pairs(df).count() == 15
    assert dedup.minhash_lsh_pairs(df, max_bucket=2).count() == 0
    # capped Spark plan still matches the capped oracle on real data
    assert_same(
        dedup.minhash_lsh_pairs(docs, max_bucket=3),
        con,
        dedup.minhash_lsh_pairs_sql(max_bucket=3),
    )


def test_lsh_candidates_bound_boilerplate_blowup(spark):
    """The round-1 scale-killer: one hot shingle shared corpus-wide.

    ngram candidate generation pairs every doc with every doc (O(n^2));
    the LSH path only proposes docs agreeing on a whole signature band,
    so shared boilerplate alone produces no candidates."""
    import pandas as pd

    boiler = "all rights reserved contact us today"  # one 5-word-ish shingle zone
    rows = {
        "doc_id": list(range(60)),
        "text": [f"unique{i}a unique{i}b unique{i}c unique{i}d {boiler}" for i in range(60)],
    }
    df = spark.createDataFrame(pd.DataFrame(rows))
    ngram_cands = dedup.ngram_jaccard_pairs(df, tau=0.0).count()
    lsh_cands = dedup.minhash_lsh_pairs(df).count()
    assert ngram_cands == 60 * 59 / 2  # every pair shares the hot shingles
    assert lsh_cands < 60  # LSH: no full-band agreement from boilerplate alone
    # and the flagship composition produces no spurious clusters
    assert dedup.dup_clusters(df, tau=0.5).count() == 0


def test_dup_clusters_plan_is_lsh_driven(spark, docs):
    # candidate generation is the banded bucket join...
    cand_plan = (
        dedup.minhash_lsh_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "band" in cand_plan
    # ...and verification consumes the CHECKPOINTED candidates (an RDD
    # scan, not a re-derivation) with shingling semi-join-restricted to
    # candidate docs — never an all-corpus shingle self-join
    plan = dedup.lsh_verified_pairs(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "LeftSemi" in plan, plan


def test_dup_clusters_transitive(spark):
    import pandas as pd

    words = [f"w{i:02d}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:39] + ["X"])  # near a
    c = " ".join(["Y"] + words[1:])  # near a (and b transitively)
    far = " ".join(f"z{i:02d}" for i in range(40))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12, 13], "text": [a, b, c, far]})
    )
    out = {r.doc_id: r.cluster_rep for r in dedup.dup_clusters(df, tau=0.5).collect()}
    # a,b,c form one component with rep = min doc_id = 10; far absent
    assert out == {10: 10, 11: 10, 12: 10}


def test_dup_clusters_matches_oracle(docs, con):
    assert_same(dedup.dup_clusters(docs), con, dedup.dup_clusters_sql())


def test_connected_components_chain_converges_logarithmically(spark):
    import pandas as pd

    n = 64  # path graph 0-1-2-...-63: worst case for plain propagation
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(n - 1)), "doc_b": list(range(1, n))})
    )
    labels, iters = dedup.connected_components(edges)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}  # one component, min-label root
    # pointer jumping: O(log n) driver rounds, not O(n) (plain
    # propagation would need ~63)
    assert iters <= 10, iters


def test_connected_components_1k_chain_log_bound(spark):
    """VERDICT r2 #8: a 1000-doc dup chain (diameter 999) must
    converge in <= ceil(log2(diameter)) + 1 driver rounds."""
    import math

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, iters = dedup.connected_components(edges)
    assert iters <= math.ceil(math.log2(n - 1)) + 1, iters  # <= 11
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def _union_find_labels(edge_list):
    """Reference components: vertex -> min vertex id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_cc_matches_python_union_find(spark):
    """Label-jump components == a Python union-find on pathological
    and random graphs."""
    import random

    cases = []
    # long chain
    cases.append([(i, i + 1) for i in range(199)])
    # star + chain + isolated pair mix
    cases.append([(0, i) for i in range(1, 20)] + [(50, 51), (51, 52), (90, 91)])
    # seeded random graphs, with shuffled/reversed edge orientations
    rng = random.Random(7)
    for _ in range(3):
        e = [
            (rng.randrange(120), rng.randrange(120))
            for _ in range(150)
        ]
        cases.append([(a, b) for a, b in e if a != b])
    for ei, es in enumerate(cases):
        edges = spark.createDataFrame(es, "doc_a long, doc_b long")
        labels, iters = dedup.connected_components(edges)
        got = {r.doc_id: r.label for r in labels.collect()}
        assert got == _union_find_labels(es), (ei, iters)


def test_cc_self_loop_only_vertex(spark):
    """A vertex whose only edge is (v, v) is its own singleton
    component."""
    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long"
    )
    labels, _ = dedup.connected_components(edges)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {1: 1, 2: 1, 5: 5}


def test_cc_string_ids(spark):
    edges = spark.createDataFrame(
        [("sha1:b", "sha1:c"), ("sha1:a", "sha1:b"), ("sha1:x", "sha1:y")],
        "doc_a string, doc_b string",
    )
    labels, _ = dedup.connected_components(edges)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {
        "sha1:a": "sha1:a",
        "sha1:b": "sha1:a",
        "sha1:c": "sha1:a",
        "sha1:x": "sha1:x",
        "sha1:y": "sha1:x",
    }


def test_simhash_pairs(docs, con):
    assert_same(dedup.simhash_pairs(docs), con, dedup.simhash_pairs_sql())


def test_simhash_pairs_finds_near_identical(spark):
    import pandas as pd

    words = [f"tok{i:03d}" for i in range(200)]
    base = " ".join(words)
    near = " ".join(words[:199] + ["SWAP"])  # 1 of 200 tokens changed
    far = " ".join(f"oth{i:03d}" for i in range(200))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(df, max_hamming=10).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_novel_docs_semantics(spark):
    """Re-ingest with a modified fifth: only modified rows are novel;
    NULL-text rows are dropped when the corpus also has a NULL text."""
    import pandas as pd
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, None)], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in dedup.novel_docs(new, corpus).collect())
    assert got == [11]  # 'alpha' seen; NULL matched null-safely
    # corpus without NULL text: the NULL-text new row IS novel
    got2 = sorted(
        r.doc_id
        for r in dedup.novel_docs(new, corpus.where(F.col("text").isNotNull())).collect()
    )
    assert got2 == [11, 12]


def test_novel_docs_matches_duckdb_twin(docs, con):
    from pyspark.sql import functions as F

    new = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    got = sorted(
        map(tuple, dedup.novel_docs(new, docs).select("doc_id", "source").collect())
    )
    sql = (
        "SELECT doc_id, source FROM ("
        + dedup.novel_docs_sql(
            "(SELECT * REPLACE (CASE WHEN doc_id % 5 = 0 THEN text || ' v2'"
            " ELSE text END AS text) FROM documents)",
            "documents",
        )
        + ")"
    )
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == oracle and len(got) == 100  # exactly the modified fifth


def test_winnow_fingerprints_matches_twin(docs, con):
    assert_same(
        text.winnow_fingerprints(docs), con, text.winnow_fingerprints_sql()
    )


def test_winnow_guarantee_and_density(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= w + k - 1 share at least one selected fingerprint; selection is
    sparse (~2/(w+1) of k-grams) but never empty for len >= k+w-1."""
    k, w = 5, 4
    shared = "the quick brown fox jumps over it"  # len 33 >= w+k-1
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "xyzzy " + shared + " qwert"),
        (3, "completely different content here with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.winnow_fingerprints(df, k=k, w=w).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    for doc_id, t in rows:
        n_kgrams = len(t) - k + 1
        assert 0 < len(fps[doc_id]) <= n_kgrams
        # density: winnowing keeps roughly 2/(w+1); allow slack x3
        assert len(fps[doc_id]) <= max(3, 3 * 2 * n_kgrams // (w + 1))


def test_winnow_short_docs_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, None), (4, "abcdefgh")],
        "doc_id long, text string",
    )
    out = text.winnow_fingerprints(df, k=5, w=4).collect()
    # doc 4: 8 chars -> 4 k-grams == w -> exactly one window min set
    assert {r.doc_id for r in out} == {4}
    with pytest.raises(ValueError):
        text.winnow_fingerprints(df, k=0)


def test_winnow_duplicate_doc_id_rows_match_twin(spark, con):
    """Session-10 review regression: Spark dedupes selections PER INPUT
    ROW (array_distinct in the scan), so duplicate doc_id rows emit
    their selections twice; the twin's row-level DISTINCT must be keyed
    by a per-source-row id, not collapse globally."""
    import pandas as pd

    t = "the quick brown fox jumps over the lazy dog"
    pdf = pd.DataFrame({"doc_id": [7, 7, 8], "text": [t, t, "unrelated words here"]})
    df = spark.createDataFrame(pdf)
    con.register("t_windup_df", pdf)
    con.execute("CREATE OR REPLACE VIEW t_windup AS SELECT * FROM t_windup_df")
    assert_same(
        text.winnow_fingerprints(df),
        con,
        text.winnow_fingerprints_sql("t_windup"),
    )
    # and the duplicated rows really did double their selections
    out = text.winnow_fingerprints(df).collect()
    per7 = [(r.pos, r.fp) for r in out if r.doc_id == 7]
    assert len(per7) == 2 * len(set(per7)) > 0


def test_winnow_plan_is_scan_stage(docs):
    from ocr_spark.plans import plan_str as _plan2

    assert "Exchange" not in _plan2(text.winnow_fingerprints(docs), "simple")


# ---------------------------------------------------------------------------
# lsh_recall_eval
# ---------------------------------------------------------------------------


def _overlap_corpus(spark):
    """30 doc pairs at shingle-Jaccard ≈ 0.286 (above tau=0.2, but a
    4x4 LSH band hits such a pair with P ≈ 2.6%) plus one exact-dup
    pair LSH can never miss — so deterministically 0 < n_hit < n_true."""
    import pandas as pd

    rows = []
    for i in range(30):
        shared = [f"s{i:02d}w{j:02d}" for j in range(20)]
        a = shared + [f"a{i:02d}u{j:02d}" for j in range(20)]
        b = shared + [f"b{i:02d}u{j:02d}" for j in range(20)]
        rows.append((2 * i, " ".join(a)))
        rows.append((2 * i + 1, " ".join(b)))
    exact = " ".join(f"dupword{j:02d}" for j in range(40))
    rows += [(100, exact), (101, exact)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pdf, spark.createDataFrame(pdf)


def test_lsh_recall_eval_measures_misses(spark):
    pdf, df = _overlap_corpus(spark)
    r = dedup.lsh_recall_eval(df).collect()[0]
    # ground truth: all 30 overlap pairs + the exact dup are >= tau
    assert r["n_true"] == 31
    # LSH catches the exact dup but misses most 0.286-Jaccard pairs
    assert 0 < r["n_hit"] < r["n_true"]
    assert r["recall_ppm"] == (r["n_hit"] * 1000000) // r["n_true"]
    assert r["recall_ppm"] < 1000000
    if r["n_candidates"] > 0:
        assert r["precision_ppm"] == (
            r["n_hit"] * 1000000
        ) // r["n_candidates"]


def test_lsh_recall_eval_perfect_on_exact_dups(spark):
    import pandas as pd

    t = " ".join(f"w{j:02d}" for j in range(30))
    u = " ".join(f"x{j:02d}" for j in range(30))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [t, t, u]})
    )
    r = dedup.lsh_recall_eval(df).collect()[0]
    assert tuple(r) == (1, 1, 1, 1000000, 1000000)


def test_lsh_recall_eval_empty_truth_yields_nulls(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    " ".join(f"w{j}" for j in range(30)),
                    " ".join(f"z{j}" for j in range(30)),
                ],
            }
        )
    )
    r = dedup.lsh_recall_eval(df).collect()[0]
    assert r["n_true"] == 0 and r["recall_ppm"] is None


def test_lsh_recall_eval_cross_engine(spark, docs, con):
    pdf, df = _overlap_corpus(spark)
    con.register("t_lre_df", pdf)
    con.execute("CREATE OR REPLACE VIEW t_lre AS SELECT * FROM t_lre_df")
    assert_same(
        dedup.lsh_recall_eval(df), con, dedup.lsh_recall_eval_sql("t_lre")
    )
    assert_same(
        dedup.lsh_recall_eval(docs), con, dedup.lsh_recall_eval_sql()
    )


# ---------------------------------------------------------------------------
# script_profile
# ---------------------------------------------------------------------------


def test_script_profile_matches_oracle(docs, con):
    assert_same(text.script_profile(docs), con, text.script_profile_sql())


def test_script_profile_detects_scripts(spark):
    rows = [
        (1, "hello world"),                      # latin
        (2, "Привет мир"),  # cyrillic
        (3, "中文文本"),          # cjk
        (4, "こんにちは"),    # kana
        (5, "안녕하세요"),    # hangul
        (6, "مرحبا"),    # arabic
        (7, "123 !!! ..."),                       # no script chars
        (8, None),                                # NULL text -> emitted
        (9, "ab бв"),                   # 2 latin vs 2 cyrillic tie
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.script_profile(df).collect()}
    assert got[1].script == "latin" and got[1].n_latin == 10
    assert got[2].script == "cyrillic"
    assert got[3].script == "cjk" and got[3].n_cjk == 4
    assert got[4].script == "kana"
    assert got[5].script == "hangul"
    assert got[6].script == "arabic"
    assert got[7].script == "none"
    assert got[8].script == "none" and got[8].n_latin == 0
    # tie broken by SCRIPT_RANGES order: latin first
    assert got[9].n_latin == got[9].n_cyrillic == 2
    assert got[9].script == "latin"
    assert len(got) == 9


def test_script_profile_cross_engine_on_multiscript_text(spark, con):
    import pandas as pd

    hostile = (
        "mixed 中文 and вот plus éè "
        "שלום नमस्ते "
        "\U0001F600 emoji outside BMP"
    )
    pdf = pd.DataFrame({"doc_id": [1], "text": [hostile]})
    df = spark.createDataFrame(pdf)
    con.register("t_script_df", pdf)
    got = sorted(map(tuple, text.script_profile(df).collect()))
    want = sorted(
        map(tuple, con.execute(text.script_profile_sql("t_script_df")).fetchall())
    )
    assert got == want


def test_script_profile_plan_is_scan_stage(docs):
    from ocr_spark.plans import plan_str as _plan2

    assert "Exchange" not in _plan2(text.script_profile(docs), "simple")


# ---------------------------------------------------------------------------
# cluster_representatives
# ---------------------------------------------------------------------------


def test_cluster_representatives_matches_oracle(docs, con):
    assert_same(
        dedup.cluster_representatives(docs),
        con,
        dedup.cluster_representatives_sql(),
    )


def test_cluster_representatives_picks_highest_quality(spark):
    """Two exact-dup members differing only in trailing punctuation
    noise: the cleaner copy wins even though it has the HIGHER doc_id
    (min-id survivorship would keep the noisy one)."""
    body = " ".join(f"the w{j:02d} of and to in" for j in range(12))
    # enough punct that the punct_ratio penalty dominates the length
    # reward (a short noise tail can RAISE quality via the chars term)
    noisy = body + " " + "!?!;" * 200
    df = spark.createDataFrame(
        [(1, noisy), (2, body)], "doc_id long, text string"
    )
    rows = dedup.cluster_representatives(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.cluster_rep, r.best_doc_id, r.n_members) == (1, 2, 2)


def test_cluster_representatives_tie_breaks_min_doc_id(spark):
    body = " ".join(f"the w{j:02d} of and to in" for j in range(12))
    df = spark.createDataFrame(
        [(7, body), (3, body)], "doc_id long, text string"
    )
    r = dedup.cluster_representatives(df).collect()[0]
    assert (r.cluster_rep, r.best_doc_id, r.n_members) == (3, 3, 2)


def test_cluster_representatives_string_ids(spark):
    """ID-TYPE-AGNOSTIC: 'sha1:...' string ids survive end-to-end —
    the silent-NULL long-cast trap the operator layer must never
    reintroduce."""
    body = " ".join(f"the w{j:02d} of and to in" for j in range(12))
    df = spark.createDataFrame(
        [("sha1:bbb", body), ("sha1:aaa", body)],
        "doc_id string, text string",
    )
    r = dedup.cluster_representatives(df).collect()[0]
    assert (r.cluster_rep, r.best_doc_id, r.n_members) == (
        "sha1:aaa", "sha1:aaa", 2,
    )


# ---------------------------------------------------------------------------
# containment_verify / containment_pairs
# ---------------------------------------------------------------------------


def test_containment_matches_oracle(docs, con):
    assert_same(
        dedup.containment_pairs(docs), con, dedup.containment_pairs_sql()
    )


def test_containment_is_asymmetric(spark):
    """Short doc fully quoted inside a longer doc: cont(short in long)
    = 1.0 while cont(long in short) and Jaccard are well below it —
    the signal this operator exists to expose. Candidates are passed
    explicitly so the check is deterministic (LSH proposal is
    probabilistic at this Jaccard)."""
    short = " ".join(f"w{j:02d}" for j in range(40))
    long_ = short + " " + " ".join(f"x{j:02d}" for j in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    r = dedup.containment_verify(df, cand, tau_c=0.9).collect()[0]
    # A: 36 shingles, B: 76, shared: 36
    assert (r.n_a, r.n_b, r.n_shared) == (36, 76, 36)
    assert r.cont_a_in_b == 1.0
    assert r.cont_b_in_a < 0.5
    # Jaccard on the same pair is below any near-dup threshold
    jv = dedup.jaccard_verify(df, cand, tau=0.0).collect()[0]
    assert jv.jaccard < 0.5


def test_containment_threshold_filters(spark):
    a = " ".join(f"a{j:02d}" for j in range(30))
    b = " ".join(f"b{j:02d}" for j in range(30))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    # disjoint docs share zero shingles -> no row survives any tau_c
    assert dedup.containment_verify(df, cand, tau_c=0.01).count() == 0


def test_containment_pairs_exact_dups_score_one(spark):
    t = " ".join(f"w{j:02d}" for j in range(30))
    u = " ".join(f"z{j:02d}" for j in range(30))
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, u)], "doc_id long, text string"
    )
    rows = dedup.containment_pairs(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.cont_a_in_b, r.cont_b_in_a) == (1, 2, 1.0, 1.0)


# ---------------------------------------------------------------------------
# cluster_representatives_sql
# ---------------------------------------------------------------------------


def test_cluster_representatives_sql_string_ids(spark, con):
    """The twin must plumb id_sql end-to-end: a string-id table flows
    through BOTH the cluster and quality subtrees (a hard-cast in
    either raises ConversionException in DuckDB)."""
    import pandas as pd

    body = " ".join(f"the w{j:02d} of and to in" for j in range(12))
    pdf = pd.DataFrame(
        {"doc_id": ["sha1:bbb", "sha1:aaa"], "text": [body, body]}
    )
    df = spark.createDataFrame(pdf)
    con.register("t_reps_sid_df", pdf)
    got = sorted(map(tuple, dedup.cluster_representatives(df).collect()))
    want = sorted(
        map(
            tuple,
            con.execute(
                dedup.cluster_representatives_sql(
                    "t_reps_sid_df", id_sql="doc_id"
                )
            ).fetchall(),
        )
    )
    assert got == want and got[0][1] == "sha1:aaa"


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_matches_oracle(docs, con):
    new = docs.where("doc_id % 7 != 2")
    assert_same(
        dedup.snapshot_diff(docs, new),
        con,
        dedup.snapshot_diff_sql(
            "documents", "(SELECT * FROM documents WHERE doc_id % 7 != 2)"
        ),
    )


def test_snapshot_diff_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta CHANGED"), (5, "delta"), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in dedup.snapshot_diff(old, new).collect()}
    assert got == {
        1: "same",
        2: "changed",
        3: "removed",
        5: "added",
        4: "same",  # NULL text == NULL text (null-safe hash compare)
    }


def test_snapshot_diff_string_ids(spark):
    old = spark.createDataFrame(
        [("sha1:a", "x"), ("sha1:b", "y")], "doc_id string, text string"
    )
    new = spark.createDataFrame(
        [("sha1:a", "x2"), ("sha1:c", "z")], "doc_id string, text string"
    )
    got = {r.doc_id: r.status for r in dedup.snapshot_diff(old, new).collect()}
    assert got == {"sha1:a": "changed", "sha1:b": "removed", "sha1:c": "added"}


def test_lang_id_null_text_is_und_both_engines(spark, con):
    """NULL text must classify 'und' with 0 hits in BOTH engines —
    before the coalesce guard, Spark's argmax CASE picked a junk
    label through NULL three-valued logic while DuckDB emitted NULL
    (caught via bpe_fertility's NULL-doc grouping)."""
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [None, "the a of"]})
    df = spark.createDataFrame(pdf)
    con.register("t_lid_null_df", pdf)
    got = {r.doc_id: (r.lang_pred, r.stop_hits) for r in text.lang_id(df).collect()}
    assert got[1] == ("und", 0)
    assert got[2][0] == "en"
    assert_same(text.lang_id(df), con, text.lang_id_sql("t_lid_null_df"))


# ---------------------------------------------------------------------------
# lexical_stats
# ---------------------------------------------------------------------------


def test_lexical_stats_matches_oracle(docs, con):
    assert_same(text.lexical_stats(docs), con, text.lexical_stats_sql())


def test_lexical_stats_semantics(spark):
    rows = {
        r.doc_id: r
        for r in text.lexical_stats(
            spark.createDataFrame(
                [
                    (1, "the cat sat on the mat"),
                    (2, "spam spam spam spam"),
                    (3, None),
                    (4, "  leading  and  trailing  "),
                ],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert (rows[1].n_tokens, rows[1].n_types, rows[1].n_hapax) == (6, 5, 4)
    assert rows[1].ttr == 0.833333 and rows[1].hapax_ratio == 0.666666
    # templated repetition: minimal diversity, zero hapax
    assert (rows[2].n_types, rows[2].n_hapax, rows[2].ttr) == (1, 0, 0.25)
    # NULL text emits zeros, never dropped
    assert (rows[3].n_tokens, rows[3].ttr) == (0, 0.0)
    # empty tokens from whitespace runs are not counted
    assert rows[4].n_tokens == 3


def test_lexical_stats_plan_is_scan_stage(docs):
    from ocr_spark.plans import plan_str as _plan2

    assert "Exchange" not in _plan2(text.lexical_stats(docs), "simple")


# ---------------------------------------------------------------------------
# readability
# ---------------------------------------------------------------------------


def test_readability_matches_oracle(docs, con):
    assert_same(text.readability(docs), con, text.readability_sql())


def test_readability_semantics(spark):
    rows = {
        r.doc_id: r
        for r in text.readability(
            spark.createDataFrame(
                [
                    # 2 sentences, 6 words, syllables: the=1 cat=1
                    # sat=1 down. = 1 It=1 slept.=1 -> 6
                    (1, "The cat sat down. It slept."),
                    # no terminal punctuation -> 1 sentence; vowelless
                    # word still counts one syllable (xkcd)
                    (2, "xkcd 42 rocks"),
                    (3, None),
                    # multi-vowel groups: 'queueing' = q-ueuei-ng ->
                    # 2 groups ('ueuei' is ONE maximal run? no: u,e,u,
                    # e,i are all vowels -> one run) + 'aloud' a-lou-d
                    # = 2 runs -> total 3
                    (4, "queueing aloud!!!"),
                ],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert (rows[1].n_words, rows[1].n_sents, rows[1].n_syll) == (6, 2, 6)
    assert rows[1].words_per_sent == 3.0 and rows[1].syll_per_word == 1.0
    # flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert abs(rows[1].flesch - 119.19) < 1e-6
    # vowelless words count one syllable each; unpunctuated = 1 sent
    assert (rows[2].n_sents, rows[2].n_syll) == (1, 3)
    # NULL text: zero counts, never dropped
    assert (rows[3].n_words, rows[3].n_sents, rows[3].n_syll) == (0, 0, 0)
    # maximal vowel runs, not per-vowel counts
    assert (rows[4].n_words, rows[4].n_sents, rows[4].n_syll) == (2, 1, 3)


def test_readability_plan_is_scan_stage(docs):
    from ocr_spark.plans import plan_str as _plan2

    assert "Exchange" not in _plan2(text.readability(docs), "simple")


# ---------------------------------------------------------------------------
# cross-operator invariants (seeded property tests)
# ---------------------------------------------------------------------------


def test_containment_jaccard_bound_property(spark):
    """For ANY pair, J = s/(a+b-s) <= s/a = cont_a_in_b (and <= 
    cont_b_in_a): containment dominates Jaccard. Seeded random corpora
    with overlapping vocab slices exercise many (a, b, s) shapes."""
    import random

    rng = random.Random(1313)
    rows, pairs = [], []
    for i in range(12):
        # shared passage stays CONTIGUOUS — shingles are 5-word grams,
        # so only a contiguous common run produces shingle overlap
        shared = [f"sh{i:02d}x{j:02d}" for j in range(rng.randint(8, 25))]
        ua = [f"a{i:02d}w{j:02d}" for j in range(rng.randint(0, 25))]
        ub = [f"b{i:02d}w{j:02d}" for j in range(rng.randint(0, 25))]
        rows += [
            (2 * i, " ".join(ua + shared)),
            (2 * i + 1, " ".join(shared + ub)),
        ]
        pairs.append((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    cont = {
        (r.doc_a, r.doc_b): r
        for r in dedup.containment_verify(df, cand, tau_c=0.0).collect()
    }
    jacc = {
        (r.doc_a, r.doc_b): r
        for r in dedup.jaccard_verify(df, cand, tau=0.0).collect()
    }
    assert set(cont) == set(jacc) and len(cont) > 0
    for k, c in cont.items():
        j = jacc[k]
        assert (c.n_shared, c.n_a, c.n_b) == (j.n_shared, j.n_a, j.n_b)
        assert j.jaccard <= c.cont_a_in_b + 1e-6
        assert j.jaccard <= c.cont_b_in_a + 1e-6
        assert max(c.cont_a_in_b, c.cont_b_in_a) <= 1.0


def test_kn_score_partition_invariant(docs):
    """KN scoring must be a property of the rows, not the plan:
    repartitioning the corpus changes nothing (count tables are exact
    integer aggregates; the fixed point has no float)."""
    a = sorted(map(tuple, lm.kn_bigram_score(docs).collect()))
    b = sorted(map(tuple, lm.kn_bigram_score(docs.repartition(13)).collect()))
    assert a == b


def test_ngram_diversity(docs, con):
    assert_same(text.ngram_diversity(docs), con, text.ngram_diversity_sql())


def test_ngram_diversity_flags_templates(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["copy paste copy paste copy paste"] * 3
            + ["alpha beta", "gamma delta", "epsilon zeta"],
            "source": ["tmpl"] * 3 + ["fresh"] * 3,
        }
    )
    out = {
        r.source: r.diversity_ppm
        for r in text.ngram_diversity(spark.createDataFrame(pdf)).collect()
    }
    # the template farm repeats its bigrams; the fresh source's are
    # all distinct
    assert out["fresh"] == 1_000_000
    assert out["tmpl"] < 250_000


def test_lang_mix_profile(docs, con):
    assert_same(text.lang_mix_profile(docs), con, text.lang_mix_profile_sql())


def test_lang_mix_profile_detects_code_switching(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "The cat sat. Le chat est la. Der Hund auch. And the dog too.",
                "One sentence the and of. Another the of and.",
                None,  # no sentences -> no row
            ],
        }
    )
    out = {
        r.doc_id: (r.n_sents, r.n_langs, r.dominant_lang, r.dominant_ppm)
        for r in text.lang_mix_profile(spark.createDataFrame(pdf)).collect()
    }
    assert out[1] == (4, 3, "en", 500_000)  # half-English mixed page
    assert out[2] == (2, 1, "en", 1_000_000)  # monolingual
    assert 3 not in out


def test_ngram_diversity_approx_within_error_bound(docs):
    """The HLL scale path estimates within its published error of the
    exact operator (and shares the exact per-source totals)."""
    exact = {r.source: r for r in text.ngram_diversity(docs).collect()}
    approx = {r.source: r for r in text.ngram_diversity_approx(docs).collect()}
    assert set(exact) == set(approx)
    for s in exact:
        assert exact[s].n_ngrams == approx[s].n_ngrams
        assert abs(approx[s].n_distinct - exact[s].n_distinct) <= max(
            2, 0.05 * exact[s].n_distinct
        )


def test_minhash_lsh_pairs_scoped(spark, con):
    import pandas as pd

    words = [f"w{i:02d}" for i in range(40)]
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                " ".join(words),
                " ".join(words[:39] + ["X"]),
                " ".join(words),
                " ".join(words[:39] + ["Y"]),
            ],
            "source": ["a", "a", "b", "b"],
        }
    )
    df = spark.createDataFrame(pdf)
    con.register("t_scope_df", pdf)
    con.execute("CREATE OR REPLACE VIEW t_scope AS SELECT * FROM t_scope_df")
    scoped = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(df, scope_col="source").collect()
    )
    # within-scope pairs only — cross-source candidates are pruned
    assert scoped and all(
        {1, 2} >= set(p) or {3, 4} >= set(p) for p in scoped
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                dedup.minhash_lsh_pairs_sql("t_scope", scope_col="source")
            ).fetchall(),
        )
    )
    assert scoped == want
    # scoped ⊆ unscoped
    allp = sorted(
        (r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(df).collect()
    )
    assert set(scoped) <= set(allp)
