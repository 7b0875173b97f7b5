"""ID-type-agnosticism: every dedup/text operator must accept string
doc_ids ('sha1:...') natively and emit them unchanged.

The reference keys everything by string file_path/file_token
(/root/reference/webapp/jobs.py:221-224) — string ids are the normal
production case. Round 2 cast doc_id to long inside the operators,
which NULLed every string id and silently emptied results; these tests
pin the fix (no cast anywhere in the operator layer)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.dedup import (
    dup_clusters,
    exact_dedup,
    lsh_verified_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from ocr_spark.functions.text import fingerprint, lang_id, quality_score, token_counts

WORDS = " ".join(f"w{i:02d}" for i in range(40))
NEAR = " ".join([f"w{i:02d}" for i in range(39)] + ["CHANGED"])
DISTINCT = " ".join(f"z{i:02d}" for i in range(40))


def _sid(i: int) -> str:
    return f"sha1:{i:040x}"


@pytest.fixture(scope="module")
def sdocs(spark):
    df = pd.DataFrame(
        {
            "doc_id": [_sid(i) for i in range(1, 6)],
            "text": [WORDS, WORDS, NEAR, DISTINCT, DISTINCT],
        }
    )
    return spark.createDataFrame(df).persist()


def test_exact_dedup_string_ids(sdocs):
    rows = exact_dedup(sdocs).collect()
    # 3 distinct texts; rep = lexicographic-min id of each group
    got = {r.text_md5: (r.n_docs, r.rep_doc_id) for r in rows}
    assert len(got) == 3
    reps = sorted(r.rep_doc_id for r in rows)
    assert reps == [_sid(1), _sid(3), _sid(4)]
    assert {r.n_docs for r in rows} == {2, 1, 2}


def test_minhash_lsh_pairs_string_ids(sdocs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(sdocs).collect()}
    # identical texts always share every band; ids ride through intact
    assert (_sid(1), _sid(2)) in pairs
    assert (_sid(4), _sid(5)) in pairs
    assert all(a.startswith("sha1:") and b.startswith("sha1:") for a, b in pairs)


def test_lsh_verified_and_clusters_string_ids(sdocs):
    ver = lsh_verified_pairs(sdocs, tau=0.5).collect()
    pairs = {(r.doc_a, r.doc_b) for r in ver}
    assert (_sid(1), _sid(2)) in pairs and (_sid(4), _sid(5)) in pairs
    cl = dup_clusters(sdocs, tau=0.5).collect()
    labels = {r.doc_id: r.cluster_rep for r in cl}
    assert labels[_sid(1)] == labels[_sid(2)] == _sid(1)
    assert labels[_sid(4)] == labels[_sid(5)] == _sid(4)


def test_simhash_and_pairs_string_ids(sdocs):
    fp = {r.doc_id: r.simhash for r in simhash(sdocs).collect()}
    assert set(fp) == {_sid(i) for i in range(1, 6)}
    assert fp[_sid(1)] == fp[_sid(2)]
    pairs = {(r.doc_a, r.doc_b) for r in simhash_pairs(sdocs).collect()}
    assert (_sid(1), _sid(2)) in pairs


def test_ngram_jaccard_string_ids(sdocs):
    rows = ngram_jaccard_pairs(sdocs, tau=0.5).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert pairs[(_sid(1), _sid(2))] == 1.0
    assert pairs[(_sid(4), _sid(5))] == 1.0
    assert 0.5 < pairs[(_sid(1), _sid(3))] < 1.0


def test_text_operators_string_ids(sdocs):
    n = sdocs.count()
    for op in (token_counts, lang_id, quality_score, fingerprint):
        out = op(sdocs)
        assert out.schema["doc_id"].dataType.simpleString() == "string", op.__name__
        rows = out.collect()
        assert len(rows) == n, op.__name__
        assert {r.doc_id for r in rows} == {_sid(i) for i in range(1, 6)}, op.__name__


def test_int_ids_still_work(spark):
    """The contract corpus is int-id — the agnostic layer must not have
    changed int behavior (oracle twins cast BIGINT, a no-op there)."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [WORDS, WORDS, DISTINCT]})
    )
    rows = exact_dedup(df).collect()
    assert sorted(r.rep_doc_id for r in rows) == [1, 3]
    assert token_counts(df).schema["doc_id"].dataType.simpleString() == "bigint"


def test_pages_operators_string_ids(spark):
    from ocr_spark.pipeline.pages import page_count_probe, split_pages, unique_names

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [_sid(1), _sid(2)],
                "text": [WORDS, ""],
                "source": ["a.pdf", "a.pdf"],
            }
        )
    )
    sp = split_pages(df)
    assert sp.schema["doc_id"].dataType.simpleString() == "string"
    assert {r.doc_id for r in sp.collect()} == {_sid(1), _sid(2)}
    probe = {r.doc_id: r.pages_detected for r in page_count_probe(df).collect()}
    assert set(probe) == {_sid(1), _sid(2)}
    un = {r.doc_id: r.unique_name for r in unique_names(df).collect()}
    assert un == {_sid(1): "a.pdf", _sid(2): "a_1.pdf"}


def test_remove_repeated_passages_string_ids(spark):
    """The cut pass keys the canonical pick on raw doc_id order —
    string ids must ride through intact, with the lexicographic-min
    id holding the canonical occurrence."""
    from ocr_spark.functions.scrub import remove_repeated_passages

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY AND SAVE BIG! "
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [_sid(3), _sid(1), _sid(2)],
                "text": [
                    "gamma body here. " + banner + "tail three.",
                    "alpha body here. " + banner + "tail one.",
                    "beta body here.. " + banner + "tail two..",
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_passages(
            df, w_chars=16, gap=3, min_docs=2, max_chars=None
        ).collect()
    }
    assert set(out) == {_sid(1), _sid(2), _sid(3)}
    # sha1:...1 is the lexicographic minimum -> canonical, untouched
    assert banner in out[_sid(1)]["text"] and out[_sid(1)]["n_cuts"] == 0
    for k in (_sid(2), _sid(3)):
        assert banner not in out[k]["text"] and out[k]["n_cuts"] > 0


def test_phrase_search_string_ids(spark):
    from ocr_spark.functions.tfidf import phrase_search

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [_sid(1), _sid(2)],
                "text": ["quick brown fox", "brown quick fox"],
            }
        )
    )
    out = {r.doc_id: r.n_matches for r in
           phrase_search(df, ["quick", "brown"]).collect()}
    assert out == {_sid(1): 1}


def test_session13_operators_string_ids(sdocs, spark):
    """Session-13 surface: containment, duplication severity,
    curriculum order, script/lexical/encoding profiles, KN scoring,
    snapshot diff — string ids flow through and come back unchanged."""
    from ocr_spark.functions.dedup import (
        containment_pairs,
        containment_verify,
        snapshot_diff,
    )
    from ocr_spark.functions.lm import kn_bigram_score
    from ocr_spark.functions.sampling import curriculum_order
    from ocr_spark.functions.scrub import duplication_profile
    from ocr_spark.functions.text import lexical_stats, script_profile
    from ocr_spark.functions.unicode_norm import encoding_profile

    sids = {r.doc_id for r in sdocs.select("doc_id").collect()}
    # per-doc profiles: every id emitted unchanged
    for op in (script_profile, lexical_stats, encoding_profile,
               kn_bigram_score, duplication_profile):
        got = {r.doc_id for r in op(sdocs).collect()}
        assert got == sids, op.__name__
    # containment over the exact-dup pair: string ids in pair columns
    cp = containment_pairs(sdocs).collect()
    assert cp and all(
        r.doc_a in sids and r.doc_b in sids and r.doc_a < r.doc_b for r in cp
    )
    cand = spark.createDataFrame(
        [(_sid(1), _sid(2))], "doc_a string, doc_b string"
    )
    cv = containment_verify(sdocs, cand, tau_c=0.5).collect()
    assert cv and cv[0].cont_a_in_b == 1.0
    # curriculum: every doc ordered, ids unchanged
    co = curriculum_order(sdocs, n_shards=2).collect()
    assert {r.doc_id for r in co} == sids
    # snapshot diff between string-id snapshots
    new = sdocs.where(F.col("doc_id") != _sid(5))
    sd = {r.doc_id: r.status for r in snapshot_diff(sdocs, new).collect()}
    assert sd[_sid(5)] == "removed" and sd[_sid(1)] == "same"
