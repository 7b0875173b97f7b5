"""Salted skew join, mergeable count-min, histogram and bottom-k
sketches, and the dedup Bloom filter keyed on a column other than the
text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.skew import salted_join
from ocr_spark.plans import plan_str

SF_DIR = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # skew the key: most docs share lang, which is exactly the case
    dims = docs.select("lang").distinct().withColumn(
        "lang_code", F.crc32(F.col("lang")).cast("long")
    )
    plain = docs.join(dims, ["lang"]).select("doc_id", "lang", "lang_code")
    salted = salted_join(docs, dims, ["lang"], n_salts=8).select(
        "doc_id", "lang", "lang_code"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the join really keys on (lang, salt)
    plan = plan_str(salted, "simple")
    assert "_salt" in plan, plan


def test_salted_left_join_keeps_unmatched_left(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dims = (
        spark.createDataFrame([("en", 1)], "lang string, flag long")
    )
    out = salted_join(docs, dims, ["lang"], n_salts=4, how="left")
    assert out.count() == docs.count()  # every left row exactly once
    n_en = docs.where("lang = 'en'").count()
    assert out.where("flag = 1").count() == n_en
    assert out.where("flag IS NULL").count() == docs.count() - n_en


def test_salted_join_preserves_user_salt_column(spark):
    """A real input column named _salt must survive — the helper
    column picks a non-colliding name."""
    left = spark.createDataFrame(
        [(1, "k1", "keepme")], "id long, k string, _salt string"
    )
    right = spark.createDataFrame([("k1", 7)], "k string, v long")
    out = salted_join(left, right, ["k"], n_salts=4)
    assert "_salt" in out.columns
    [row] = out.collect()
    assert row._salt == "keepme" and row.v == 7


def test_salted_join_rejects_bad_n_salts(spark):
    docs = spark.createDataFrame([(1, "a")], "id long, k string")
    with pytest.raises(ValueError, match="n_salts"):
        salted_join(docs, docs, ["k"], n_salts=0)


def test_salted_join_rejects_right_joins(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(docs, docs, ["doc_id"], how="right")


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def _tokens(spark):
    from ocr_spark.functions.text import words_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return docs.select(F.explode(words_col()).alias("token")).where(
        F.col("token") != ""
    )


def test_cms_build_matches_duckdb_twin(spark):
    import duckdb

    from ocr_spark.functions.sketches import cms_build, cms_build_sql
    from ocr_spark.schema import WS

    got = sorted(map(tuple, cms_build(_tokens(spark), "token").collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    src = (
        "(SELECT v FROM (SELECT unnest(regexp_split_to_array(text,"
        f" '{WS}+')) AS v FROM documents) WHERE v <> '')"
    )
    want = sorted(map(tuple, con.execute(cms_build_sql(src)).fetchall()))
    assert got == want and len(got) > 0


def test_cms_shard_merge_equals_single_pass(spark):
    from ocr_spark.functions.sketches import cms_build, cms_merge

    toks = _tokens(spark).withColumn(
        "shard", (F.md5(F.col("token")).substr(1, 2) > F.lit("7f")).cast("int")
    )
    single = sorted(map(tuple, cms_build(toks, "token").collect()))
    shards = [
        cms_build(toks.where(F.col("shard") == i), "token") for i in (0, 1)
    ]
    merged = sorted(map(tuple, cms_merge(shards[0].unionAll(shards[1])).collect()))
    assert merged == single  # counter addition is lossless


def test_cms_estimates_are_one_sided(spark):
    from ocr_spark.functions.sketches import cms_build, cms_estimate

    toks = _tokens(spark)
    sketch = cms_build(toks, "token")
    exact = toks.groupBy("token").agg(F.count("*").alias("true_n"))
    joined = (
        cms_estimate(sketch, toks, "token")
        .join(exact, F.col("value") == F.col("token"))
        .select("true_n", "estimate")
        .collect()
    )
    assert len(joined) > 0
    assert all(r.estimate >= r.true_n for r in joined)  # never under
    # with depth=4 x width=1024 cells vs a small vocab, most
    # estimates should be exact (collision mass is sparse)
    exact_frac = sum(1 for r in joined if r.estimate == r.true_n) / len(joined)
    assert exact_frac > 0.8


def test_cms_null_values_hash_as_empty(spark):
    from ocr_spark.functions.sketches import cms_build

    a = cms_build(
        spark.createDataFrame([(None,), ("x",)], "v string"), "v"
    ).collect()
    b = cms_build(
        spark.createDataFrame([("",), ("x",)], "v string"), "v"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# Bloom filter (functions/dedup.py) over an arbitrary key column
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_twin_parity(spark):
    import duckdb

    from ocr_spark.functions.dedup import (
        bloom_build,
        bloom_build_sql,
        bloom_novel,
        bloom_novel_sql,
    )

    m = 1 << 12
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    inserted = docs.where(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(inserted, m_bits=m, key=F.col("doc_id"))
    probed = {
        r.doc_id: r.maybe_seen
        for r in bloom_novel(
            docs.select("doc_id"), bloom, m_bits=m, key=F.col("doc_id")
        ).collect()
    }
    # every inserted value must be reported present (one-sided)
    assert all(probed[i] for i in probed if i % 2 == 0)
    # the filter is not saturated: some absent value reports absent
    assert any(not probed[i] for i in probed if i % 2 == 1)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    build_sql = bloom_build_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)", m_bits=m, key="doc_id"
    )
    got_rows = sorted(map(tuple, bloom.collect()))
    want_rows = sorted(map(tuple, con.execute(build_sql).fetchall()))
    assert got_rows == want_rows and len(got_rows) > 0
    want_probe = dict(
        con.execute(
            bloom_novel_sql("documents", build_sql, m_bits=m, key="doc_id")
        ).fetchall()
    )
    assert probed == want_probe


def test_bloom_fp_rate_within_theory(spark):
    from ocr_spark.functions.dedup import bloom_build, bloom_novel

    m, k, n = 1 << 12, 4, 1000
    inserted = spark.range(n).selectExpr("concat('in:', id) AS v")
    absent = spark.range(n).selectExpr("concat('out:', id) AS v")
    bloom = bloom_build(inserted, m_bits=m, k=k, key=F.col("v"))
    fp = (
        bloom_novel(absent, bloom, m_bits=m, k=k, key=F.col("v"))
        .where("maybe_seen")
        .count()
    )
    import math

    theory = (1 - math.exp(-k * n / m)) ** k  # ~0.024 here
    assert fp / n < 3 * theory


def test_bloom_shard_merge_equals_single_pass(spark):
    from ocr_spark.functions.dedup import bloom_build, bloom_merge

    toks = _tokens(spark)
    key = F.col("token")
    single = sorted(map(tuple, bloom_build(toks, key=key).collect()))
    shards = [
        bloom_build(
            toks.where(
                (F.md5(F.col("token")).substr(1, 2) > F.lit("7f")) == bool(i)
            ),
            key=key,
        )
        for i in (0, 1)
    ]
    merged = sorted(map(tuple, bloom_merge(*shards).collect()))
    assert merged == single  # bit_or (set union) is lossless


def test_bloom_null_key_is_never_inserted_or_seen(spark):
    from ocr_spark.functions.dedup import bloom_build, bloom_novel

    # a NULL key inserts nothing, and the gate keeps its row with
    # maybe_seen false (no NULL-key join dropout)
    key = F.col("v")
    with_null = bloom_build(
        spark.createDataFrame([(None,), ("x",)], "v string"), key=key
    )
    without = bloom_build(spark.createDataFrame([("x",)], "v string"), key=key)
    assert sorted(map(tuple, with_null.collect())) == sorted(
        map(tuple, without.collect())
    )
    probe = spark.createDataFrame([(None,), ("x",), ("y",)], "v string")
    got = {
        r.v: r.maybe_seen
        for r in bloom_novel(probe, with_null, key=key).collect()
    }
    assert got == {None: False, "x": True, "y": False}


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch
# ---------------------------------------------------------------------------


def test_hist_sketch_matches_twin_and_merges(spark):
    import duckdb

    from ocr_spark.functions.sketches import (
        hist_quantiles,
        hist_quantiles_sql,
        hist_sketch_build,
        hist_sketch_build_sql,
        hist_sketch_merge,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sk = hist_sketch_build(docs, "n_chars")
    got = sorted(map(tuple, hist_quantiles(sk).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    oracle = sorted(
        map(
            tuple,
            con.execute(
                hist_quantiles_sql(
                    hist_sketch_build_sql(
                        "SELECT CAST(n_chars AS BIGINT) AS v FROM documents"
                    )
                )
            ).fetchall(),
        )
    )
    assert got == oracle and len(got) == 3
    # shard sketches merge to EXACTLY the single-pass sketch
    a = hist_sketch_build(docs.where("doc_id % 2 = 0"), "n_chars")
    b = hist_sketch_build(docs.where("doc_id % 2 = 1"), "n_chars")
    merged = sorted(map(tuple, hist_sketch_merge(a.unionByName(b)).collect()))
    assert merged == sorted(map(tuple, sk.collect()))


def test_hist_quantile_error_bound(spark):
    """Estimates honor the 2^-sub_bits relative-error guarantee vs the
    exact nearest-rank quantiles, including hostile values (zeros,
    ones, powers of two, giants)."""
    import math

    from ocr_spark.functions.sketches import hist_quantiles, hist_sketch_build

    vals = (
        [0] * 5 + [1, 2, 3] + [2**i for i in range(1, 40)]
        + list(range(100, 4000, 7)) + [10**12]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = dict(
        map(tuple, hist_quantiles(hist_sketch_build(df, "v")).collect())
    )
    s = sorted(vals)
    for q in (500, 900, 990):
        true = s[math.ceil(q / 1000 * len(s)) - 1]
        est = got[q]
        if true == 0:
            assert est == 0
        else:
            assert abs(est - true) / true <= 2**-5, (q, est, true)


def test_hist_small_values_exact_and_monotone(spark):
    """Session-10 review regression: values below 2^(sub_bits+1) get
    exact unit bins (the naive keep-the-MSB sub-bits double-counted
    2^e — all-3s corpora reported p50=5, and rep(bin(31)) > rep(bin(32))
    made a p50 estimate able to exceed p90). NULLs land in the zero
    bin, never a NULL bin whose window ordering differs per engine."""
    from ocr_spark.functions.sketches import hist_quantiles, hist_sketch_build

    # all-3s corpus: every quantile is exactly 3
    df3 = spark.createDataFrame([(3,)] * 9, "v long")
    got = dict(map(tuple, hist_quantiles(hist_sketch_build(df3, "v")).collect()))
    assert got == {500: 3, 900: 3, 990: 3}

    # 1..40 straddles the unit/geometric boundary (64 at sub_bits=5):
    # every estimate exact here, and estimates monotone in q
    df40 = spark.createDataFrame([(v,) for v in range(1, 41)], "v long")
    got = dict(map(tuple, hist_quantiles(hist_sketch_build(df40, "v")).collect()))
    assert got[500] == 20 and got[900] == 36 and got[990] == 40
    assert got[500] <= got[900] <= got[990]

    # NULL values count in the zero bin alongside true zeros
    dfn = spark.createDataFrame([(None,), (None,), (7,)], "v long")
    sk = dict(map(tuple, hist_sketch_build(dfn, "v").collect()))
    assert sk == {0: 2, 7: 1}


def test_hist_quantiles_validation(spark):
    from ocr_spark.functions.sketches import hist_quantiles, hist_sketch_build

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError):
        hist_quantiles(hist_sketch_build(df, "v"), qs_permille=(0,))


def test_source_overlap_matches_twin_and_estimates(spark):
    import duckdb

    from ocr_spark.functions.sketches import source_overlap, source_overlap_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(map(tuple, source_overlap(docs).collect()))
    want = sorted(map(tuple, con.execute(source_overlap_sql()).fetchall()))
    assert got == want
    # 20 sources -> C(20,2) pairs; every pair reported even at 0 overlap
    assert len(got) == 190

    # accuracy on a known construction: |A ∩ B| = 200, |A ∪ B| = 600
    rows = (
        [(i, f"uniq-a-{i}", "A") for i in range(200)]
        + [(1000 + i, f"shared-{i}", "A") for i in range(200)]
        + [(2000 + i, f"shared-{i}", "B") for i in range(200)]
        + [(3000 + i, f"uniq-b-{i}", "B") for i in range(200)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    est = {
        (r.source_a, r.source_b): r.est_jaccard_permille
        for r in source_overlap(df, k=128).collect()
    }
    # true J = 333 permille; k=128 bottom-k keeps the estimate within
    # a few standard errors (sigma ~ sqrt(J(1-J)/k) ~ 42 permille)
    assert abs(est[("A", "B")] - 333) <= 120

    # identical sources estimate exactly 1000 (sketches coincide)
    both = spark.createDataFrame(
        [(i, f"doc-{i}", s) for s in ("X", "Y") for i in range(50)],
        "doc_id long, text string, source string",
    )
    out = source_overlap(both, k=32).collect()
    assert len(out) == 1 and out[0].est_jaccard_permille == 1000
    assert out[0].n_common == out[0].k_eff == 32

    with pytest.raises(ValueError):
        source_overlap(docs, k=0)
