"""Bigram language-model fluency scoring — the perplexity-filter
analog (CCNet-style: score each document by how well a corpus LM
predicts it; gibberish, OCR noise, and keyword-stuffed spam score
low even when length/symbol heuristics pass).

No libm on the hash-compared path: instead of log-probabilities the
score is the EXACT integer sum of scaled conditional probabilities

    p_scaled(w2 | w1) = (10^6 * count(w1,w2)) // count(w1, *)

summed over a doc's bigrams — integer multiply / integer divide /
integer sum, so the result is partition-, engine-, and association-
independent (the same discipline as the tf-idf rational idf).
Downstream gates threshold the mean ``sum_scaled / n_bigrams``
however they like; the stored columns stay integers.

Scale shape: ONE corpus scan builds the bigram and prefix-unigram
count tables (explode + map-side partial counts, one shuffle each);
scoring joins each doc bigram to its two counts on uniform 60-bit
hash keys — broadcastable when the LM is a capped vocabulary, shuffle
hash join otherwise. Bigrams are hashed (never carried as strings)
through the joins; the pair key uses the \\x1f unit separator so
('a b','c') and ('a','b c') cannot collide.

Self-scoring (lm over the same corpus) needs no smoothing — every
scored bigram exists in the counts. Cross-scoring (score batch B
against corpus A) hits unseen bigrams: they contribute 0, the honest
"LM has never seen this transition" signal (add-one smoothing would
need a vocabulary-size constant; keep the operator deterministic and
simple).

Reference analog: none — beyond-reference training-data surface
(SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long_expr, md5_long_sql
from ocr_spark.schema import WS

P_SCALE = 1_000_000  # probability fixed-point units
# pair key separator: chr(31) (unit separator) exists identically in
# both dialects and cannot appear in whitespace-split tokens, so
# ('a b','c') and ('a','b c') cannot collide
SEP_EXPR = "chr(31)"


# Bigram building blocks shared with the DSIR featurizer (dsir.py):
# ONE definition of "word" and "pair" so LM transitions and DSIR
# features can never tokenize differently.
# Spark: bound inside "transform(array(<words>), w -> ... i ...)".
PAIR_EXPR = f"concat(element_at(w, i), {SEP_EXPR}, element_at(w, i + 1))"
# DuckDB: bound inside "list_transform(range(1, len(w)), i -> ...)".
PAIR_SQL = f"w[i] || {SEP_EXPR} || w[i + 1]"


def _words_expr() -> str:
    # non-empty whitespace tokens (the shared WS class; empty tokens
    # from leading/trailing/double whitespace carry no LM signal)
    return f"filter(split(text, '{WS}+'), x -> x != '')"


def _words_sql() -> str:
    """DuckDB twin of :func:`_words_expr`."""
    return f"list_filter(regexp_split_to_array(text, '{WS}+'), x -> x != '')"


def _pair_enum_expr(payload: str, empty_type: str) -> str:
    """The module's ONE adjacent-pair enumeration skeleton (Spark):
    LET-bound word array (split once per row — CSE does not hoist out
    of lambda bodies, the shingles lesson), 1..len-1 positions, a
    caller-chosen struct payload over (w, i). Shared by the LM hash
    pairs and collocation word pairs so "pair" can never mean two
    different enumerations."""
    return (
        f"flatten(transform(array({_words_expr()}), w -> "
        f"CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
        f"i -> {payload}) "
        f"ELSE CAST(array() AS {empty_type}) END))"
    )


def _bigrams_expr() -> str:
    h1 = md5_long_expr("element_at(w, i)")
    h12 = md5_long_expr(PAIR_EXPR)
    return _pair_enum_expr(
        f"struct({h1} AS h1, {h12} AS h12)",
        "ARRAY<STRUCT<h1: BIGINT, h12: BIGINT>>",
    )


def bigram_lm_score(docs: DataFrame, lm_docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, sum_scaled): per-doc fluency score against
    the bigram LM built from ``lm_docs`` (default: ``docs`` itself —
    the self-LM fluency signal). ``sum_scaled`` is the exact integer
    sum of ``(10^6 * c(w1,w2)) // c(w1,*)`` over the doc's bigrams;
    divide by ``n_bigrams`` for the mean conditional probability.
    Docs with < 2 words emit (0, 0) — no transitions to judge."""
    lm_src = docs if lm_docs is None else lm_docs
    lm_pairs = lm_src.selectExpr(f"explode({_bigrams_expr()}) AS b").select(
        "b.h1", "b.h12"
    )
    bi_counts = lm_pairs.groupBy("h12").agg(F.count("*").alias("c_bi"))
    uni_counts = lm_pairs.groupBy("h1").agg(F.count("*").alias("c_uni"))

    doc_pairs = docs.selectExpr(
        "doc_id", f"explode_outer({_bigrams_expr()}) AS b"
    ).select("doc_id", "b.h1", "b.h12")
    scored = (
        doc_pairs.join(bi_counts, "h12", "left")
        .join(uni_counts, "h1", "left")
        .groupBy("doc_id")
        .agg(
            F.count("h12").alias("n_bigrams"),
            F.sum(
                F.expr(
                    f"CASE WHEN c_uni IS NULL OR c_bi IS NULL THEN 0 "
                    f"ELSE ({P_SCALE} * c_bi) div c_uni END"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("sum_scaled"),
        )
    )
    return scored


def _pair_enum_sql(src: str, payload: str) -> str:
    """DuckDB twin of :func:`_pair_enum_expr` — the ONE enumeration
    idiom (list_transform over range(1, len(w)), len>=2 guard)."""
    w = _words_sql()
    return (
        "SELECT doc_id, unnest(pairs) AS b FROM ("
        "SELECT doc_id, CASE WHEN len(w) >= 2 THEN "
        f"list_transform(range(1, len(w)), i -> {payload}) "
        "ELSE [] END AS pairs FROM "
        f"(SELECT doc_id, {w} AS w FROM {src}))"
    )


def bigram_lm_score_sql(table: str = "documents", lm_table: str | None = None) -> str:
    """DuckDB twin of :func:`bigram_lm_score` (1-based list indexing
    matches element_at; range() exclusive stop mirrors sequence()'s
    inclusive stop via len(w) unchanged: range(1, len) = 1..len-1)."""
    lm = lm_table or table
    w = _words_sql()
    h1 = md5_long_sql("w[i]")
    h12 = md5_long_sql(PAIR_SQL)
    def pairs(src: str) -> str:
        return _pair_enum_sql(src, f"{{'h1': {h1}, 'h12': {h12}}}")

    return f"""
      WITH lm_pairs AS (
        SELECT b.h1 AS h1, b.h12 AS h12 FROM ({pairs(lm)})
      ),
      bi AS (SELECT h12, count(*) AS c_bi FROM lm_pairs GROUP BY h12),
      uni AS (SELECT h1, count(*) AS c_uni FROM lm_pairs GROUP BY h1),
      doc_pairs AS (
        SELECT d.doc_id, p.b.h1 AS h1, p.b.h12 AS h12
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM {table}) d
        LEFT JOIN (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, b
          FROM ({pairs(table)})
        ) p ON d.doc_id = p.doc_id
      )
      SELECT doc_id,
             CAST(count(h12) AS BIGINT) AS n_bigrams,
             CAST(coalesce(sum(
               CASE WHEN c_uni IS NULL OR c_bi IS NULL THEN 0
                    ELSE ({P_SCALE} * c_bi) // c_uni END), 0) AS BIGINT)
               AS sum_scaled
      FROM doc_pairs
      LEFT JOIN bi USING (h12)
      LEFT JOIN uni USING (h1)
      GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------

# absolute discount D = 3/4 as an exact rational (the standard KN
# discount for counts >= 2; kept rational so the fixed-point stays
# off libm and engine-exact)
KN_D_NUM = 3
KN_D_DEN = 4


def _kn_bigrams_expr() -> str:
    """Bigram triples (h1, h12, h2) — the KN tables additionally need
    the SECOND word's hash (continuation counts are keyed on it).
    Separate from :func:`_bigrams_expr` so the plain-LM path never
    pays the third md5 (column pruning cannot reach inside a HOF
    lambda)."""
    h1 = md5_long_expr("element_at(w, i)")
    h2 = md5_long_expr("element_at(w, i + 1)")
    h12 = md5_long_expr(PAIR_EXPR)
    return _pair_enum_expr(
        f"struct({h1} AS h1, {h12} AS h12, {h2} AS h2)",
        "ARRAY<STRUCT<h1: BIGINT, h12: BIGINT, h2: BIGINT>>",
    )


def kn_bigram_score(docs: DataFrame, lm_docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, sum_kn_scaled): per-doc fluency under an
    interpolated Kneser-Ney bigram LM built from ``lm_docs`` (default:
    ``docs`` itself) — the smoothing upgrade over
    :func:`bigram_lm_score` for CROSS-scoring, where the raw-count LM
    scores every unseen transition 0 regardless of how plausible the
    continuation word is. KN's continuation probability ("how many
    distinct contexts does w2 follow?") is exactly the repair: a
    never-seen bigram whose second word is a promiscuous continuation
    ("the <anything>") still scores > 0, while a gibberish token
    scores 0 from both terms.

        P_KN(w2|w1) = max(c(w1,w2) - D, 0) / c(w1,*)
                    + (D * N1+(w1,*) / c(w1,*)) * (N1+(*,w2) / N_bi)

    with D = 3/4, N1+(w1,*) = distinct continuations of w1, N1+(*,w2)
    = distinct contexts preceding w2, N_bi = distinct bigram types.
    The fixed-point form (scale 10^6, all-integer; div = floor on the
    non-negative operands, so Spark ``div`` == DuckDB ``//``):

        term1 = (10^6 * max(4*c12 - 3, 0)) div (4*c1)
        term2 = ((3 * 10^6 * nf * np) div (4*c1)) div n_bi

    — the chained div is exact (floor(floor(a/b)/c) == floor(a/(b*c))
    for positive integers), avoiding the 4*c1*n_bi denominator
    overflow at corpus scale. Valid while 3e6 * nf * np < 2^63, i.e.
    sqrt(nf*np) < ~1.7e6 distinct continuations — beyond that, split
    the numerator product the same way. Unseen prefix (c1 NULL) → 0:
    the honest "LM has never seen this context" signal, matching the
    raw-count operator's contract.

    Scale shape: four plan branches each re-run the bigram explode
    (bigram counts, prefix counts + continuation fanout in one
    groupBy, predecessor fanout, per-doc scoring). That re-execution
    is deliberate: the explode is pure scan-stage work (no shuffle),
    while materializing the triple table would pin O(corpus word
    pairs) rows — at the design point hundreds of TB — to executor
    storage and truncate lineage (a lost block then FAILS the job
    instead of recomputing; the fluency_buckets precedent checkpoints
    per-DOC scores, three orders smaller — measured at sf0.1 the
    checkpointed-triples variant saved ~3%, all stage floors). The
    only shuffles are the three vocabulary-bounded count aggregates
    (map-side partials), three left equi-joins on uniform 60-bit hash
    keys plus a broadcast 1-row bigram-type total, and one per-doc
    aggregate.
    """
    lm_src = docs if lm_docs is None else lm_docs
    lm_pairs = lm_src.selectExpr(
        f"explode({_kn_bigrams_expr()}) AS b"
    ).select("b.h1", "b.h12", "b.h2")
    doc_pairs = docs.selectExpr(
        "doc_id", f"explode_outer({_kn_bigrams_expr()}) AS b"
    ).select("doc_id", "b.h1", "b.h12", "b.h2")
    bi = lm_pairs.groupBy("h12").agg(F.count("*").alias("c_bi"))
    uni = lm_pairs.groupBy("h1").agg(
        F.count("*").alias("c_uni"),
        F.countDistinct("h12").alias("n_follow"),
    )
    prec = lm_pairs.groupBy("h2").agg(
        F.countDistinct("h12").alias("n_prec")
    )
    nbi = uni.agg(F.sum("n_follow").alias("n_bi_types"))
    p_kn = (
        f"CASE WHEN c_uni IS NULL THEN 0 ELSE "
        f"(({P_SCALE} * greatest({KN_D_DEN} * coalesce(c_bi, 0) - {KN_D_NUM}, 0))"
        f" div ({KN_D_DEN} * c_uni)) "
        f"+ ((({KN_D_NUM} * {P_SCALE} * n_follow * coalesce(n_prec, 0))"
        f" div ({KN_D_DEN} * c_uni)) div n_bi_types) END"
    )
    return (
        doc_pairs.join(bi, "h12", "left")
        .join(uni, "h1", "left")
        .join(prec, "h2", "left")
        .crossJoin(F.broadcast(nbi))
        .groupBy("doc_id")
        .agg(
            F.count("h12").alias("n_bigrams"),
            F.sum(F.expr(p_kn)).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("sum_kn_scaled"),
        )
    )


def kn_bigram_score_sql(table: str = "documents", lm_table: str | None = None) -> str:
    """DuckDB twin of :func:`kn_bigram_score` — same count tables,
    same chained floor-division fixed point."""
    lm = lm_table or table
    h1 = md5_long_sql("w[i]")
    h2 = md5_long_sql("w[i + 1]")
    h12 = md5_long_sql(PAIR_SQL)

    def pairs(src: str) -> str:
        return _pair_enum_sql(
            src, f"{{'h1': {h1}, 'h12': {h12}, 'h2': {h2}}}"
        )

    p_kn = (
        f"CASE WHEN c_uni IS NULL THEN 0 ELSE "
        f"(({P_SCALE} * greatest({KN_D_DEN} * coalesce(c_bi, 0) - {KN_D_NUM}, 0))"
        f" // ({KN_D_DEN} * c_uni)) "
        f"+ ((({KN_D_NUM} * {P_SCALE} * n_follow * coalesce(n_prec, 0))"
        f" // ({KN_D_DEN} * c_uni)) // n_bi_types) END"
    )
    return f"""
      WITH lm_pairs AS (
        SELECT b.h1 AS h1, b.h12 AS h12, b.h2 AS h2 FROM ({pairs(lm)})
      ),
      bi AS (SELECT h12, count(*) AS c_bi FROM lm_pairs GROUP BY h12),
      uni AS (
        SELECT h1, count(*) AS c_uni, count(DISTINCT h12) AS n_follow
        FROM lm_pairs GROUP BY h1
      ),
      prec AS (
        SELECT h2, count(DISTINCT h12) AS n_prec FROM lm_pairs GROUP BY h2
      ),
      nbi AS (SELECT CAST(sum(n_follow) AS BIGINT) AS n_bi_types FROM uni),
      doc_pairs AS (
        SELECT d.doc_id, p.b.h1 AS h1, p.b.h12 AS h12, p.b.h2 AS h2
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM {table}) d
        LEFT JOIN (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, b
          FROM ({pairs(table)})
        ) p ON d.doc_id = p.doc_id
      )
      SELECT doc_id,
             CAST(count(h12) AS BIGINT) AS n_bigrams,
             CAST(coalesce(sum({p_kn}), 0) AS BIGINT) AS sum_kn_scaled
      FROM doc_pairs
      LEFT JOIN bi USING (h12)
      LEFT JOIN uni USING (h1)
      LEFT JOIN prec USING (h2)
      CROSS JOIN nbi
      GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# CCNet-style fluency buckets (head / middle / tail)
# ---------------------------------------------------------------------------

TERCILES = (1 / 3, 2 / 3)


def fluency_buckets(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    accuracy: int = 1_000_000,
) -> DataFrame:
    """(doc_id, n_bigrams, mean_scaled, bucket): split the corpus into
    CCNet's head / middle / tail terciles by LM fluency.

    CCNet buckets documents by the perplexity of a reference LM and
    keeps the head (most fluent third) for training; this is that
    gate over :func:`bigram_lm_score`. ``mean_scaled`` is the exact
    integer mean conditional probability ``sum_scaled div n_bigrams``
    (0 when a doc has no bigrams — such docs are judged least fluent
    and sink toward the tail). Tercile thresholds are nearest-rank
    percentiles of ``mean_scaled``: exact BIGINTs drawn from the data
    (no float interpolation in the contract), with values EQUAL to a threshold falling into the
    lower bucket. With default ``accuracy`` the Spark percentile is
    exact up to 10^6 docs; at corpus scale lower it and the thresholds
    become t-digest approximations of the same cut points (the bucket
    boundary blurs, the operator shape is unchanged).

    Scale shape: the LM scoring subtree is localCheckpoint'ed once —
    the threshold aggregate and the bucket projection both consume it,
    and without materialization each branch would re-run the two
    LM-count shuffles (the lsh_verified_pairs precedent). Thresholds
    are a broadcast 1-row aggregate; the bucket label itself is pure
    scan-stage codegen over the checkpointed scores.
    """
    scores = bigram_lm_score(docs, lm_docs).withColumn(
        "mean_scaled",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("sum_scaled div n_bigrams"),
        ).otherwise(F.lit(0)).cast("long"),
    ).localCheckpoint()
    ths = scores.agg(
        F.percentile_approx(
            "mean_scaled", F.lit(list(TERCILES)), F.lit(accuracy)
        ).alias("t")
    ).select(
        F.col("t")[0].cast("long").alias("t_lo"),
        F.col("t")[1].cast("long").alias("t_hi"),
    )
    bucket = (
        F.when(F.col("mean_scaled") > F.col("t_hi"), F.lit("head"))
        .when(F.col("mean_scaled") > F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scores.crossJoin(F.broadcast(ths))
        .select("doc_id", "n_bigrams", "mean_scaled", bucket.alias("bucket"))
    )


def fluency_buckets_sql(table: str = "documents", lm_table: str | None = None) -> str:
    """DuckDB twin of :func:`fluency_buckets` — quantile_disc picks
    the same nearest-rank element as exact-mode percentile_approx
    (agreement at thirds probed across sizes incl. ties)."""
    return f"""
      WITH scores AS (
        SELECT doc_id, n_bigrams, sum_scaled,
               CAST(CASE WHEN n_bigrams > 0
                    THEN sum_scaled // n_bigrams ELSE 0 END AS BIGINT)
                 AS mean_scaled
        FROM ({bigram_lm_score_sql(table, lm_table)})
      ), ths AS (
        SELECT CAST(quantile_disc(mean_scaled, {TERCILES[0]!r}) AS BIGINT) AS t_lo,
               CAST(quantile_disc(mean_scaled, {TERCILES[1]!r}) AS BIGINT) AS t_hi
        FROM scores
      )
      SELECT doc_id, n_bigrams, mean_scaled,
             CASE WHEN mean_scaled > t_hi THEN 'head'
                  WHEN mean_scaled > t_lo THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scores CROSS JOIN ths
    """


# ---------------------------------------------------------------------------
# collocation mining (bigram association / PMI ranking)
# ---------------------------------------------------------------------------


def collocations(
    docs: DataFrame, k: int = 50, min_count: int = 5
) -> DataFrame:
    """(w1, w2, n_ab, n_a, n_b, lift_scaled): the top-``k`` adjacent
    word pairs by pointwise-mutual-information RANK — collocation
    mining ("new york", "machine learning"), the statistic that
    separates phrases from chance co-occurrence.

    lift_scaled = floor(10^6 * (n_ab * N) / (n_a * n_b)) where N is
    the corpus token count — the PMI argument without the log (log is
    monotone, so the RANKING is the PMI ranking, and the hash-compared
    value stays off libm, the tf-idf discipline). The float quotient
    is computed per bigram row from exact integer counts in a pinned
    expression tree (IEEE-identical across engines); ``min_count``
    floors n_ab because PMI famously explodes on hapax pairs. Ties
    break (w1, w2) ascending.

    Shape at scale: one bigram explode + count shuffle (map-side
    partials), one unigram explode + count shuffle, two equi-joins of
    the (already aggregated, vocabulary-bounded) bigram table against
    the unigram table, broadcast 1-row N, TakeOrderedAndProject
    top-k. The joins move pair/vocab tables, never the corpus.
    """
    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be >= 1")
    pairs_expr = _pair_enum_expr(
        "struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2)",
        "ARRAY<STRUCT<w1: STRING, w2: STRING>>",
    )
    live = docs.where(F.col("text").isNotNull())
    bi = (
        live.selectExpr(f"explode({pairs_expr}) AS p")
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    uni = (
        live.selectExpr(f"explode({_words_expr()}) AS w")
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    totals = uni.agg(F.sum("n_w").alias("n_total"))
    lift = F.floor(
        (
            (F.col("n_ab").cast("double") * F.col("n_total").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        bi.join(uni.selectExpr("w AS w1", "n_w AS n_a"), "w1")
        .join(uni.selectExpr("w AS w2", "n_w AS n_b"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            lift.alias("lift_scaled"),
        )
        .orderBy(
            F.col("lift_scaled").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        )
        .limit(k)
    )


def collocations_sql(
    table: str = "documents", k: int = 50, min_count: int = 5
) -> str:
    """DuckDB twin of :func:`collocations` (counts cast back from
    HUGEINT; the float tree is node-for-node the Spark one)."""
    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be >= 1")
    w = _words_sql()
    pair_rows = _pair_enum_sql("live", "{'w1': w[i], 'w2': w[i + 1]}")
    return f"""
      WITH live AS (
        SELECT doc_id, text FROM {table} WHERE text IS NOT NULL
      ),
      bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM (
          SELECT b.w1 AS w1, b.w2 AS w2 FROM ({pair_rows})
        ) GROUP BY w1, w2 HAVING count(*) >= {min_count}
      ),
      uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM (
          SELECT unnest({w}) AS w FROM live
        ) GROUP BY w
      ),
      totals AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni)
      SELECT w1, w2, n_ab, n_a, n_b,
             CAST(floor(((CAST(n_ab AS DOUBLE) * CAST(n_total AS DOUBLE))
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS lift_scaled
      FROM bi
      JOIN (SELECT w AS w1, n_w AS n_a FROM uni) ua USING (w1)
      JOIN (SELECT w AS w2, n_w AS n_b FROM uni) ub USING (w2)
      CROSS JOIN totals
      ORDER BY lift_scaled DESC, w1 ASC, w2 ASC
      LIMIT {k}
    """
