"""TF-IDF term weighting and per-document top terms.

The keyword-extraction staple for corpus triage (what is this
document about; which docs over-index on a term) and a building
block for sparse retrieval. Composition, all declarative:

1. explode lower-cased alnum tokens → (doc_id, term)
2. tf: groupBy (doc_id, term) count — map-side partial agg, one
   shuffle on uniform (doc, term) keys
3. df: count(*) OVER (PARTITION BY term) on the tf table — one more
   shuffle (on term), NO join and NO second corpus scan. The naive
   "aggregate df then join back" formulation reads and explodes the
   corpus twice: column pruning rewrites the df branch's aggregate
   subtree, so Spark's ReusedExchange never fires on it.
4. corpus size N joins in as a broadcast single-row aggregate (kept
   lazy — no driver action in the operator)
5. weight + per-doc top-k via a rank window (WindowGroupLimit
   truncates k per doc map-side before the final shuffle)

Scale notes: vocabulary at corpus scale is NOT broadcast-able — df
arrives via shuffle on the term key (uniform by nature; boilerplate
mega-terms are exactly the high-df terms whose weight → 0). The only
broadcast is the 1-row N; the whole operator is one corpus scan plus
three uniform-key shuffles.

Cross-engine exactness: the contract variant uses the RATIONAL idf
(N + 1) / (df + 1) — integer-derived doubles whose quotient is
IEEE-identical in both engines. The conventional ln() idf is offered
too (``idf="log"``), but Java's Math.log and C libm are only
1-ulp-bounded, not identically rounded — that last-ulp dialect trap
is the same family as the printf/regex divergences this repo's fuzz
harnesses exist for, so the oracle-gated shape keeps log out of the
hash-compared path (floor6 guards the ranking only).

Reference analog: none (no term statistics in the reference);
beyond-reference text-analysis surface alongside
``text.py``'s lang-ID/quality/fingerprint (SURVEY.md §2 addenda).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long as _md5_long
from ocr_spark.functions.text import floor6, floor6_sql

# alnum runs extracted from the RAW text, lower-cased AFTERWARDS:
# tokens matched by this class are pure ASCII, and ASCII-only
# lowercase is locale- and engine-independent. lower() BEFORE
# extraction is a dialect trap — Java's full case mapping can create
# or remove ASCII letters ('İ' → 'i'+combining dot splits runs
# differently than DuckDB's simple mapping, and a Turkish-locale JVM
# lowercases 'I' to dotless ı), silently diverging the twins.
TERM_RE = "[a-zA-Z0-9]+"


def _terms(docs: DataFrame, min_term_len: int) -> DataFrame:
    """(doc_id, term): the module's ONE tokenizer — extract-then-lower
    (see the dialect-trap note above), length-filtered. Shared by
    tf-idf and BM25 so 'term' can never mean two different things."""
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(TERM_RE), 0)
            ).alias("term"),
        )
        # generators can't nest inside expressions — lowercase (ASCII-
        # only by construction of TERM_RE) in a follow-up projection
        .select("doc_id", F.lower(F.col("term")).alias("term"))
        .where(F.length("term") >= min_term_len)
    )


def _terms_select_sql(table: str, min_term_len: int) -> str:
    """DuckDB twin of :func:`_terms`."""
    return (
        "SELECT doc_id, term FROM ("
        f"SELECT doc_id, lower(unnest(regexp_extract_all(text, '{TERM_RE}'))) AS term "
        f"FROM {table} WHERE text IS NOT NULL"
        f") WHERE length(term) >= {min_term_len}"
    )


def _query_terms(query_terms, min_term_len: int) -> list[str]:
    """Shared validation for BOTH bm25 twins: lowercase, dedup, and
    reject terms no token could ever equal (non-alnum — which also
    guarantees the inlined SQL literals need no escaping — or shorter
    than the length filter). Raises ValueError, matching engine and
    oracle behavior."""
    import re as _re

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qts = sorted({t.lower() for t in query_terms})
    for t in qts:
        if not _re.fullmatch(TERM_RE, t) or len(t) < min_term_len:
            raise ValueError(
                f"query term {t!r} cannot match any token "
                f"(must be alnum, length >= {min_term_len})"
            )
    return qts


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    idf: str = "rational",
    min_term_len: int = 2,
) -> DataFrame:
    """Top-``k`` terms per document by tf-idf:
    (doc_id, term, tf, df, score, rank).

    ``idf="rational"``: score = tf * (N + 1) / (df + 1) — exact and
    cross-engine reproducible. ``idf="log"``: the conventional
    tf * ln((N + 1) / (df + 1)) — same ranking (ln is monotone on the
    rational weight for fixed tf... rank-identical per (tf, df) pair
    ordering only when tf ties; use for scoring, not for the
    hash-compared contract). Ties rank by term ascending.
    """
    if idf not in ("rational", "log"):
        raise ValueError(f"unknown idf mode: {idf!r}")
    terms = _terms(docs, min_term_len)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # tf rows are distinct per (doc, term), so a per-term window count
    # IS the document frequency — no join, no second corpus scan
    tf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    )
    n_docs = docs.where(F.col("text").isNotNull()).agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    weight = (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    if idf == "log":
        weight = F.log(weight)
    scored = tf.crossJoin(F.broadcast(n_docs)).withColumn(
        "score", floor6(F.col("tf") * weight)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def tfidf_top_terms_sql(
    table: str = "documents", k: int = 5, min_term_len: int = 2
) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` (rational idf)."""
    # association must mirror the Spark side exactly: tf * (ratio),
    # not (tf * (n+1)) / (df+1) — the two round differently in IEEE
    score = floor6_sql("tf * ((n_docs + 1.0) / (df + 1.0))")
    return f"""
      WITH terms AS (
        {_terms_select_sql(table, min_term_len)}
      ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms
        GROUP BY doc_id, term
      ), tfdf AS (
        SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf
      ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM {table}
        WHERE text IS NOT NULL
      ), scored AS (
        SELECT tfdf.doc_id, tfdf.term, tfdf.tf, tfdf.df,
               {score} AS score
        FROM tfdf CROSS JOIN n
      )
      SELECT doc_id, term, tf, df, score, rank FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term ASC
        ) AS INT) AS rank
        FROM scored
      ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    min_term_len: int = 2,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query by BM25:
    (doc_id, n_hits, score_scaled).

    The sparse-retrieval workhorse (inverted-index scoring re-expressed
    relationally). Per matched (doc, term):

        idf  = (N + 1) / (df + 1)                       # rational, as tf-idf
        norm = tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/Σdl))
        contribution = floor(10^6 · idf · norm)  →  int64

    and the doc score is the INTEGER sum of contributions — float ops
    happen per (doc, term) in a pinned expression tree (IEEE-identical
    across engines), while the cross-row aggregation is exact integer
    addition, so the result is partition- and engine-invariant (the
    tf-idf / bigram-LM discipline). The conventional ln-idf is a
    monotone transform per-term but NOT per-sum; the rational idf is
    the repo's deliberate, documented divergence (see tf-idf header).

    Scale shape: ONE corpus explode builds tf; the posting list is cut
    to the query terms BEFORE any corpus-wide shuffle (a `isin` filter
    the scan pushes down post-aggregation), so df/score work touches
    only matching docs. Per-doc length dl joins in from a scan-stage
    projection (no explode, 2-column pruned scan) — the join shuffles
    |matching docs| + |corpus| × 2 small columns, not the tf table.
    (N, Σdl) is a broadcast 1-row aggregate. Top-k is a global
    orderBy+limit → TakeOrderedAndProject (per-partition heaps, no
    full sort). Ties break on doc_id's string form ascending.
    """
    qts = _query_terms(query_terms, min_term_len)
    live = docs.where(F.col("text").isNotNull())
    tf = (
        _terms(docs, min_term_len)
        .where(F.col("term").isin(qts))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # df over the query-term posting rows only (tf rows are distinct
    # per (doc, term) — the window count IS the document frequency)
    tf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    # dl: scan-stage token count, same tokenizer (length filter
    # preserved — lower() can't change [a-zA-Z0-9]+ run lengths)
    dl_tbl = live.select(
        "doc_id",
        F.expr(
            f"size(filter(regexp_extract_all(text, '{TERM_RE}', 0), "
            f"x -> length(x) >= {min_term_len}))"
        ).cast("long").alias("dl"),
    )
    totals = dl_tbl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    scored = tf.join(dl_tbl, "doc_id").crossJoin(F.broadcast(totals))
    return _bm25_rank(scored.withColumn("c", _bm25_contrib()), k)


def _bm25_rank(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail for the scan path AND the persisted-index
    path: integer-sum the per-(doc,term) contributions, global top-k
    (TakeOrderedAndProject), doc_id-string tie-break. ONE definition
    so the two paths can never diverge on aggregation or ordering."""
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_hits"),
            F.sum("c").alias("score_scaled"),
        )
        .orderBy(
            F.col("score_scaled").desc(),
            F.col("doc_id").cast("string").asc(),
        )
        .limit(k)
    )


def _bm25_contrib() -> F.Column:
    """Shared per-(doc, term) BM25 contribution over columns
    (tf, df, dl, n_docs, sum_dl) — the SAME pinned float expression
    tree as :func:`bm25_topk` (IEEE-identical across engines and
    across the scan/index paths)."""
    idf = (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    denom = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + (F.lit(BM25_B) * F.col("dl").cast("double") * F.col("n_docs"))
        / F.col("sum_dl")
    )
    return F.floor(
        (idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom))
        * F.lit(1000000.0)
    ).cast("long")


def bm25_topk_sql(
    table: str = "documents",
    query_terms: list[str] = (),
    k: int = 10,
    min_term_len: int = 2,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — the float expression tree is
    pinned node-for-node (e-notation literals force DOUBLE; a bare
    1.2 is DECIMAL in both dialects). Validation is shared with the
    engine side — rejected terms raise here too (and accepted terms
    are alnum-only, so the inlined literals need no escaping)."""
    qts = _query_terms(query_terms, min_term_len)
    in_list = ", ".join(f"'{t}'" for t in qts)
    one_minus_b = f"{1.0 - BM25_B!r}e0"
    k1_plus_1 = f"{BM25_K1 + 1.0!r}e0"
    return f"""
      WITH live AS (
        SELECT doc_id, text FROM {table} WHERE text IS NOT NULL
      ), terms AS (
        {_terms_select_sql('live', min_term_len)}
      ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms
        WHERE term IN ({in_list})
        GROUP BY doc_id, term
      ), tfdf AS (
        SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf
      ), dl_tbl AS (
        SELECT doc_id, CAST(len(list_filter(
          regexp_extract_all(text, '{TERM_RE}'),
          x -> length(x) >= {min_term_len})) AS BIGINT) AS dl
        FROM live
      ), totals AS (
        SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl_tbl
      ), scored AS (
        SELECT tfdf.doc_id,
               CAST(floor((((n_docs + 1.0) / (df + 1.0)) *
                 ((tf * {k1_plus_1}) /
                  (CAST(tf AS DOUBLE) + {BM25_K1!r}e0 * ({one_minus_b} +
                   ({BM25_B!r}e0 * CAST(dl AS DOUBLE) * n_docs) / sum_dl))))
                 * 1000000.0) AS BIGINT) AS c
        FROM tfdf
        JOIN dl_tbl USING (doc_id)
        CROSS JOIN totals
      )
      SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
             CAST(sum(c) AS BIGINT) AS score_scaled
      FROM scored
      GROUP BY doc_id
      ORDER BY score_scaled DESC, CAST(doc_id AS VARCHAR) ASC
      LIMIT {k}
    """


# ---------------------------------------------------------------------------
# positional phrase search
# ---------------------------------------------------------------------------


def _phrase_terms(phrase_terms) -> list[str]:
    """Validate a phrase: ordered, duplicates legal (unlike BM25's
    bag), every term must be a token the tokenizer could emit (alnum,
    length >= 1 — which also guarantees the inlined SQL literals need
    no escaping)."""
    import re as _re

    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    qts = [t.lower() for t in phrase_terms]
    for t in qts:
        if not _re.fullmatch(TERM_RE, t):
            raise ValueError(
                f"phrase term {t!r} cannot match any token (must be alnum)"
            )
    return qts


def phrase_search(docs: DataFrame, phrase_terms) -> DataFrame:
    """(doc_id, n_matches, first_pos): documents containing the exact
    token phrase — terms adjacent, in order, in the module's ONE
    token stream (extract-then-lower alnum runs; positions are
    1-based indexes in the UNFILTERED token sequence, so adjacency
    means "next token", not "next token above some length").

    Shape at scale: the positional posting explode is scan-stage; the
    ``isin`` filter cuts postings to the phrase's terms BEFORE any
    shuffle (the BM25 discipline), so both downstream shuffles —
    (doc, term) position-list assembly and the per-doc map build —
    move only matching-term rows. The phrase intersection itself is
    an O(k · positions) array fold per candidate doc: positions of
    term i shifted left by i, intersected across i — a doc matches at
    p iff token[p+i] = q_i for all i. Duplicate phrase terms reuse
    one posting list. Docs with no phrase occurrence are dropped
    (this is a search, not an annotation pass).
    """
    qts = _phrase_terms(phrase_terms)
    uniq = sorted(set(qts))
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                F.regexp_extract_all(F.col("text"), F.lit(TERM_RE), 0)
            ).alias("pos0", "term"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("p"),
            F.lower(F.col("term")).alias("term"),
        )
    )
    postings = (
        toks.where(F.col("term").isin(uniq))
        .groupBy("doc_id", "term")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
    )
    return _phrase_from_postings(postings, qts)


def _phrase_from_postings(postings: DataFrame, qts: list[str]) -> DataFrame:
    """Shared match tail for the scan path AND the persisted-index
    path: per-doc (term -> positions) map, then the phrase start set
    ∩_i (positions(q_i) - i). `postings` = (doc_id, term, ps) already
    cut to the phrase's terms."""
    per_doc = postings.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "ps"))
        ).alias("m")
    )
    inter = f"coalesce(m['{qts[0]}'], array())"
    for i, t in enumerate(qts[1:], start=1):
        inter = (
            f"array_intersect({inter},"
            f" transform(coalesce(m['{t}'], array()), x -> x - {i}))"
        )
    return (
        per_doc.selectExpr("doc_id", f"{inter} AS mpos")
        .where(F.expr("size(mpos) > 0"))
        .selectExpr(
            "doc_id",
            "CAST(size(mpos) AS BIGINT) AS n_matches",
            "CAST(array_min(mpos) AS BIGINT) AS first_pos",
        )
    )


def phrase_search_sql(table: str, phrase_terms) -> str:
    """DuckDB twin of :func:`phrase_search` — independent formulation:
    instead of the per-doc position-map fold, k-1 positional
    self-joins on (doc_id, p + i), the classic inverted-index phrase
    plan. Positions come from zipped parallel unnests (token list +
    generate_series), DuckDB's posexplode."""
    qts = _phrase_terms(phrase_terms)
    joins = "".join(
        f"\n        JOIN toks t{i} ON t{i}.doc_id = t0.doc_id"
        f" AND t{i}.p = t0.p + {i} AND t{i}.term = '{t}'"
        for i, t in enumerate(qts[1:], start=1)
    )
    return f"""
      WITH toks AS (
        SELECT doc_id, lower(unnest(ts)) AS term,
               unnest(generate_series(1, len(ts))) AS p
        FROM (
          SELECT doc_id, regexp_extract_all(text, '{TERM_RE}') AS ts
          FROM {table} WHERE text IS NOT NULL
        )
      )
      SELECT t0.doc_id,
             CAST(count(*) AS BIGINT) AS n_matches,
             CAST(min(t0.p) AS BIGINT) AS first_pos
      FROM toks t0{joins}
      WHERE t0.term = '{qts[0]}'
      GROUP BY t0.doc_id
    """


# ---------------------------------------------------------------------------
# persisted inverted index (index once, query many)
# ---------------------------------------------------------------------------

TEXT_INDEX_BUCKETS = 64


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Python twin of the index's bucket function —
    pmod(md5_long(term), n_buckets). Both sides delegate to
    hashing.py's single hash definition per dialect, so the
    driver-side probe-bucket computation can never drift from the
    column expression used at build time."""
    from ocr_spark.functions.hashing import md5_long_py

    return md5_long_py(term) % n_buckets


def build_text_index(
    docs: DataFrame,
    min_term_len: int = 2,
    n_buckets: int = TEXT_INDEX_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats): the durable inverted index behind
    :func:`bm25_from_index` / :func:`phrase_from_index` — the "index
    once, query many" shape. The scan-path operators re-tokenize the
    corpus per query; at 10^12 docs a query must instead read only
    the probed term buckets of a stored artifact (jobs/text_index.py).

    postings = (bucket, term, doc_id, tf, ps, dl):
      - positions `ps` are 1-based in the UNFILTERED token stream
        (the :func:`phrase_search` contract), sorted at build;
      - `tf` = size(ps), which equals the BM25 scan path's tf for any
        queryable term (the length filter only excludes whole terms,
        never occurrences of an included term);
      - `dl` (the BM25-filtered doc length) is denormalized onto every
        posting row so a bucket-pruned read never needs a doc-keyed
        side table it cannot prune;
      - `bucket` = pmod(md5_long(term), n_buckets) — write with
        .partitionBy("bucket") so term lookups become partition-pruned
        scans reading |query buckets| / n_buckets of the files.
    stats = 1 row (n_docs, sum_dl, n_buckets, min_term_len): the BM25
    corpus constants plus the build parameters, stored with the index
    so a query validates against the artifact it actually probes.
    """
    live = docs.where(F.col("text").isNotNull())
    toks = (
        live.select(
            "doc_id",
            F.posexplode(
                F.regexp_extract_all(F.col("text"), F.lit(TERM_RE), 0)
            ).alias("pos0", "term"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("p"),
            F.lower(F.col("term")).alias("term"),
        )
    )
    dl_tbl = live.select(
        "doc_id",
        F.expr(
            f"size(filter(regexp_extract_all(text, '{TERM_RE}', 0), "
            f"x -> length(x) >= {min_term_len}))"
        ).cast("long").alias("dl"),
    )
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .withColumn("tf", F.size("ps").cast("long"))
        .join(dl_tbl, "doc_id")
        .withColumn("bucket", F.pmod(_md5_long(F.col("term")), F.lit(n_buckets)))
        .select("bucket", "term", "doc_id", "tf", "ps", "dl")
    )
    stats = dl_tbl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.lit(n_buckets).cast("int").alias("n_buckets"),
        F.lit(min_term_len).cast("int").alias("min_term_len"),
    )
    return postings, stats


def write_text_index(
    docs: DataFrame,
    index_dir: str,
    min_term_len: int = 2,
    n_buckets: int = TEXT_INDEX_BUCKETS,
) -> None:
    """Persist the index: postings bucket-partitioned (the pruning
    unit), stats beside them."""
    postings, stats = build_text_index(docs, min_term_len, n_buckets)
    _write_postings(postings, f"{index_dir}/postings")
    stats.write.mode("overwrite").parquet(f"{index_dir}/stats")


def _write_postings(postings: DataFrame, path: str) -> None:
    """Partitioned overwrite of the postings dir with the empty-corpus
    corner handled AFTER the fact: a zero-row partitioned write emits
    no parquet files (an uninferrable dir), so if the read-back schema
    probe fails we drop a schema-bearing flat empty file instead
    (limit(0) folds to an empty LocalRelation — a free job). Probing
    afterwards instead of isEmpty() first matters: isEmpty() would
    execute the full tokenize+group+join plan once just to answer the
    corner case, doubling every real build. The overwrite mode is
    pinned STATIC — under a session-level dynamic default a rebuild
    would leave stale bucket partitions (ghost postings) and the
    empty-base flat file in place."""
    from pyspark.errors import AnalysisException

    (
        postings.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket")
        .parquet(path)
    )
    spark = postings.sparkSession
    try:
        spark.read.parquet(path).schema
    except AnalysisException:
        postings.limit(0).write.mode("overwrite").parquet(path)


def _read_index(spark, index_dir: str, st, terms: list[str]):
    """Pruned postings read for an already-collected stats row: the
    probe buckets are computed driver-side, partition pruning does
    the rest. (Stats is read ONCE per query by the caller — this path
    exists to be queried many times.)"""
    buckets = sorted({term_bucket_py(t, st["n_buckets"]) for t in terms})
    return (
        spark.read.parquet(f"{index_dir}/postings")
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(sorted(set(terms))))
    )


def bm25_from_index(
    spark, index_dir: str, query_terms: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k served from the persisted index — must equal
    :func:`bm25_topk` on the indexed corpus row-for-row (shared
    contribution expression + shared ranking tail; df is a window
    count over the pruned posting rows, exactly the scan path's
    definition). The scan reads ONLY the query terms' bucket
    partitions."""
    st = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    qts = _query_terms(query_terms, st["min_term_len"])
    postings = _read_index(spark, index_dir, st, qts)
    # an index over zero live docs has sum_dl NULL (sum over no rows)
    # and no postings — 1 keeps the (never-evaluated-per-row) literal
    # finite so the empty result falls out instead of a TypeError
    sum_dl = int(st["sum_dl"]) if st["sum_dl"] is not None else 1
    scored = (
        postings.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
        .withColumn("n_docs", F.lit(int(st["n_docs"])))
        .withColumn("sum_dl", F.lit(sum_dl).cast("long"))
        .withColumn("c", _bm25_contrib())
    )
    return _bm25_rank(scored, k)


def phrase_from_index(spark, index_dir: str, phrase_terms) -> DataFrame:
    """Phrase search served from the persisted index — must equal
    :func:`phrase_search` on the indexed corpus (shared match tail;
    positions were stored sorted and unfiltered at build)."""
    qts = _phrase_terms(phrase_terms)
    st = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    postings = _read_index(spark, index_dir, st, qts)
    return _phrase_from_postings(postings.select("doc_id", "term", "ps"), qts)


def update_text_index(spark, index_dir: str, new_docs: DataFrame) -> None:
    """Incrementally add a batch of NEW documents to a persisted
    index — the daily-crawl maintenance path, costing one pass over
    the BATCH instead of a full rebuild.

    Why append is exactly right here: postings rows are per
    (doc, term), so disjoint new docs only ADD rows (parquet append
    into the existing bucket= partition dirs — no rewrite, no read of
    the existing postings); `df` is derived at query time as a window
    count over the pruned posting rows, so it updates automatically;
    and the BM25 corpus constants are ADDITIVE (n_docs, sum_dl sum
    across batches), so stats is the only thing rewritten — a 1-row
    table. Build parameters (n_buckets, min_term_len) come from the
    stored stats so the increment can never be bucketed differently
    than the base.

    Caller contract: the batch's doc_ids must be NEW (re-ingesting an
    indexed doc would double its postings — dedup upstream, e.g.
    novelty-gate the batch the way jobs/curate.py does). The
    append-then-stats sequence is not atomic; schedule it like any
    index maintenance (rebuild-from-snapshot recovers).

    After update, queries equal a from-scratch build over the union —
    pinned by tests/test_text_index.py.
    """
    old = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    postings, stats = build_text_index(
        new_docs,
        min_term_len=old["min_term_len"],
        n_buckets=old["n_buckets"],
    )
    # probing the BASE is cheap (limit-1 over stored files); probing
    # the increment would execute its whole build plan once extra
    if spark.read.parquet(f"{index_dir}/postings").isEmpty():
        # an empty base was written UNPARTITIONED (schema-bearing flat
        # dir); appending partitioned files into a flat dir breaks
        # parquet partition discovery — rebuild the layout (static
        # overwrite + empty-corner handling shared with build)
        _write_postings(postings, f"{index_dir}/postings")
    else:
        # appending a zero-row increment writes nothing and leaves the
        # partitioned layout intact — no increment probe needed
        postings.write.mode("append").partitionBy("bucket").parquet(
            f"{index_dir}/postings"
        )
    delta = stats.collect()[0]
    merged = spark.createDataFrame(
        [
            (
                old["n_docs"] + delta["n_docs"],
                (old["sum_dl"] or 0) + (delta["sum_dl"] or 0),
                old["n_buckets"],
                old["min_term_len"],
            )
        ],
        "n_docs long, sum_dl long, n_buckets int, min_term_len int",
    )
    merged.write.mode("overwrite").parquet(f"{index_dir}/stats")
