"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash, and n-gram Jaccard — each as a Spark DataFrame
plan plus a bit-identical DuckDB SQL twin.

``doc_id`` is ID-TYPE-AGNOSTIC throughout: operators group/join on the
column exactly as supplied (int, string 'sha1:...', anything hashable
and orderable) and emit it unchanged. Real corpora key on string
file paths/tokens (/root/reference/webapp/jobs.py:221-224); an
internal long-cast would silently NULL such ids and empty the corpus
— never cast ids here. Representative selection (``min(doc_id)``,
``a.doc_id < b.doc_id``) uses the column's natural ordering, so reps
are deterministic for any id type.

Scale notes (the 100 TB plan, not the 60k-row plan):
- exact_dedup is one hash-aggregate: map-side partial agg + one
  shuffle on the 60-bit text hash; no skew (hash keys are uniform).
- minhash signatures are computed per-row inside the scan stage with
  higher-order array exprs (no explode, no shuffle); the only shuffle
  is the band-bucket self-join, which AQE skew-splits if one band
  bucket goes hot (near-identical boilerplate corpora do this).
- ngram_jaccard explodes distinct shingles; hot shingles (stop-phrase
  boilerplate) are bounded because shingle width-5 keeps selectivity
  high; the pair-group aggregate is a second shuffle. It is the
  correctness baseline: candidate generation is an all-corpus shingle
  self-join, O(df^2) on hot boilerplate shingles.
- the production near-dup composition is ``lsh_verified_pairs`` /
  ``dup_clusters``: minhash-LSH candidates (bucketed, optionally
  band-bucket-size-capped) -> exact-Jaccard verification restricted to
  the candidates (candidates << n^2) -> connected components. No stage
  touches an all-corpus pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import (
    MASK_40,
    MINHASH_PRIME,
    md5_long,
    md5_long_expr,
    md5_long_sql,
    minhash_perms,
)
from ocr_spark.functions.text import floor6, floor6_sql
from ocr_spark.schema import WS

SHINGLE_W = 5
MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SIMHASH_BITS = 60
MOD40 = MASK_40 + 1


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------


def shingles_expr(w: int = SHINGLE_W, col: str = "text") -> str:
    """Spark SQL expr: ``col`` -> array of w-word shingles (whole text
    as a single shingle when shorter).

    The single-element ``transform(array(split(...)), ws -> ...)``
    wrapper is a LET binding: common-subexpression elimination does
    not hoist out of lambda bodies, so the naive form re-splits the
    whole text once PER SHINGLE (~n regex splits per doc — measured
    3-4x the cost of the shingling itself at sf0.1). Binding the
    words array once per row makes every per-shingle step a cheap
    array slice. Semantics are unchanged (NULL/short-text cases
    verified by the fuzz net and the dedup-family contract queries).
    """
    body = (
        f"CASE WHEN size(ws) < {w} "
        f"THEN array(concat_ws(' ', ws)) "
        f"ELSE transform(sequence(0, size(ws) - {w}), "
        f"i -> concat_ws(' ', slice(ws, i + 1, {w}))) END"
    )
    return f"element_at(transform(array(split({col}, '{WS}+')), ws -> {body}), 1)"


def shingles_sql(w: int = SHINGLE_W, col: str = "text") -> str:
    """DuckDB twin of :func:`shingles_expr` (same LET-via-lambda
    binding so both engines split once per row)."""
    body = (
        f"CASE WHEN len(ws) < {w} "
        f"THEN [array_to_string(ws, ' ')] "
        f"ELSE list_transform(range(0, len(ws) - {w} + 1), "
        f"i -> array_to_string(list_slice(ws, i + 1, i + {w}), ' ')) END"
    )
    return (
        f"list_transform([regexp_split_to_array({col}, '{WS}+')],"
        f" ws -> {body})[1]"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by content hash: (text_md5, n_docs, rep_doc_id) with the
    lowest doc_id as the keeper. One shuffle, uniform keys."""
    return (
        docs.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


def exact_dedup_sql(
    table: str = "documents", id_sql: str = "CAST(doc_id AS BIGINT)"
) -> str:
    """``id_sql`` renders the id with the type Spark reads it as —
    BIGINT for the int contract corpus, plain ``doc_id`` for string-id
    corpora (the operator itself is id-type-agnostic)."""
    return f"""
      SELECT md5(text) AS text_md5, count(*) AS n_docs,
             min({id_sql}) AS rep_doc_id
      FROM {table} GROUP BY 1
    """


# ---------------------------------------------------------------------------
# minhash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------


def _sig_table(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, s0..s{k-1}): minhash signature columns via explode +
    hash-aggregate.

    Deliberately NOT a nested higher-order array expression: nested
    lambdas drop out of whole-stage codegen and ran ~6x slower. The
    explode multiplies rows by ~shingle count but partial (map-side)
    min-aggregation collapses them before the doc_id shuffle — at
    100 TB this is a single well-combined shuffle keyed on uniform
    doc_ids."""
    a, b = minhash_perms(k)
    sh = docs.select(
        "doc_id",
        F.explode(F.expr(shingles_expr(w))).alias("s"),
    ).select("doc_id", F.expr(f"{md5_long_expr('s')} % {MOD40}").alias("h"))
    aggs = [
        F.min(F.expr(f"({a[i]} * h + {b[i]}) % {MINHASH_PRIME}")).alias(f"s{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _sigs_sql(k: int, w: int) -> tuple[str, str]:
    a, b = minhash_perms(k)
    h40 = f"list_transform({shingles_sql(w)}, s -> {md5_long_sql('s')} % {MOD40})"
    sigs = ", ".join(
        f"list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) % {MINHASH_PRIME}))"
        for i in range(k)
    )
    return h40, f"[{sigs}]"


def _band_keys_expr(k: int, bands: int) -> str:
    """Spark SQL: array of md5 band-bucket keys over signature columns
    s0..s{k-1}. THE band math — the pair self-join and the persisted
    index must share this expression, or index lookups silently stop
    matching pair generation."""
    rows = k // bands
    keys = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(s{b * rows + r} AS STRING)" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return f"array({keys})"


def _band_keys_sql(k: int, bands: int) -> str:
    """DuckDB twin of :func:`_band_keys_expr` over a ``sigs`` list."""
    rows = k // bands
    return (
        f"list_transform(range(0, {bands}), bi -> md5(array_to_string("
        f"list_transform(list_slice(sigs, bi * {rows} + 1, bi * {rows} + {rows}), "
        f"x -> CAST(x AS VARCHAR)), ',')))"
    )


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K, w: int = SHINGLE_W) -> DataFrame:
    """(doc_id, perm, sig): flattened k-permutation minhash signature."""
    sig = _sig_table(docs, k, w)
    stack = ", ".join(f"{i}, s{i}" for i in range(k))
    return sig.selectExpr("doc_id", f"stack({k}, {stack}) AS (perm, sig)")


def minhash_signatures_sql(table: str = "documents", k: int = MINHASH_K, w: int = SHINGLE_W) -> str:
    h40, sigs = _sigs_sql(k, w)
    return f"""
      SELECT doc_id, CAST(r.i AS INT) AS perm, sigs[r.i + 1] AS sig
      FROM (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, {sigs} AS sigs
        FROM (SELECT doc_id, {h40} AS hs FROM {table})
      ) CROSS JOIN range(0, {k}) r(i)
    """


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
    max_bucket: int | None = None,
    scope_col: str | None = None,
) -> DataFrame:
    """(doc_a, doc_b) near-duplicate candidate pairs: docs sharing at
    least one LSH band bucket, a < b, distinct.

    The self-join shuffles on (band, key) — uniform md5 keys, and AQE
    skew-split handles boilerplate-heavy buckets at scale. With
    ``max_bucket`` set, band buckets holding more docs than that are
    dropped before the join: a boilerplate-identical bucket of B docs
    would otherwise emit B^2/2 pairs, and its members are still
    recalled through their other (more selective) bands. The DuckDB
    twin applies the identical cap.

    ``scope_col`` restricts candidates to pairs sharing that column's
    value (domain / source / lang) — the standard 100 TB pruning knob:
    near-dups overwhelmingly live within a site, and scoping shrinks
    every band bucket to its per-scope slice (the scope value joins
    the bucket key, so a boilerplate bucket spanning 1000 domains
    becomes 1000 independent small buckets). Cross-scope near-dups
    are deliberately out of contract when scoped — that's the trade.
    NULL scope values never pair (SQL equality).
    """
    banded = minhash_band_index(docs, k, bands, w).drop("sigs")
    join_keys = ["band", "key"]
    if scope_col is not None:
        scope = docs.select("doc_id", F.col(scope_col).alias("_scope"))
        banded = banded.join(scope, "doc_id")
        join_keys.append("_scope")
    if max_bucket is not None:
        from pyspark.sql import Window

        bc = F.count("*").over(Window.partitionBy(*join_keys))
        banded = banded.withColumn("_bc", bc).where(F.col("_bc") <= max_bucket).drop("_bc")
    a, b = banded.alias("a"), banded.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for kcol in join_keys:
        cond = cond & (F.col(f"a.{kcol}") == F.col(f"b.{kcol}"))
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs_sql(
    table: str = "documents",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
    max_bucket: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
    scope_col: str | None = None,
) -> str:
    h40, sigs = _sigs_sql(k, w)
    band_keys = _band_keys_sql(k, bands)
    scope_sel = f", {scope_col} AS _scope" if scope_col is not None else ""
    scope_keep = ", _scope" if scope_col is not None else ""
    part = "band, key, _scope" if scope_col is not None else "band, key"
    scope_join = (
        " AND a._scope = b._scope" if scope_col is not None else ""
    )
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY {part}) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    return f"""
      WITH banded AS (
        SELECT doc_id, r.i AS band, keys[r.i + 1] AS key{', _scope' if scope_col is not None else ''}
        FROM (
          SELECT {id_sql} AS doc_id, {band_keys} AS keys{scope_keep}
          FROM (SELECT doc_id, {sigs} AS sigs{scope_keep}
                FROM (SELECT doc_id, {h40} AS hs{scope_sel} FROM {table}))
        ) CROSS JOIN range(0, {bands}) r(i)
        {cap}
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id{scope_join}
    """


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): 60-bit simhash over word occurrences.

    bit b set iff sum over words of (+1 if word-hash bit b else -1) > 0.
    Shaped as explode + 60-column hash-aggregate (not a nested
    higher-order fold, which loses codegen and was ~6x slower): the
    per-bit sums partial-aggregate map-side, the only shuffle is on
    uniform doc_ids, and integer sums are order-independent so the
    result is bit-identical to the DuckDB oracle."""
    wh = docs.select(
        "doc_id",
        F.explode(F.expr(f"split(text, '{WS}+')")).alias("w"),
    ).select("doc_id", F.expr(md5_long_expr("w")).alias("h"))
    aggs = [
        F.sum(F.expr(f"CAST((h >> {b}) & 1 AS INT) * 2 - 1")).alias(f"b{b}")
        for b in range(bits)
    ]
    g = wh.groupBy("doc_id").agg(*aggs)
    fp = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return g.selectExpr("doc_id", f"{fp} AS simhash")


def simhash_sql(table: str = "documents", bits: int = SIMHASH_BITS) -> str:
    hs = f"list_transform(regexp_split_to_array(text, '{WS}+'), w -> {md5_long_sql('w')})"
    bitsum = "list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1))"
    fp = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(0, {bits}), b -> CASE WHEN {bitsum} > 0 "
        f"THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
      SELECT doc_id, {fp} AS simhash
      FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, {hs} AS hs FROM {table})
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, w: int = SHINGLE_W, tau: float = 0.2, max_df: int | None = 1000
) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b, jaccard): exact Jaccard over
    distinct w-word shingles for pairs sharing >= 1 shingle, filtered
    to jaccard >= tau.

    Candidate generation = equi-join on the shingle (no n^2) — but a
    shingle shared by df docs emits df^2 join rows, so corpus-wide
    boilerplate blows up the baseline path. ``max_df`` (DEFAULT ON,
    1000 — matching the job-level --max-bucket default) drops shingles
    with document frequency above the cap from CANDIDATE GENERATION
    only (per-doc counts, and hence jaccard denominators, are
    unchanged); pairs sharing ONLY capped shingles are missed, which
    is the explicit trade that bounds any one shingle's join fan-out
    to max_df^2. Pass ``max_df=None`` for the exact uncapped baseline
    (test-scale only: a boilerplate shingle in df docs emits df^2 join
    rows). The production near-dup path is lsh_verified_pairs. The
    DuckDB twin applies the identical cap.
    """
    # join on the 60-bit shingle hash, not the string: ~8x smaller
    # shuffle payload and integer comparisons. Collisions (~1e-18) are
    # cross-engine identical (same md5 fold), so the oracle always
    # agrees even in the astronomically unlikely collision case.
    sh = docs.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({shingles_expr(w)})")).alias("sh"),
    ).select("doc_id", F.expr(md5_long_expr("sh")).alias("h"))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = sh
    if max_df is not None:
        # count-over-window, deliberately: the window shuffles sh on h
        # — the SAME partitioning the candidate self-join needs — so
        # Spark reuses one exchange for the window and both join sides.
        # The measured alternative (partial-agg hot list + anti-join)
        # recomputes the shingle explode for every consumer and ran
        # ~25% slower at sf0.1; the window's only extra cost over the
        # uncapped path is the in-partition sort.
        from pyspark.sql import Window

        df_count = F.count("*").over(Window.partitionBy("h"))
        cand = sh.withColumn("_df", df_count).where(F.col("_df") <= max_df).drop("_df")
    a, b = cand.alias("a"), cand.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    j = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    # counts is one row per document — at corpus scale that is NOT
    # broadcastable (an unbounded driver/executor OOM); let AQE pick
    # the join strategy from the measured size instead.
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(j >= tau)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", floor6(j).alias("jaccard"))
    )


def _pair_overlap(docs: DataFrame, pairs: DataFrame, w: int) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b): exact distinct-shingle
    intersection/size counts restricted to candidate ``pairs`` — the
    ONE overlap skeleton shared by :func:`jaccard_verify` (symmetric)
    and :func:`containment_verify` (asymmetric), so "overlap" can
    never mean two different computations.

    Shingling is candidate-restricted: docs are semi-joined to the
    candidate id set BEFORE the shingle explode, so at corpus scale
    the (expensive) re-shingling pass touches only the tiny fraction
    of docs that LSH proposed, not the whole table."""
    cand = pairs.select("doc_a", "doc_b")
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs_c = docs.select("doc_id", "text").join(cand_ids, "doc_id", "left_semi")
    sh = docs_c.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({shingles_expr(w)})")).alias("sh"),
    ).select("doc_id", F.expr(md5_long_expr("sh")).alias("h"))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # replicate each candidate pair by doc_a's shingles, then probe
    # doc_b's shingle set on (doc_b, h): the per-pair intersection
    # count, with both joins on uniform integer/hash keys.
    a_sh = cand.join(sh.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
    shared = (
        a_sh.join(sh.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return shared.join(ca, "doc_a").join(cb, "doc_b")


def jaccard_verify(
    docs: DataFrame, pairs: DataFrame, w: int = SHINGLE_W, tau: float = 0.2
) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate ``pairs``
    (doc_a, doc_b): same output shape as ngram_jaccard_pairs, but the
    intersection join is candidate-driven — cost is
    O(candidates x shingles/doc), never the all-corpus shingle
    self-join. This is the scale path the module docstring prescribes:
    LSH proposes, exact Jaccard disposes."""
    j = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        _pair_overlap(docs, pairs, w)
        .where(j >= tau)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", floor6(j).alias("jaccard"))
    )


def containment_verify(
    docs: DataFrame, pairs: DataFrame, w: int = SHINGLE_W, tau_c: float = 0.5
) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b, cont_a_in_b, cont_b_in_a):
    asymmetric shingle CONTAINMENT over candidate ``pairs`` —
    cont_a_in_b = |sh(A) ∩ sh(B)| / |sh(A)| — the sub-document
    duplication signal Jaccard structurally misses: a short article
    fully quoted inside a long aggregator page has containment ~1.0
    but Jaccard ~|A|/|B|, far below any near-dup threshold. Kept iff
    greatest(cont_a_in_b, cont_b_in_a) >= ``tau_c``.

    Same candidate-driven cost shape as :func:`jaccard_verify` (ONE
    shared overlap skeleton, :func:`_pair_overlap`)."""
    c_ab = F.col("n_shared") / F.col("n_a")
    c_ba = F.col("n_shared") / F.col("n_b")
    return (
        _pair_overlap(docs, pairs, w)
        .where(F.greatest(c_ab, c_ba) >= tau_c)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_a",
            "n_b",
            floor6(c_ab).alias("cont_a_in_b"),
            floor6(c_ba).alias("cont_b_in_a"),
        )
    )


def lsh_verified_pairs(
    docs: DataFrame,
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Production near-dup pairs: minhash-LSH candidates, exact-Jaccard
    verified. Both stages are bucketed; nothing scans an n^2 space.

    The candidate set is localCheckpoint()ed (EAGER — the LSH job runs
    when this function is called): verification consumes it twice
    (once as the pair list, once as the distinct-id filter that
    restricts re-shingling), and without materialization each branch
    would re-run the whole LSH pipeline. Candidates are small by
    construction (that is the point of LSH), and unlike persist() —
    whose CacheManager entry nothing here could ever release — the
    checkpoint's blocks are freed by the ContextCleaner once the
    result DataFrame is garbage collected."""
    cand = minhash_lsh_pairs(docs, k, bands, w, max_bucket).localCheckpoint()
    return jaccard_verify(docs, cand, w, tau)


def _pair_overlap_sql(
    cand_sql: str,
    table: str,
    w: int,
    id_sql: str,
    projection: str,
    predicate: str,
) -> str:
    """DuckDB twin of :func:`_pair_overlap` with caller-chosen final
    ``projection``/``predicate`` over (doc_a, doc_b, n_shared, n_a,
    n_b) — the ONE overlap skeleton, shared by the Jaccard and
    containment twins."""
    return f"""
      WITH cand AS ({cand_sql}),
      sh AS (
        SELECT doc_id, {md5_long_sql('sh')} AS h FROM (
          SELECT {id_sql} AS doc_id,
                 unnest(list_distinct({shingles_sql(w)})) AS sh
          FROM {table}
        )
      ),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      shared AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, n_shared, ca.n AS n_a, cb.n AS n_b,
             {projection}
      FROM shared
      JOIN counts ca ON shared.doc_a = ca.doc_id
      JOIN counts cb ON shared.doc_b = cb.doc_id
      WHERE {predicate}
    """


def jaccard_verify_sql(
    cand_sql: str,
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    j = "(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared))"
    return _pair_overlap_sql(
        cand_sql,
        table,
        w,
        id_sql,
        f"{floor6_sql(j)} AS jaccard",
        f"{j} >= {tau}",
    )


def containment_verify_sql(
    cand_sql: str,
    table: str = "documents",
    w: int = SHINGLE_W,
    tau_c: float = 0.5,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`containment_verify`."""
    c_ab = "(CAST(n_shared AS DOUBLE) / n_a)"
    c_ba = "(CAST(n_shared AS DOUBLE) / n_b)"
    return _pair_overlap_sql(
        cand_sql,
        table,
        w,
        id_sql,
        f"{floor6_sql(c_ab)} AS cont_a_in_b, {floor6_sql(c_ba)} AS cont_b_in_a",
        f"greatest({c_ab}, {c_ba}) >= {tau_c}",
    )


def lsh_verified_pairs_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    return jaccard_verify_sql(
        minhash_lsh_pairs_sql(table, k, bands, w, max_bucket, id_sql),
        table,
        w,
        tau,
        id_sql,
    )


def dup_clusters(
    docs: DataFrame,
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_id, cluster_rep): connected components over the verified
    near-duplicate pair graph — min-label propagation iterated to a
    fixpoint (the distributed union-find for dedup group selection;
    keep rep = lowest doc_id, drop the rest).

    Edges come from ``lsh_verified_pairs`` — minhash-LSH candidates,
    exact-Jaccard verified — so edge generation never scans the
    all-corpus shingle pair space (the round-1 scale-killer). The
    driver loop converges in O(log component diameter) rounds; dup
    components are tiny in practice, and each iteration is one
    doc_id-keyed shuffle. Only docs that appear in >=1 pair are
    emitted (singletons are trivially their own cluster)."""
    edges = lsh_verified_pairs(docs, w, tau, k, bands, max_bucket).select(
        "doc_a", "doc_b"
    )
    labels, _ = connected_components(edges)
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Min-label connected components over (doc_a, doc_b) edges ->
    ((doc_id, label), n_iterations). Only docs appearing in >= 1 edge
    are emitted (a self-loop-only vertex is its own singleton). Label
    = the component's minimum vertex id.

    Neighbor-min propagation + POINTER JUMPING (label <- label's
    label) each round: labels are always vertex ids, so the extra
    self-join halves remaining path lengths every round and the
    driver loop converges in O(log diameter) rounds instead of
    O(diameter). Per-round cost is proportional to the (fixed) edge
    set."""
    bidir = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # labels are localCheckpoint'ed each round: iterative self-joins
    # otherwise double the logical plan every iteration (lineage grows
    # exponentially -> analyzer/driver heap death long before data
    # size matters). Checkpointing truncates lineage to the
    # materialized result; on a cluster use checkpoint() to reliable
    # storage for executor-loss tolerance.
    labels = (
        bidir.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    n_iters = 0
    while True:
        n_iters += 1
        nbr_min = (
            bidir.join(labels, bidir.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label (_prev) through the round so the
        # convergence check below is a column compare on the frame the
        # checkpoint just materialized — NOT a separate join of new
        # labels against old (which cost one more shuffle join + a
        # full extra action every round; at small-cluster dedup
        # workloads that join was ~a third of the loop's wall-clock)
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        # pointer jump: label <- labels[label] (labels are vertex ids)
        parent = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("_ll")
        )
        new_labels = (
            stepped.join(parent, "label", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias(
                    "label"
                ),
                "_prev",
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("label") != F.col("_prev")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    bidir.unpersist()
    return labels, n_iters


def dup_clusters_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    pairs = lsh_verified_pairs_sql(table, w, tau, k, bands, max_bucket, id_sql)
    return f"""
      WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
      edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ),
      verts AS (SELECT DISTINCT src AS doc_id FROM edges),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
      )
      SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY doc_id
    """


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    max_df: int | None = 1000,
) -> str:
    j = "(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared))"
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY h) <= {max_df}"
        if max_df is not None
        else ""
    )
    return f"""
      WITH sh AS (
        SELECT doc_id, {md5_long_sql('sh')} AS h FROM (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 unnest(list_distinct({shingles_sql(w)})) AS sh
          FROM {table}
        )
      ),
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      cand AS (SELECT doc_id, h FROM sh {cap}),
      shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM cand a JOIN cand b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, n_shared, ca.n AS n_a, cb.n AS n_b,
             {floor6_sql(j)} AS jaccard
      FROM shared
      JOIN counts ca ON shared.doc_a = ca.doc_id
      JOIN counts cb ON shared.doc_b = cb.doc_id
      WHERE {j} >= {tau}
    """


def simhash_pairs(
    docs: DataFrame, bits: int = SIMHASH_BITS, max_hamming: int = 3
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-duplicate pairs by simhash —
    candidates share at least one of four 15-bit fingerprint bands
    (pigeonhole: any pair within hamming<=3 of a 60-bit print must
    agree on >=1 band), then exact Hamming verification via
    bit_count(xor).

    Same scale shape as minhash LSH: per-row banding, uniform-key
    band bucket join, cheap integer verification."""
    fp = simhash(docs, bits)
    band_w = bits // 4
    mask = (1 << band_w) - 1
    banded = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "array("
                + ", ".join(
                    f"shiftright(simhash, {i * band_w}) & {mask}" for i in range(4)
                )
                + ")"
            )
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_sql(
    table: str = "documents", bits: int = SIMHASH_BITS, max_hamming: int = 3
) -> str:
    band_w = bits // 4
    mask = (1 << band_w) - 1
    bands = ", ".join(f"(simhash >> {i * band_w}) & {mask}" for i in range(4))
    return f"""
      WITH fp AS ({simhash_sql(table, bits)}),
      banded AS (
        SELECT doc_id, simhash, r.i AS band, keys[r.i + 1] AS key
        FROM (SELECT doc_id, simhash, [{bands}] AS keys FROM fp)
        CROSS JOIN range(0, 4) r(i)
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# incremental novelty (anti-join against an existing corpus)
# ---------------------------------------------------------------------------


def _content_key(canonical: bool):
    """The novelty-gate content key: md5 of the raw text, or of the
    canonicalized text (case/punct/whitespace-insensitive re-crawl
    matching) when ``canonical``. The bloom family's default key is
    the raw-text form; ``key=F.md5(canonical_text(F.col("text")))``
    gates on the canonical form."""
    base = canonical_text(F.col("text")) if canonical else F.col("text")
    return F.md5(base)


def _content_key_sql(expr: str, canonical: bool) -> str:
    return f"md5({canonical_text_sql(expr) if canonical else expr})"


def novel_docs(
    new_docs: DataFrame, corpus: DataFrame, canonical: bool = False
) -> DataFrame:
    """Rows of ``new_docs`` whose exact text content is absent from
    ``corpus`` — the incremental-ingest gate (only novel documents
    proceed to the expensive near-dup / extraction stages; re-crawls
    and re-uploads short-circuit here).

    Shape: LEFT ANTI join on md5(text) — one shuffle on a uniform
    hash key, nothing materialized from the corpus side but the key
    column (column pruning reaches the corpus scan). NULL-text rows
    are never "novel" duplicates of each other: they pass through iff
    the corpus has no NULL-text row, matching SQL NOT-EXISTS-on-md5
    semantics via a null-safe key compare.
    """
    key = _content_key(canonical)
    new_keyed = new_docs.withColumn("_k", key)
    seen = corpus.select(key.alias("_k")).distinct()
    return new_keyed.join(
        seen, new_keyed["_k"].eqNullSafe(seen["_k"]), "left_anti"
    ).drop("_k")


def novel_docs_sql(
    new_table: str, corpus_table: str, canonical: bool = False
) -> str:
    """DuckDB twin of :func:`novel_docs` (NOT EXISTS on the same key;
    ``IS NOT DISTINCT FROM`` mirrors the null-safe compare)."""
    ck, nk = (
        _content_key_sql("c.text", canonical),
        _content_key_sql("n.text", canonical),
    )
    return f"""
      SELECT n.* FROM {new_table} n
      WHERE NOT EXISTS (
        SELECT 1 FROM {corpus_table} c
        WHERE {ck} IS NOT DISTINCT FROM {nk}
      )
    """


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(doc_id, status): per-document diff of two corpus snapshots
    keyed on doc_id — 'added' (id only in new), 'removed' (only in
    old), 'changed' (both, content hash differs), 'same'. The
    ID-KEYED complement to the content-keyed :func:`novel_docs`: a
    corpus owner diffing crawl N against crawl N-1 wants to know
    which urls/ids VANISHED and which were re-crawled with new
    content, which a content-only novelty check cannot say.

    Content equality is the repo's folded 60-bit md5
    (:func:`~ocr_spark.functions.hashing.md5_long`), null-safe (NULL
    text == NULL text). The compare is PER ID — a collision needs two
    versions of the SAME document to collide (2^-60 per changed doc,
    no corpus-wide birthday effect), the price of shuffling an int64
    instead of a 32-char hex string. Assumes id-unique snapshots (the
    curated-table contract); duplicate ids fan the full-outer join
    out row-per-pairing. ``doc_id`` stays ID-TYPE-AGNOSTIC; NULL-id
    rows never join (SQL NULL-key semantics, both engines) so they
    surface honestly as 'removed'/'added' rather than pairing up.

    Scale shape: one full-outer equi-join on doc_id (each side
    pre-projected to (id, int64 hash, flag) in its scan stage — the
    join moves ~20 bytes/row, never text), then a scan-stage CASE."""
    from ocr_spark.functions.hashing import md5_long

    o = old.select(
        "doc_id",
        md5_long(F.col("text")).alias("_h_old"),
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        "doc_id",
        md5_long(F.col("text")).alias("_h_new"),
        F.lit(1).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old").eqNullSafe(F.col("_h_new")), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
    )


def snapshot_diff_sql(
    old_table: str,
    new_table: str,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`snapshot_diff` (explicit presence flags —
    ``o.doc_id IS NOT NULL`` would misread a NULL-id row as absence)."""
    return f"""
      WITH o AS (
        SELECT {id_sql} AS doc_id, {md5_long_sql('text')} AS h, 1 AS present
        FROM {old_table}
      ),
      n AS (
        SELECT {id_sql} AS doc_id, {md5_long_sql('text')} AS h, 1 AS present
        FROM {new_table}
      )
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.present IS NULL THEN 'added'
                  WHEN n.present IS NULL THEN 'removed'
                  WHEN o.h IS NOT DISTINCT FROM n.h THEN 'same'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """


def snapshot_edit_profile(
    old: DataFrame,
    new: DataFrame,
    w: int = SHINGLE_W,
    minor_tau_ppm: int = 500_000,
) -> DataFrame:
    """(doc_id, n_old, n_new, n_common, jaccard_ppm, edit_class): for
    every CHANGED document between two snapshots (present in both,
    content hash differs), the distinct-w-shingle Jaccard between the
    two versions as exact integer ppm, classified 'minor' (>= the
    threshold — a tweaked page the crawler should not re-process) vs
    'major' (a genuine rewrite). The refinement of
    :func:`snapshot_diff`'s binary 'changed': crawl-refresh policy
    needs to know HOW changed.

    Scale shape (the lsh_verified_pairs discipline): a narrow 20 B/row
    hash equi-join finds changed ids first (localCheckpoint'ed — one
    execution), then each snapshot is LEFT SEMI joined down to those
    ids before any text moves; shingle arrays cross the wire only for
    the changed fraction of the crawl, and the Jaccard itself is
    per-row array algebra (array_distinct/array_intersect) — no
    explode, no per-shingle shuffle. Assumes id-unique snapshots (the
    snapshot_diff contract); NULL-id rows never join and are skipped.
    NULL text coalesces to '' pre-shingling (size(NULL array) is the
    -1 trap), yielding the [''] singleton set — so a NULL->non-empty
    change profiles as jaccard 0, 'major', while NULL->'' (or
    whitespace-only) hashes as changed but shingles identically on
    both sides: jaccard_ppm 1_000_000, 'minor'. That asymmetry is the
    intended policy (no content appeared), twin-identical.

    jaccard_ppm = (1_000_000 * |A ∩ B|) div |A ∪ B| on NON-NEGATIVE
    integers (Spark div truncates toward zero, DuckDB // floors — the
    established gotcha; operands here can't be negative).
    """
    if not 0 <= minor_tau_ppm <= 1_000_000:
        raise ValueError("minor_tau_ppm must be in [0, 1000000]")
    o_h = old.select(
        "doc_id", md5_long(F.col("text")).alias("_h_old")
    )
    n_h = new.select(
        "doc_id", md5_long(F.col("text")).alias("_h_new")
    )
    changed_ids = (
        o_h.join(n_h, "doc_id")
        .where(~F.col("_h_old").eqNullSafe(F.col("_h_new")))
        .select("doc_id")
        .localCheckpoint()
    )
    _col = "coalesce(text, '')"
    sh = f"array_distinct({shingles_expr(w, col=_col)})"
    o_sh = old.join(changed_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(sh).alias("_sh_old")
    )
    n_sh = new.join(changed_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(sh).alias("_sh_new")
    )
    prof = o_sh.join(n_sh, "doc_id").selectExpr(
        "doc_id",
        "CAST(size(_sh_old) AS BIGINT) AS n_old",
        "CAST(size(_sh_new) AS BIGINT) AS n_new",
        "CAST(size(array_intersect(_sh_old, _sh_new)) AS BIGINT)"
        " AS n_common",
    )
    jac = (
        "(CAST(1000000 AS BIGINT) * n_common)"
        " div (n_old + n_new - n_common)"
    )
    return prof.selectExpr(
        "doc_id",
        "n_old",
        "n_new",
        "n_common",
        f"{jac} AS jaccard_ppm",
        f"CASE WHEN {jac} >= {minor_tau_ppm} THEN 'minor'"
        f" ELSE 'major' END AS edit_class",
    )


def snapshot_edit_profile_sql(
    old_table: str,
    new_table: str,
    w: int = SHINGLE_W,
    minor_tau_ppm: int = 500_000,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`snapshot_edit_profile` (single-pass CTE —
    the two-pass semi-join shape is a distribution optimization, not
    a semantic one)."""
    if not 0 <= minor_tau_ppm <= 1_000_000:
        raise ValueError("minor_tau_ppm must be in [0, 1000000]")
    _col = "coalesce(text, '')"
    sh = f"list_distinct({shingles_sql(w, col=_col)})"
    jac = "(CAST(1000000 AS BIGINT) * n_common) // (n_old + n_new - n_common)"
    return f"""
      WITH o AS (
        SELECT {id_sql} AS doc_id, {md5_long_sql('text')} AS h,
               {sh} AS sh
        FROM {old_table}
      ),
      n AS (
        SELECT {id_sql} AS doc_id, {md5_long_sql('text')} AS h,
               {sh} AS sh
        FROM {new_table}
      ),
      prof AS (
        SELECT o.doc_id,
               len(o.sh) AS n_old,
               len(n.sh) AS n_new,
               len(list_intersect(o.sh, n.sh)) AS n_common
        FROM o JOIN n USING (doc_id)
        WHERE o.h IS DISTINCT FROM n.h
      )
      SELECT doc_id, n_old, n_new, n_common,
             CAST({jac} AS BIGINT) AS jaccard_ppm,
             CASE WHEN {jac} >= {minor_tau_ppm} THEN 'minor'
                  ELSE 'major' END AS edit_class
      FROM prof
    """


# ---------------------------------------------------------------------------
# incremental NEAR-dup: persisted MinHash band index + batch join
# ---------------------------------------------------------------------------
#
# The recurring-ingest shape at 100 TB: the corpus LSH index
# (band, key, doc_id, sigs) is a maintained artifact — built once,
# merged per ingest (merge_band_index), stored bucketed by (band, key)
# — and each new crawl batch near-dup-checks against it WITHOUT
# rescanning or re-shingling corpus text. Batch-side cost is
# O(batch), index-side cost is one bucket-pruned equi-join; history
# is never reprocessed. novel_docs() above is the exact-dup analog;
# this is the near-dup one.


def minhash_band_index(
    docs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS, w: int = SHINGLE_W
) -> DataFrame:
    """(band, key, doc_id, sigs): the persistable MinHash-LSH index of
    a corpus. ``key`` is the md5 band-bucket key (identical math to
    :func:`minhash_lsh_pairs`); ``sigs`` carries the full k-component
    signature so later batch joins can ESTIMATE Jaccard from signature
    agreement without ever touching corpus text again. One shuffle
    (the doc_id signature aggregate); at scale the output is written
    bucketed by (band, key) so batch joins prune to touched buckets.
    """
    sig = _sig_table(docs, k, w)
    sigs_arr = F.array(*[F.col(f"s{i}") for i in range(k)])
    return sig.select(
        "doc_id",
        sigs_arr.alias("sigs"),
        F.posexplode(F.expr(_band_keys_expr(k, bands))).alias("band", "key"),
    ).select("band", "key", "doc_id", "sigs")


def merge_band_index(idx_a: DataFrame, idx_b: DataFrame) -> DataFrame:
    """Union two band indexes (e.g. yesterday's artifact + today's
    batch) into one, idempotent on re-merge: distinct on
    (band, key, doc_id). ``sigs`` is functionally determined by
    doc_id, so dropDuplicates keeping any row is deterministic. Both
    sides are normalized to the canonical four columns so an index
    read with extra columns (e.g. a partition column of its layout)
    merges cleanly with a plain one."""
    cols = ["band", "key", "doc_id", "sigs"]
    return (
        idx_a.select(cols)
        .unionByName(idx_b.select(cols))
        .dropDuplicates(["band", "key", "doc_id"])
    )


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
    min_match: int | None = None,
) -> DataFrame:
    """(new_doc_id, corpus_doc_id, n_match): batch documents that
    near-duplicate an already-indexed corpus document. ``n_match`` is
    the number of agreeing signature components (of k) — n_match/k is
    the standard unbiased Jaccard estimate, and as an exact integer it
    survives hash comparison across engines. Default threshold k//2
    (estimated Jaccard >= 0.5).

    Scale shape: shingle/sign the BATCH only, equi-join its band rows
    to the index on (band, key) — uniform md5 keys, AQE-skew-safe,
    bucket-pruned when the index is stored bucketed — then one
    pair-group aggregate. Corpus text is never read. A batch doc
    colliding with the same corpus doc in several bands dedups in the
    aggregate (n_match is per-pair constant, so max == the value).
    """
    if min_match is None:
        min_match = k // 2
    batch_idx = minhash_band_index(batch, k, bands, w)
    # tolerate decorated indexes (e.g. a partition column of the
    # index's layout) — only the canonical four matter
    index = index.select("band", "key", "doc_id", "sigs")
    pairs = (
        batch_idx.alias("n")
        .join(
            index.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.key") == F.col("c.key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
            F.expr(
                "size(filter(zip_with(n.sigs, c.sigs, (x, y) -> x = y), v -> v))"
            ).alias("n_match"),
        )
    )
    return (
        pairs.where(F.col("n_match") >= min_match)
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.max("n_match").alias("n_match"))
    )


def _band_index_sql(
    table_expr: str, k: int, bands: int, w: int, id_sql: str
) -> str:
    """DuckDB twin of :func:`minhash_band_index` over ``table_expr``
    (a table name or parenthesized subquery)."""
    h40, sigs = _sigs_sql(k, w)
    band_keys = _band_keys_sql(k, bands)
    return f"""
        SELECT doc_id, sigs, r.i AS band, keys[r.i + 1] AS key
        FROM (
          SELECT doc_id, sigs, {band_keys} AS keys
          FROM (SELECT {id_sql} AS doc_id, {sigs} AS sigs
                FROM (SELECT doc_id, {h40} AS hs FROM {table_expr}))
        ) CROSS JOIN range(0, {bands}) r(i)
    """


def dedup_against_index_sql(
    batch_expr: str,
    corpus_expr: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
    min_match: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`dedup_against_index` with the index built
    inline from ``corpus_expr`` (the oracle cannot persist artifacts;
    the math is identical)."""
    if min_match is None:
        min_match = k // 2
    return f"""
      WITH nb AS ({_band_index_sql(batch_expr, k, bands, w, id_sql)}),
      cb AS ({_band_index_sql(corpus_expr, k, bands, w, id_sql)}),
      hits AS (
        SELECT nb.doc_id AS new_doc_id, cb.doc_id AS corpus_doc_id,
               CAST(len(list_filter(range(1, {k} + 1),
                    i -> nb.sigs[i] = cb.sigs[i])) AS INT) AS n_match
        FROM nb JOIN cb ON nb.band = cb.band AND nb.key = cb.key
      )
      SELECT new_doc_id, corpus_doc_id, max(n_match) AS n_match
      FROM hits WHERE n_match >= {min_match}
      GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# LSH quality evaluation (measure, don't guess)
# ---------------------------------------------------------------------------


def lsh_recall_eval(
    docs: DataFrame,
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    max_df: int | None = 1000,
) -> DataFrame:
    """One row (n_true, n_candidates, n_hit, recall_ppm,
    precision_ppm): how well the MinHash-LSH candidate generator
    covers the exact-Jaccard ground truth at threshold ``tau`` — the
    eval a dedup owner runs BEFORE trusting (k, bands) at a new
    corpus or threshold, because LSH recall is a property of the
    corpus's similarity distribution, not of the algorithm alone.

    truth      = :func:`ngram_jaccard_pairs` (exact baseline, same
                 ``max_df`` cap — the cap is part of the definition
                 being evaluated against)
    candidates = :func:`minhash_lsh_pairs` (what production proposes)
    recall_ppm    = (n_hit * 10^6) div n_true        (NULL if no truth)
    precision_ppm = (n_hit * 10^6) div n_candidates  (NULL if none)

    Integer ppm keeps the row engine-exact (non-negative operands, so
    Spark's truncating `div` and DuckDB's flooring `//` agree). Each
    expensive subtree (truth pairs, candidate pairs) is computed ONCE:
    a flagged full-outer join on the (a < b)-oriented pair key feeds a
    single aggregate — no per-metric re-execution of the pair plans.
    """
    t = ngram_jaccard_pairs(docs, w=w, tau=tau, max_df=max_df).select(
        "doc_a", "doc_b", F.lit(1).alias("in_t")
    )
    c = minhash_lsh_pairs(
        docs, k=k, bands=bands, w=w, max_bucket=max_bucket
    ).select("doc_a", "doc_b", F.lit(1).alias("in_c"))
    j = t.join(c, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.count("in_t").alias("n_true"),
        F.count("in_c").alias("n_candidates"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_c").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_hit"),
    ).selectExpr(
        "n_true",
        "n_candidates",
        "n_hit",
        "CASE WHEN n_true > 0 THEN (n_hit * 1000000) div n_true"
        " ELSE NULL END AS recall_ppm",
        "CASE WHEN n_candidates > 0 THEN (n_hit * 1000000) div n_candidates"
        " ELSE NULL END AS precision_ppm",
    )


def lsh_recall_eval_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    max_df: int | None = 1000,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`lsh_recall_eval` — composes the two pair
    twins verbatim so the evaluated definitions are the contract
    definitions."""
    return f"""
      WITH truth AS (
        SELECT doc_a, doc_b FROM (
          {ngram_jaccard_pairs_sql(table, w=w, tau=tau, max_df=max_df)}
        )
      ),
      cand AS (
        SELECT doc_a, doc_b FROM (
          {minhash_lsh_pairs_sql(table, k=k, bands=bands, w=w,
                                 max_bucket=max_bucket, id_sql=id_sql)}
        )
      ),
      j AS (
        SELECT t.doc_a IS NOT NULL AS in_t, c.doc_a IS NOT NULL AS in_c
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      ),
      m AS (
        SELECT CAST(count(*) FILTER (in_t) AS BIGINT) AS n_true,
               CAST(count(*) FILTER (in_c) AS BIGINT) AS n_candidates,
               CAST(count(*) FILTER (in_t AND in_c) AS BIGINT) AS n_hit
        FROM j
      )
      SELECT n_true, n_candidates, n_hit,
             CASE WHEN n_true > 0
                  THEN (n_hit * 1000000) // n_true
                  ELSE NULL END AS recall_ppm,
             CASE WHEN n_candidates > 0
                  THEN (n_hit * 1000000) // n_candidates
                  ELSE NULL END AS precision_ppm
      FROM m
    """


# ---------------------------------------------------------------------------
# cluster representative selection (keep-best curation policy)
# ---------------------------------------------------------------------------


def cluster_representatives(
    docs: DataFrame,
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """(cluster_rep, best_doc_id, n_members, best_quality): the
    keep-BEST curation policy over :func:`dup_clusters` — per
    near-duplicate cluster, the member with the highest quality score
    (ties -> lowest doc_id). min-id survivorship (what ``dup_clusters``
    alone gives) keeps whichever duplicate happened to be crawled
    first; a training-data curator wants the cleanest copy, which is
    exactly the difference between a boilerplate-riddled mirror and
    the original article.

    Composition: ``dup_clusters`` labels (docs in >= 1 verified pair
    only — singletons keep themselves trivially and are not emitted),
    equi-joined to :func:`ocr_spark.functions.text.quality_score` on
    doc_id, then one per-cluster window pick. Each expensive subtree
    (LSH-verified edges + components; one quality scan) appears once
    in the plan. ``doc_id`` stays ID-TYPE-AGNOSTIC: the tie-break
    orders whatever type the column has; nothing casts it.
    """
    from pyspark.sql import Window

    from ocr_spark.functions.text import quality_score

    clusters = dup_clusters(docs, w, tau, k, bands, max_bucket)
    q = quality_score(docs).select("doc_id", "quality")
    j = clusters.join(q, "doc_id")
    win = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(win))
        .withColumn(
            "n_members",
            F.count("*").over(Window.partitionBy("cluster_rep")),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("best_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("quality").alias("best_quality"),
        )
    )


def cluster_representatives_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau: float = 0.2,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`cluster_representatives` — composes the
    dup_clusters and quality_score twins verbatim."""
    from ocr_spark.functions.text import quality_score_sql

    clusters = dup_clusters_sql(table, w, tau, k, bands, max_bucket, id_sql)
    quality = quality_score_sql(table, id_sql=id_sql)
    return f"""
      WITH clusters AS ({clusters}),
      q AS (SELECT doc_id, quality FROM ({quality})),
      j AS (
        SELECT c.doc_id, c.cluster_rep, q.quality
        FROM clusters c JOIN q USING (doc_id)
      ),
      r AS (
        SELECT *,
               row_number() OVER (
                 PARTITION BY cluster_rep
                 ORDER BY quality DESC, doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY cluster_rep) AS n_members
        FROM j
      )
      SELECT cluster_rep, doc_id AS best_doc_id,
             CAST(n_members AS BIGINT) AS n_members,
             quality AS best_quality
      FROM r WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# containment pairs (asymmetric sub-document duplication)
# ---------------------------------------------------------------------------


def containment_pairs(
    docs: DataFrame,
    w: int = SHINGLE_W,
    tau_c: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Production containment pairs: minhash-LSH candidates,
    exact-containment verified (same two-stage shape as
    :func:`lsh_verified_pairs`; the candidate set is localCheckpoint'ed
    once and consumed by both verification branches).

    RECALL CAVEAT (honest scope): symmetric minhash-LSH proposes a
    pair with probability driven by JACCARD, so extreme short-in-long
    containment (tiny A swallowed by huge B, Jaccard ~ |A|/|B|) is
    under-proposed — raising ``bands`` (or lowering rows-per-band)
    recovers some of it at more candidate cost. The window-level
    variant of that case is exactly what
    :func:`ocr_spark.functions.scrub.remove_repeated_passages`
    catches; this operator's sweet spot is quote/excerpt/expansion
    pairs where the contained side is a substantial fraction of the
    container."""
    cand = minhash_lsh_pairs(docs, k, bands, w, max_bucket).localCheckpoint()
    return containment_verify(docs, cand, w, tau_c)


def containment_pairs_sql(
    table: str = "documents",
    w: int = SHINGLE_W,
    tau_c: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    id_sql: str = "CAST(doc_id AS BIGINT)",
) -> str:
    return containment_verify_sql(
        minhash_lsh_pairs_sql(table, k, bands, w, max_bucket, id_sql),
        table,
        w,
        tau_c,
        id_sql,
    )


# ---------------------------------------------------------------------------
# canonical-text exact dedup (C4/RefinedWeb-style normalized keys)
# ---------------------------------------------------------------------------

# ASCII lowercase via translate, never lower() — see schema.ASCII_*.
from ocr_spark.schema import ASCII_LOWER as _LOWER
from ocr_spark.schema import ASCII_UPPER as _UPPER


def canonical_text(col):
    """Dedup-key canonicalization: ASCII-lowercase, every non-ASCII-
    alphanumeric character (punctuation, unicode, controls) -> space,
    whitespace runs collapsed to one space, ends trimmed.

    Two crawls of the same page that differ only in case, punctuation
    spacing, or markup residue canonicalize to the same key — the
    normalization step C4/RefinedWeb apply before exact dedup. Pure
    scan-stage codegen (translate + two regexp_replace + trim), zero
    shuffle, and every regex is spelled with explicit ASCII classes so
    the Java and RE2 dialects agree byte-for-byte.
    """
    from ocr_spark.schema import NON_ALNUM_WS

    c = F.translate(col, _UPPER, _LOWER)
    c = F.regexp_replace(c, NON_ALNUM_WS, " ")
    c = F.regexp_replace(c, WS + "+", " ")
    return F.trim(c)


def canonical_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonical_text` (explicit 'g' flag —
    DuckDB regexp_replace defaults to first-match-only)."""
    from ocr_spark.schema import NON_ALNUM_WS

    c = f"translate({expr}, '{_UPPER}', '{_LOWER}')"
    c = f"regexp_replace({c}, '{NON_ALNUM_WS}', ' ', 'g')"
    c = f"regexp_replace({c}, '{WS}+', ' ', 'g')"
    return f"trim({c})"


def exact_dedup_canonical(docs: DataFrame) -> DataFrame:
    """:func:`exact_dedup` over the canonicalized text: (canon_md5,
    n_docs, rep_doc_id). Same one-shuffle hash-
    aggregate shape — the canonicalization rides inside the scan
    stage, so the only cost over raw exact dedup is per-row string
    work. NULL text canonicalizes to NULL and groups with other NULLs
    (matching raw exact_dedup's NULL-key group)."""
    canon = canonical_text(F.col("text"))
    return (
        docs.select(F.md5(canon).alias("canon_md5"), "doc_id")
        .groupBy("canon_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


def exact_dedup_canonical_sql(
    table: str = "documents", id_sql: str = "CAST(doc_id AS BIGINT)"
) -> str:
    canon = canonical_text_sql("text")
    return f"""
      SELECT md5({canon}) AS canon_md5, count(*) AS n_docs,
             min({id_sql}) AS rep_doc_id
      FROM {table} GROUP BY 1
    """


# ---------------------------------------------------------------------------
# bloom-filter novelty gate (compressed seen-set for incremental ingest)
# ---------------------------------------------------------------------------

# 30 payload bits per BIGINT word: 1 << bit with bit < 30 stays a
# small positive int in BOTH engines (bit 63 is the signed-overflow
# trap: DuckDB errors on BIGINT << into the sign bit, Spark wraps).
_BLOOM_WORD_BITS = 30
BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


def _bloom_positions(h_col, m_bits: int, k: int) -> list:
    """k bit positions from ONE key column (by default the md5 hex of
    the text): k cheap re-hashes of the key's string form — never k
    scans of the text."""
    h = h_col.cast("string")
    return [
        md5_long(F.concat(F.lit(f"bloom:{i}:"), h)) % m_bits
        for i in range(k)
    ]


def _bloom_positions_sql(key: str, m_bits: int, k: int) -> list[str]:
    out = []
    for i in range(k):
        keyed = md5_long_sql(f"'bloom:{i}:' || CAST(({key}) AS VARCHAR)")
        out.append(f"({keyed} % {m_bits})")
    return out


def bloom_build(
    docs: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    key=None,
) -> DataFrame:
    """Build the seen-set bloom filter over ``key`` (a Column; default
    ``md5(text)``): a sparse (word_idx, word) bitset table of at most
    ``ceil(m_bits/30)`` rows.

    The incremental-ingest artifact at the scale where
    :func:`novel_docs`'s exact anti-join shuffle is too expensive to
    re-run per batch: the corpus compresses to ~1.25 bytes/doc at 10
    bits/item (vs a 16-byte md5 key each), merges by ``bit_or`` and —
    unlike the exact key set — stays broadcastable far longer.
    Guarantee is one-sided: a row whose key was inserted is ALWAYS
    flagged seen; a novel key is falsely flagged with probability
    ~(1-e^{-kn/m})^k. Rows with a NULL key (NULL text, by default) are
    never inserted. Any key works — ``canonical_text`` for re-crawl
    matching, ``doc_id`` for an id seen-set — as long as the build and
    the gate use the same one.

    Shape: one pruned scan, explode of k ints/doc, one partial-agg
    shuffle on uniform ``word_idx`` keys bounded by m_bits/30 groups.
    """
    key = F.md5(F.col("text")) if key is None else key
    pos = F.explode(F.array(*_bloom_positions(key, m_bits, k)))
    # a NULL key hashes to NULL positions; dropping those after the
    # explode evaluates the key once per row (a filter on the key
    # itself would be pushed below the explode and hash it twice)
    keyed = docs.select(pos.alias("pos")).where(F.col("pos").isNotNull())
    wb = _BLOOM_WORD_BITS
    return (
        keyed.select(
            F.expr(f"pos div {wb}").alias("word_idx"),
            F.expr(f"cast(shiftleft(1, cast(pos % {wb} as int)) as long)").alias(
                "word"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two same-(m_bits,k) bloom tables: bit_or by word_idx —
    exactly the filter that one pass over both corpora would build."""
    return (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )


def bloom_novel(
    new_docs: DataFrame,
    bloom: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    key=None,
) -> DataFrame:
    """Gate ``new_docs`` against a :func:`bloom_build` table built
    over the same ``key`` (default ``md5(text)``): adds ``maybe_seen``
    (true = the filter MAY have seen this key; false = certainly
    novel; always false for a NULL key). Row-preserving — callers
    filter ``~maybe_seen`` for the certain-novel stream and route the
    maybe-seen remainder (FP-rate-sized) to the exact check.

    Shape: k broadcast hash joins against the (tiny, unique-keyed)
    word table — zero shuffle on the new-docs side, no fan-out. At an
    m_bits too large to broadcast, partition the filter by word_idx
    and let the joins shuffle; the semantics don't change.
    """
    wb = _BLOOM_WORD_BITS
    helpers = ["_bh", "maybe_seen"] + [
        c for i in range(k) for c in (f"_bp{i}", f"_bw{i}", f"_bword{i}")
    ]
    clash = [c for c in helpers if c in new_docs.columns]
    if clash:
        raise ValueError(
            f"input already has column(s) {clash} — rename them (or the "
            "prior maybe_seen verdict) before gating"
        )
    # ONE evaluation of the key per row (one md5 of the full text, by
    # default); the k positions are cheap re-hashes of it, all in a
    # single projection BEFORE any join (withColumn-per-join would
    # re-evaluate the key in every join stage's Project).
    out = new_docs.withColumn("_bh", F.md5(F.col("text")) if key is None else key)
    for i, pos in enumerate(_bloom_positions(F.col("_bh"), m_bits, k)):
        out = out.withColumn(f"_bp{i}", pos)
    hits = []
    for i in range(k):
        side = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"_bw{i}"), F.col("word").alias(f"_bword{i}")
            )
        )
        out = out.join(
            side, F.expr(f"_bp{i} div {wb}") == F.col(f"_bw{i}"), "left"
        )
        mask = F.expr(f"cast(shiftleft(1, cast(_bp{i} % {wb} as int)) as long)")
        hits.append(
            F.coalesce(F.col(f"_bword{i}").bitwiseAND(mask) == mask, F.lit(False))
        )
    seen = hits[0]
    for h in hits[1:]:
        seen = seen & h
    maybe_seen = F.when(F.col("_bh").isNull(), F.lit(False)).otherwise(seen)
    drop = ["_bh"] + [
        c for i in range(k) for c in (f"_bp{i}", f"_bw{i}", f"_bword{i}")
    ]
    return out.withColumn("maybe_seen", maybe_seen).drop(*drop)


def bloom_build_sql(
    table: str = "documents",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    key: str = "md5(text)",
) -> str:
    """DuckDB twin of :func:`bloom_build`; ``key`` is the SQL twin of
    the key Column (``//`` floors, but every position is non-negative,
    so it equals Spark's ``div``)."""
    ps = _bloom_positions_sql(key, m_bits, k)
    return f"""
      SELECT pos // {_BLOOM_WORD_BITS} AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD_BITS} AS INT))
               AS word
      FROM (
        SELECT unnest([{', '.join(ps)}]) AS pos
        FROM {table} WHERE ({key}) IS NOT NULL
      ) GROUP BY 1
    """


def bloom_novel_sql(
    new_table: str,
    bloom_sql: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    id_sql: str = "CAST(doc_id AS BIGINT)",
    key: str = "md5(text)",
) -> str:
    """DuckDB twin of :func:`bloom_novel`, projected to
    (doc_id, maybe_seen)."""
    ps = _bloom_positions_sql(key, m_bits, k)
    joins, hits = [], []
    for i, p in enumerate(ps):
        joins.append(
            f"LEFT JOIN bloom b{i} ON b{i}.word_idx = ({p}) // {_BLOOM_WORD_BITS}"
        )
        mask = (
            f"(CAST(1 AS BIGINT) << CAST(({p}) % {_BLOOM_WORD_BITS} AS INT))"
        )
        hits.append(f"coalesce((b{i}.word & {mask}) = {mask}, false)")
    return f"""
      WITH bloom AS ({bloom_sql})
      SELECT {id_sql} AS doc_id,
             CASE WHEN ({key}) IS NULL THEN false
                  ELSE {' AND '.join(hits)} END AS maybe_seen
      FROM {new_table} d
      {' '.join(joins)}
    """


def bloom_fp_eval(
    corpus: DataFrame,
    history: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """One-row quality report of the bloom gate against exact truth —
    the evidence for choosing (m_bits, k) before trusting the filter
    on a real ingest (the retrieval-side :func:`lsh_recall_eval`).

    Builds the filter over ``history``, gates ``corpus``, and compares
    every verdict with exact md5-membership: ``n_false_neg`` MUST be 0
    (the one-sided guarantee — a nonzero value means a bug, not a
    tuning problem); ``fp_ppm`` is the false-positive rate over the
    truly-novel docs in integer ppm. Truth is defined over non-NULL
    texts only (the filter never inserts NULLs and never flags them).
    Requires unique ``doc_id``s (it is an eval, run on a sample).
    """
    bloom = bloom_build(history, m_bits, k)
    verdicts = bloom_novel(corpus, bloom, m_bits, k)
    seen = (
        history.where(F.col("text").isNotNull())
        .select(F.md5("text").alias("_hk"))
        .distinct()
    )
    flagged = verdicts.withColumn("_ck", F.md5("text")).join(
        seen, F.col("_ck") == F.col("_hk"), "left"
    )
    truth = F.col("_hk").isNotNull()
    ms = F.col("maybe_seen")
    return (
        flagged.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(truth.cast("long")).alias("n_true_seen"),
            F.sum(ms.cast("long")).alias("n_maybe_seen"),
            F.sum((ms & ~truth).cast("long")).alias("n_false_pos"),
            F.sum((truth & ~ms).cast("long")).alias("n_false_neg"),
        )
        .withColumn(
            "fp_ppm",
            F.expr(
                "CASE WHEN n_docs - n_true_seen > 0 THEN "
                "(n_false_pos * 1000000) div (n_docs - n_true_seen) "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )


def bloom_fp_eval_sql(
    corpus_table: str = "documents",
    history_table: str = "documents",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    id_sql: str = "CAST(d.doc_id AS BIGINT)",
) -> str:
    """DuckDB twin of :func:`bloom_fp_eval`."""
    verdicts = bloom_novel_sql(
        corpus_table, bloom_build_sql(history_table, m_bits, k), m_bits, k, id_sql
    )
    return f"""
      WITH verdicts AS ({verdicts}),
      truth AS (
        SELECT {id_sql} AS doc_id,
               (d.text IS NOT NULL AND EXISTS (
                 SELECT 1 FROM {history_table} h
                 WHERE md5(h.text) = md5(d.text)
               )) AS true_seen
        FROM {corpus_table} d
      ),
      j AS (
        SELECT v.maybe_seen AS ms, t.true_seen AS ts
        FROM verdicts v JOIN truth t USING (doc_id)
      )
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN ts THEN 1 ELSE 0 END) AS BIGINT) AS n_true_seen,
             CAST(sum(CASE WHEN ms THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe_seen,
             CAST(sum(CASE WHEN ms AND NOT ts THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos,
             CAST(sum(CASE WHEN ts AND NOT ms THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_neg,
             CASE WHEN count(*) - sum(CASE WHEN ts THEN 1 ELSE 0 END) > 0 THEN
               (CAST(sum(CASE WHEN ms AND NOT ts THEN 1 ELSE 0 END) AS BIGINT)
                 * 1000000)
               // CAST(count(*) - sum(CASE WHEN ts THEN 1 ELSE 0 END) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS fp_ppm
      FROM j
    """
