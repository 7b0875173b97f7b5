"""Media-span operators over the nested interleaved span table
(doc_id string, spans array<struct<kind,text,media_ref,offset>>) —
the BASELINE.json ``input_hint`` shape.

The interleave module curates documents by their text<->media
STRUCTURE; this module curates the media spans themselves:

1. ``media_reuse`` — cross-document asset-reuse profile: a media key
   (the raw ``media_ref`` or a caller-supplied normalization of it,
   e.g. a CDN path with cache-busting query params stripped) that
   recurs across >= min_docs distinct documents is shared site
   furniture — logos, tracking pixels, nav sprites — not content.
   This is the media analog of ``interleave.strip_frequent_spans``
   (which catches repeated TEXT): a multimodal corpus needs both
   before caption-pair mining, or the same logo dominates the
   image-text training pairs. ``strip_reused_media`` is the
   actionable counterpart — it removes those spans from every
   document. Reference analog: the webapp links each picture item to
   its media asset by reference (/root/reference/webapp/state.py
   preview assets keyed by token); corpus-level reuse of those
   references is the 100 TB-scale signal the single-document app
   never sees.

2. ``media_context`` — MMC4-style image<->text pairing: each media
   span paired with the NEAREST text span before and after it (by
   offset), truncated to a context budget. Where
   ``interleave.caption_pairs`` recovers the explicit figure<->caption
   attachment the layout parser emitted, media_context recovers
   *implicit* context for media that has no caption span at all — the
   standard fallback when mining (image, surrounding-prose) training
   pairs from interleaved web documents.

3. ``media_position_stats`` — per-document media placement profile:
   how many media spans sit in the leading/trailing decile of the
   document's offset range (edge media = headers/ads/footers, body
   media = content illustrations) plus the number of text<->media
   modality switches (interleaving granularity: a doc with all images
   bunched at the end is worth less as interleaved training data than
   one that alternates). All integer arithmetic — decile membership
   via ``10*(o - min) <= (max - min)`` and a parts-per-million mean
   relative position via integer division — so the DuckDB twin
   hash-matches exactly with no float-formatting hazard.

Scale shapes (what must survive 100 TB):

- ``media_reuse`` explodes ONLY the media spans (a small fraction of
  all spans; the filter runs inside the array before the Generate),
  then shuffles (media_key, doc_id) pairs — never span text — through
  one partial-aggregated groupBy on uniform asset-key hashes.
- ``media_context`` is ZERO-shuffle: the text-span list is LET-bound
  once per document and each media span scans it with two
  O(|text spans|) array folds — whole-stage codegen, no
  explode-then-window, no self-join (the caption_pairs shape).
- ``media_position_stats`` is ZERO-shuffle: per-document folds over
  the nested array, one row in one row out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.interleave import _IS_MEDIA, _IS_TEXT

# Default cross-document reuse threshold: an asset in >= 2 distinct
# docs is already not unique content; real furniture shows up in
# thousands.
MIN_DOCS = 2

# Context budget per side for media_context (chars, not tokens: the
# budget bounds shuffle-free memory, the downstream tokenizer
# re-trims).
CONTEXT_CHARS = 120


# ---------------------------------------------------------------------------
# cross-document media reuse
# ---------------------------------------------------------------------------


def media_reuse(
    docs: DataFrame, min_docs: int = MIN_DOCS, key_sql: str = "media_ref"
) -> DataFrame:
    """(media_key, n_docs, n_uses): media keys referenced from
    >= ``min_docs`` distinct documents, with total use count.

    ``key_sql`` is a Spark-SQL expression over the flat ``media_ref``
    column producing the reuse key — default the raw ref; pass a
    normalization (strip query strings, extract the asset id) when
    refs carry per-page noise, exactly like ``urls.canonicalize_urls``
    does for document URLs. The caller supplies the matching DuckDB
    expression to ``media_reuse_sql`` (the two dialects' regex
    functions agree on the common POSIX subset). A key that
    normalizes to NULL or '' (e.g. a regexp_extract miss) is dropped,
    not grouped — same rule as ``strip_reused_media``, else one miss
    pattern lumps every unmatched ref into a single giant pseudo-asset
    row.

    Scale shape: filter-before-explode (only media spans leave the
    array), one groupBy on the asset key with partial aggregation;
    the distinct-doc count shuffles (key, doc_id) pairs only.
    """
    flat = docs.selectExpr(
        "doc_id", f"explode(filter(spans, s -> {_IS_MEDIA})) AS m"
    ).selectExpr("doc_id", "m.media_ref AS media_ref")
    keyed = flat.selectExpr(f"nullif(({key_sql}), '') AS media_key", "doc_id").where(
        F.col("media_key").isNotNull()
    )
    return (
        keyed.groupBy("media_key")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").alias("n_uses"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def media_reuse_sql(
    spans_sql: str = "SELECT * FROM spans",
    min_docs: int = MIN_DOCS,
    key_sql: str = "media_ref",
) -> str:
    """DuckDB twin over a FLAT span source. ``key_sql`` is a DuckDB
    expression over ``media_ref`` (see media_reuse); NULL/''-keys are
    dropped on both sides."""
    return f"""
      WITH src AS ({spans_sql}),
      media AS (
        SELECT doc_id, nullif(({key_sql}), '') AS media_key FROM src
        WHERE media_ref IS NOT NULL AND media_ref <> ''
      )
      SELECT media_key,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_uses
      FROM media
      WHERE media_key IS NOT NULL
      GROUP BY 1
      HAVING count(DISTINCT doc_id) >= {int(min_docs)}
    """


def strip_reused_media(
    docs: DataFrame, min_docs: int = MIN_DOCS, key_sql: str = "media_ref"
) -> DataFrame:
    """Flat cleaned spans (doc_id, kind, text, media_ref, offset):
    media spans whose asset key recurs in >= ``min_docs`` distinct
    documents are removed from every document — the actionable
    counterpart of ``media_reuse``, and the media analog of
    ``interleave.strip_frequent_spans`` (which strips repeated TEXT).
    Text spans always survive (NULL join key never matches an
    equi-join). A key that normalizes to the empty string (e.g. a
    regexp_extract miss) is NOT a candidate — '' would otherwise lump
    every unmatched ref into one pseudo-asset and strip them all.

    Plan (the strip_frequent_flat shape): explode -> key media spans
    -> distinct (doc_id, key) pairs -> one partial-aggregated count
    on the key -> threshold filter -> left-anti equi-join back. Only
    asset keys shuffle, never span text; the reused set is tiny by
    construction and AQE broadcasts the anti-join.
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would strip every media span)")
    flat = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    keyed = flat.withColumn(
        "_mkey",
        F.expr(f"CASE WHEN {is_media} THEN nullif(({key_sql}), '') ELSE NULL END"),
    )
    reused = (
        keyed.where(F.col("_mkey").isNotNull())
        .select("doc_id", "_mkey")
        .distinct()
        .groupBy("_mkey")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("_mkey")
    )
    return keyed.join(reused, "_mkey", "left_anti").drop("_mkey")


def strip_reused_media_sql(
    spans_sql: str = "SELECT * FROM spans",
    min_docs: int = MIN_DOCS,
    key_sql: str = "media_ref",
) -> str:
    """DuckDB twin over the same flat span source: same per-doc-
    distinct df rule, same NULL/''-key-survives semantics."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql}),
      keyed AS (
        SELECT doc_id, kind, text, media_ref, "offset",
               CASE WHEN {is_media} THEN nullif(({key_sql}), '')
                    ELSE NULL END AS mkey
        FROM src
      ),
      reused AS (
        SELECT mkey FROM (
          SELECT mkey, count(*) AS df
          FROM (SELECT DISTINCT doc_id, mkey FROM keyed WHERE mkey IS NOT NULL)
          GROUP BY mkey
        ) WHERE df >= {int(min_docs)}
      )
      SELECT doc_id, kind, text, media_ref, "offset"
      FROM keyed
      WHERE mkey IS NULL OR mkey NOT IN (SELECT mkey FROM reused)
    """


# ---------------------------------------------------------------------------
# nearest-text context for each media span
# ---------------------------------------------------------------------------


def media_context(docs: DataFrame, n_chars: int = CONTEXT_CHARS) -> DataFrame:
    """(doc_id, media_ref, media_offset, before_offset, text_before,
    after_offset, text_after): each media span paired with the nearest
    text span strictly before and strictly after it by offset; the
    before-side keeps its LAST ``n_chars`` chars, the after-side its
    FIRST ``n_chars`` (the prose adjacent to the figure). A missing
    side stays NULL (the gap is data — leading/trailing media is
    exactly what media_position_stats counts).

    Scale shape: ZERO shuffle — the caption_pairs pattern. The text
    spans are LET-bound once per document (sorted ascending by
    offset), and each media span picks prev/next with two array folds:
    over an ascending list, "last element with offset < p" is the
    nearest-before and "first element with offset > p" is the
    nearest-after. Same distinct-offset-per-document precondition as
    caption_pairs.
    """
    if n_chars < 1:
        raise ValueError(f"n_chars must be >= 1, got {n_chars}")
    txt_t = "STRUCT<offset: INT, text: STRING>"
    txts = (
        "array_sort(transform(filter(spans, s -> "
        f"{_IS_TEXT}), "
        "s -> struct(CAST(s.offset AS INT) AS offset, s.text AS text)))"
    )
    prev = (
        f"aggregate(T, CAST(NULL AS {txt_t}), "
        "(acc, c) -> IF(c.offset < p.offset, c, acc))"
    )
    nxt = (
        f"aggregate(T, CAST(NULL AS {txt_t}), "
        "(acc, c) -> IF(c.offset > p.offset AND acc IS NULL, c, acc))"
    )
    expr = (
        f"flatten(transform(array({txts}), T -> "
        f"transform(filter(spans, s -> {_IS_MEDIA}), p -> "
        f"struct(p.media_ref AS media_ref, "
        f"CAST(p.offset AS INT) AS media_offset, "
        f"{prev} AS pv, {nxt} AS nx))))"
    )
    n = int(n_chars)
    return docs.selectExpr("doc_id", f"explode({expr}) AS r").select(
        "doc_id",
        "r.media_ref",
        "r.media_offset",
        F.col("r.pv.offset").alias("before_offset"),
        F.expr(f"right(r.pv.text, {n})").alias("text_before"),
        F.col("r.nx.offset").alias("after_offset"),
        F.expr(f"left(r.nx.text, {n})").alias("text_after"),
    )


def media_context_sql(
    spans_sql: str = "SELECT * FROM spans", n_chars: int = CONTEXT_CHARS
) -> str:
    """DuckDB twin over a FLAT span source — independent formulation:
    nearest text offsets via grouped min/max anti-ranges (the
    caption_pairs_sql pattern) instead of the Spark side's array
    folds, then two joins back for the texts. Like caption_pairs_sql,
    the GROUP BY collapses exact-duplicate media rows, which the
    Spark side keeps — the contract corpus never contains them."""
    n = int(n_chars)
    return f"""
      WITH src AS ({spans_sql}),
      txt AS (
        SELECT doc_id, CAST("offset" AS INT) AS o, text FROM src
        WHERE (media_ref IS NULL OR media_ref = '')
          AND text IS NOT NULL AND length(text) > 0
      ),
      pics AS (
        SELECT doc_id, media_ref, CAST("offset" AS INT) AS o FROM src
        WHERE media_ref IS NOT NULL AND media_ref <> ''
      ),
      bounds AS (
        SELECT p.doc_id, p.media_ref, p.o,
               max(CASE WHEN t.o < p.o THEN t.o END) AS prev_o,
               min(CASE WHEN t.o > p.o THEN t.o END) AS next_o
        FROM pics p LEFT JOIN txt t ON t.doc_id = p.doc_id
        GROUP BY p.doc_id, p.media_ref, p.o
      )
      SELECT b.doc_id, b.media_ref, b.o AS media_offset,
             b.prev_o AS before_offset, right(tp.text, {n}) AS text_before,
             b.next_o AS after_offset, left(tn.text, {n}) AS text_after
      FROM bounds b
      LEFT JOIN txt tp ON tp.doc_id = b.doc_id AND tp.o = b.prev_o
      LEFT JOIN txt tn ON tn.doc_id = b.doc_id AND tn.o = b.next_o
    """


# ---------------------------------------------------------------------------
# per-document media placement profile
# ---------------------------------------------------------------------------


def media_position_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_media, n_lead_media, n_tail_media, mean_rel_ppm,
    n_switches): per-document media placement profile, zero shuffle.

    - ``n_lead_media`` / ``n_tail_media``: media spans in the first /
      last DECILE of the document's offset range — membership by the
      integer test ``10*(o - min) <= (max - min)`` (resp. mirrored),
      so both engines agree bit-for-bit. A single-span document
      (max == min) is degenerately all-lead and all-tail.
    - ``mean_rel_ppm``: mean relative position of the media spans in
      [0, 1e6] parts-per-million, floor integer division; NULL when
      the doc has no media or no offset extent.
    - ``n_switches``: modality changes between offset-adjacent spans
      (text->media or media->text) — the interleaving granularity.
      Sorted by (offset, is_media) like interleave_stats' run fold so
      duplicate offsets cannot flip the flag sequence.

    Precondition (the span-table contract, auditable with
    ``interleave.span_integrity``): offsets are non-NULL. A NULL
    offset poisons the Spark-side ppm fold to NULL while the
    NULL-skipping twin aggregate keeps a value — quarantine such docs
    at ingest instead of comparing their profiles.
    """
    media_a = "(a.media_ref IS NOT NULL AND a.media_ref <> '')"
    media_b = "(b.media_ref IS NOT NULL AND b.media_ref <> '')"
    sorted_spans = (
        "array_sort(spans, (a, b) -> CASE WHEN a.offset < b.offset THEN -1 "
        "WHEN a.offset > b.offset THEN 1 ELSE "
        f"(CASE WHEN {media_a} THEN 1 ELSE 0 END) - "
        f"(CASE WHEN {media_b} THEN 1 ELSE 0 END) END)"
    )
    switches = f"""
      aggregate(
        {sorted_spans},
        struct(CAST(-1 AS INT) AS prev, CAST(0 AS INT) AS cnt),
        (acc, s) -> struct(
          CAST(CASE WHEN {_IS_MEDIA} THEN 1 ELSE 0 END AS INT) AS prev,
          acc.cnt + CASE WHEN acc.prev >= 0
              AND acc.prev <> (CASE WHEN {_IS_MEDIA} THEN 1 ELSE 0 END)
            THEN 1 ELSE 0 END AS cnt),
        acc -> acc.cnt)
    """
    # LET-bind the offset extent once (the caption_pairs trick), then
    # every decile test and the ppm mean reads it from the struct.
    offs = "transform(spans, s -> CAST(s.offset AS INT))"
    profile = f"""
      element_at(transform(array(struct(
          array_min({offs}) AS mn, array_max({offs}) AS mx)), b ->
        struct(
          size(filter(spans, s -> {_IS_MEDIA}
              AND 10 * (CAST(s.offset AS INT) - b.mn) <= (b.mx - b.mn)))
            AS n_lead,
          size(filter(spans, s -> {_IS_MEDIA}
              AND 10 * (b.mx - CAST(s.offset AS INT)) <= (b.mx - b.mn)))
            AS n_tail,
          CASE WHEN b.mx > b.mn AND size(filter(spans, s -> {_IS_MEDIA})) > 0
            THEN CAST(aggregate(filter(spans, s -> {_IS_MEDIA}),
                   CAST(0 AS BIGINT),
                   (acc, s) -> acc + (CAST(s.offset AS INT) - b.mn))
                 * 1000000 AS BIGINT)
                 div (CAST(size(filter(spans, s -> {_IS_MEDIA})) AS BIGINT)
                      * (b.mx - b.mn))
            ELSE CAST(NULL AS BIGINT) END AS mean_rel_ppm
        )), 1)
    """
    return docs.select(
        "doc_id",
        F.expr(f"size(filter(spans, s -> {_IS_MEDIA}))")
        .cast("int")
        .alias("n_media"),
        F.expr(profile).alias("_p"),
        F.expr(switches).cast("int").alias("n_switches"),
    ).select(
        "doc_id",
        "n_media",
        F.col("_p.n_lead").cast("int").alias("n_lead_media"),
        F.col("_p.n_tail").cast("int").alias("n_tail_media"),
        F.col("_p.mean_rel_ppm").alias("mean_rel_ppm"),
        "n_switches",
    )


def media_position_stats_sql(spans_sql: str = "SELECT * FROM spans") -> str:
    """DuckDB twin over a FLAT span source — independent formulation:
    the offset extent via a grouped min/max join and the switch count
    via a lag() window, cross-checking the Spark side's array folds.
    Same integer decile/ppm arithmetic (// == Spark div on
    non-negative operands)."""
    return f"""
      WITH src AS ({spans_sql}),
      base AS (
        SELECT doc_id, CAST("offset" AS INT) AS o,
               (media_ref IS NOT NULL AND media_ref <> '') AS is_m
        FROM src
      ),
      ext AS (
        SELECT doc_id, min(o) AS mn, max(o) AS mx FROM base GROUP BY doc_id
      ),
      lagged AS (
        SELECT doc_id, is_m,
               lag(is_m) OVER (
                 PARTITION BY doc_id ORDER BY o, CASE WHEN is_m THEN 1 ELSE 0 END
               ) AS prev_m
        FROM base
      ),
      sw AS (
        SELECT doc_id,
               count(*) FILTER (prev_m IS NOT NULL AND prev_m <> is_m) AS n_sw
        FROM lagged GROUP BY doc_id
      ),
      agg AS (
        SELECT b.doc_id,
               count(*) FILTER (b.is_m) AS n_media,
               count(*) FILTER (b.is_m AND 10 * (b.o - e.mn) <= (e.mx - e.mn))
                 AS n_lead,
               count(*) FILTER (b.is_m AND 10 * (e.mx - b.o) <= (e.mx - e.mn))
                 AS n_tail,
               CASE WHEN max(e.mx) > max(e.mn)
                      AND count(*) FILTER (b.is_m) > 0
                 THEN (sum(CASE WHEN b.is_m THEN b.o - e.mn ELSE 0 END)
                       * 1000000)
                      // (count(*) FILTER (b.is_m) * (max(e.mx) - max(e.mn)))
                 ELSE NULL END AS mean_rel_ppm
        FROM base b JOIN ext e ON e.doc_id = b.doc_id
        GROUP BY b.doc_id
      )
      SELECT a.doc_id,
             CAST(a.n_media AS INT) AS n_media,
             CAST(a.n_lead AS INT) AS n_lead_media,
             CAST(a.n_tail AS INT) AS n_tail_media,
             CAST(a.mean_rel_ppm AS BIGINT) AS mean_rel_ppm,
             CAST(s.n_sw AS INT) AS n_switches
      FROM agg a JOIN sw s ON s.doc_id = a.doc_id
    """


# ---------------------------------------------------------------------------
# media-set near-duplicates (gallery re-posts)
# ---------------------------------------------------------------------------

# Cap on a media key's document frequency during candidate
# generation; matches the ngram_jaccard_pairs / --max-bucket default.
MAX_MEDIA_DF = 1000


def media_jaccard_pairs(
    docs: DataFrame,
    tau: float = 0.5,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b, jaccard): document pairs
    whose distinct MEDIA-ASSET sets overlap with exact Jaccard >=
    ``tau`` — the gallery-re-post detector. Text dedup misses these:
    a re-posted image set travels with rewritten prose, but the asset
    refs survive. The media complement of text near-dup, joining
    ``media_reuse`` (per-asset census) and ``strip_reused_media``
    (boilerplate removal) as the third media-curation primitive.

    ``key_sql`` normalizes refs exactly as in :func:`media_reuse`
    (NULL/'' keys dropped). Candidates come from an equi-join on the
    60-bit key hash; ``max_df`` (default on) drops keys above the
    document-frequency cap from CANDIDATE GENERATION only — site
    furniture (logos, sprites) otherwise emits df^2 join rows; per-doc
    set sizes, and hence Jaccard denominators, are unchanged. Pairs
    sharing only capped assets are missed — the same explicit trade
    as ``ngram_jaccard_pairs``, and the right one: an asset in more
    than ``max_df`` documents is furniture, not a gallery.

    Scale shape: media-only explode (filter inside the array before
    the Generate), distinct (doc_id, hash), count-over-window df cap
    reusing the join's hash partitioning, equi-join + partial-agg
    intersection counts, AQE-chosen joins for the size attach (the
    per-doc counts frame is one row per doc — never broadcast it
    blindly).
    """
    from pyspark.sql import Window

    from ocr_spark.functions.hashing import md5_long_expr
    from ocr_spark.functions.text import floor6

    flat = docs.selectExpr(
        "doc_id", f"explode(filter(spans, s -> {_IS_MEDIA})) AS m"
    ).selectExpr("doc_id", "m.media_ref AS media_ref")
    keyed = (
        flat.selectExpr(
            "doc_id", f"nullif(({key_sql}), '') AS media_key"
        )
        .where(F.col("media_key").isNotNull())
        .select("doc_id", F.expr(md5_long_expr("media_key")).alias("h"))
        .distinct()
    )
    counts = keyed.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = keyed
    if max_df is not None:
        df_count = F.count("*").over(Window.partitionBy("h"))
        cand = (
            keyed.withColumn("_df", df_count)
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
    a, b = cand.alias("a"), cand.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    j = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(j >= tau)
        .select(
            "doc_a", "doc_b", "n_shared", "n_a", "n_b",
            floor6(j).alias("jaccard"),
        )
    )


def media_jaccard_pairs_sql(
    spans_sql: str = "SELECT * FROM spans",
    tau: float = 0.5,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> str:
    """DuckDB twin over a FLAT span source; identical cap and the
    shared 60-bit md5 key hash, so candidate sets (and any
    astronomically unlikely hash collision) agree across engines."""
    from ocr_spark.functions.hashing import md5_long_sql
    from ocr_spark.functions.text import floor6_sql

    j = "(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared))"
    cap = (
        f"QUALIFY count(*) OVER (PARTITION BY h) <= {int(max_df)}"
        if max_df is not None
        else ""
    )
    return f"""
      WITH src AS ({spans_sql}),
      keyed AS (
        SELECT DISTINCT doc_id, {md5_long_sql("media_key")} AS h FROM (
          SELECT doc_id, nullif(({key_sql}), '') AS media_key
          FROM src WHERE media_ref IS NOT NULL AND media_ref <> ''
        ) WHERE media_key IS NOT NULL
      ),
      counts AS (SELECT doc_id, count(*) AS n FROM keyed GROUP BY 1),
      cand AS (SELECT doc_id, h FROM keyed {cap}),
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


def media_dup_clusters(
    docs: DataFrame,
    tau: float = 0.5,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> DataFrame:
    """(doc_id, cluster_rep): connected components over the
    media-set near-duplicate graph — gallery re-post GROUPS, the
    media analog of ``dedup.dup_clusters``. A gallery re-posted
    across N sites forms one cluster; keep the rep (min doc_id),
    drop or downweight the rest.

    Edges come from :func:`media_jaccard_pairs` (df-capped candidate
    generation, exact Jaccard verify); components use the shared
    ``dedup.connected_components`` machinery (min-label propagation
    with pointer jumping). Only docs in >= 1 pair are emitted —
    singletons are trivially their own cluster.
    """
    from ocr_spark.functions.dedup import connected_components

    edges = media_jaccard_pairs(docs, tau, max_df, key_sql).select(
        "doc_a", "doc_b"
    )
    labels, _ = connected_components(edges)
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def media_dup_clusters_sql(
    spans_sql: str = "SELECT * FROM spans",
    tau: float = 0.5,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> str:
    """DuckDB twin: recursive-CTE reachability over the same pair
    graph (the dup_clusters_sql shape) — min over VARCHAR doc ids is
    binary-collation identical across engines."""
    pairs = media_jaccard_pairs_sql(spans_sql, tau, max_df, key_sql)
    return f"""
      WITH RECURSIVE mpairs AS MATERIALIZED ({pairs}),
      edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM mpairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM mpairs
      ),
      verts AS (SELECT DISTINCT src AS doc_id FROM edges),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
      )
      SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY doc_id
    """


def multimodal_near_dups(
    docs: DataFrame,
    tau_text: float = 0.2,
    tau_media: float = 0.5,
    w: int | None = None,
    max_bucket: int | None = None,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> DataFrame:
    """(doc_a, doc_b, text_jaccard, media_jaccard): pairs that are
    near-duplicates in BOTH modalities — the rendered interleaved text
    is shingle-near-dup (>= ``tau_text``) AND the media-asset sets
    overlap (>= ``tau_media``). This is the re-post detector for
    interleaved documents: an article copied with its gallery. Either
    signal alone over-fires on this corpus shape — text Jaccard
    matches syndicated prose with fresh images, media Jaccard matches
    stock-asset reuse under unrelated text; the conjunction is the
    high-precision dedup edge set for a multimodal corpus.

    Composition, not new machinery: the text side renders the span
    sequence once (:func:`interleave.render_interleaved`, zero
    shuffle) and feeds the production text path
    (``dedup.lsh_verified_pairs`` — minhash-LSH proposes, exact
    Jaccard disposes); the media side is :func:`media_jaccard_pairs`
    (df-capped key equi-join). Both emit ``doc_a < doc_b`` on the
    id's natural order, so the final step is ONE equi-join on the
    pair key — candidate-scale rows, never document-scale.
    """
    from ocr_spark.functions.dedup import SHINGLE_W, lsh_verified_pairs
    from ocr_spark.functions.interleave import render_interleaved

    if w is None:
        w = SHINGLE_W
    rendered = render_interleaved(docs).select(
        "doc_id", F.col("rendered_text").alias("text")
    )
    tp = lsh_verified_pairs(
        rendered, w=w, tau=tau_text, max_bucket=max_bucket
    ).select("doc_a", "doc_b", F.col("jaccard").alias("text_jaccard"))
    mp = media_jaccard_pairs(docs, tau_media, max_df, key_sql).select(
        "doc_a", "doc_b", F.col("jaccard").alias("media_jaccard")
    )
    return tp.join(mp, ["doc_a", "doc_b"])


def multimodal_near_dups_sql(
    spans_sql: str = "SELECT * FROM spans",
    tau_text: float = 0.2,
    tau_media: float = 0.5,
    w: int | None = None,
    max_bucket: int | None = None,
    max_df: int | None = MAX_MEDIA_DF,
    key_sql: str = "media_ref",
) -> str:
    """DuckDB twin: the rendered-text twin feeds the verified-LSH twin
    as a subquery table (string ids pass through, no BIGINT cast),
    joined with the media-pair twin on the pair key."""
    from ocr_spark.functions.dedup import SHINGLE_W, lsh_verified_pairs_sql
    from ocr_spark.functions.interleave import render_interleaved_sql

    if w is None:
        w = SHINGLE_W
    rendered = (
        f"(SELECT doc_id, rendered_text AS text FROM "
        f"({render_interleaved_sql(spans_sql)}))"
    )
    tp = lsh_verified_pairs_sql(
        rendered, w=w, tau=tau_text, max_bucket=max_bucket, id_sql="doc_id"
    )
    mp = media_jaccard_pairs_sql(spans_sql, tau_media, max_df, key_sql)
    return f"""
      WITH tp AS ({tp}), mp AS ({mp})
      SELECT tp.doc_a, tp.doc_b,
             tp.jaccard AS text_jaccard,
             mp.jaccard AS media_jaccard
      FROM tp JOIN mp USING (doc_a, doc_b)
    """
