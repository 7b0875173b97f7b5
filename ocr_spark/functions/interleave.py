"""Interleaved-corpus structure operators over the nested span table
(doc_id string, spans array<struct<kind,text,media_ref,offset>>) —
the BASELINE.json ``input_hint`` shape.

Two families:

1. ``interleave_stats`` / the ``keep`` gate — per-document structural
   metrics of the text<->media interleaving (media fraction, longest
   consecutive media run, text mass) and the OBELICS-style document
   filter built on them. A multimodal training corpus is curated on
   exactly these axes: image-farm pages (all media, no prose) and
   gallery runs (dozens of consecutive images) are dropped before any
   expensive stage. Reference analog: the webapp accepts/filters
   uploads per document before OCR (/root/reference/webapp/jobs.py);
   this is the interleaved-corpus generalization of that gate.

2. ``strip_frequent_spans`` — corpus-frequency boilerplate removal:
   a text span whose exact content recurs in >= min_docs distinct
   documents is navigation/footer/cookie boilerplate, not prose, and
   is dropped from every document. This is the data-driven complement
   to the kernel's *heuristic* strip (kind-based page_header/footer
   classification, ocr_spark/kernel/extract.py): the kernel catches
   what the layout labels, corpus statistics catch what it misses.

Scale shapes (the part that must survive 100 TB):

- ``interleave_stats`` is ZERO-shuffle: the spans already arrive
  nested one-row-per-document, so every metric — including the
  longest-media-run fold — is a scan-stage array expression
  (whole-stage codegen, no explode, no window, no Python).
- ``strip_frequent_spans`` shuffles 60-bit md5 hashes, never span
  text: distinct (doc_id, hash) BEFORE the document-frequency
  aggregation (a nav bar repeated inside one document counts once,
  even across multiple nested rows of one doc_id), two-phase partial
  count on uniform keys, and the frequent-key set (tiny by
  construction — only keys crossing the min_docs threshold) comes
  back as a left-anti equi-join that AQE broadcasts. No self-join,
  no text-carrying shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long_expr, md5_long_sql

# Gate defaults: drop image-farm docs (media fraction above half),
# gallery runs (>3 consecutive media spans), and docs with no real
# prose mass (<2 text spans).
MAX_MEDIA_FRAC = 0.5
MAX_MEDIA_RUN = 3
MIN_TEXT_SPANS = 2

# A span is "media" when it carries a media_ref; kind strings vary by
# upstream parser (picture/image/figure), the ref column does not.
_IS_MEDIA = "(s.media_ref IS NOT NULL AND s.media_ref <> '')"
_IS_TEXT = f"(NOT {_IS_MEDIA} AND s.text IS NOT NULL AND length(s.text) > 0)"


def _run_fold_sql() -> str:
    """Longest consecutive media run as one array fold, ordered by
    (offset, is_media) — the media tie-break makes the FLAG SEQUENCE
    deterministic under duplicate offsets (remaining ties are between
    same-flag spans, which cannot change any run length)."""
    media_a = "(a.media_ref IS NOT NULL AND a.media_ref <> '')"
    media_b = "(b.media_ref IS NOT NULL AND b.media_ref <> '')"
    sorted_spans = (
        "array_sort(spans, (a, b) -> CASE WHEN a.offset < b.offset THEN -1 "
        "WHEN a.offset > b.offset THEN 1 ELSE "
        f"(CASE WHEN {media_a} THEN 1 ELSE 0 END) - "
        f"(CASE WHEN {media_b} THEN 1 ELSE 0 END) END)"
    )
    return f"""
      aggregate(
        {sorted_spans},
        struct(CAST(0 AS INT) AS cur, CAST(0 AS INT) AS best),
        (acc, s) -> CASE WHEN {_IS_MEDIA}
            THEN struct(acc.cur + 1 AS cur,
                        greatest(acc.best, acc.cur + 1) AS best)
            ELSE struct(CAST(0 AS INT) AS cur, acc.best AS best) END,
        acc -> acc.best)
    """


def interleave_stats(
    docs: DataFrame,
    max_media_frac: float = MAX_MEDIA_FRAC,
    max_media_run: int = MAX_MEDIA_RUN,
    min_text_spans: int = MIN_TEXT_SPANS,
) -> DataFrame:
    """(doc_id, n_spans, n_media, n_text, n_text_chars, media_frac,
    max_media_run, keep) — one row per document, scan-stage only.

    ``media_frac`` = media spans / all spans (NULL for an empty span
    array); ``max_media_run`` = longest consecutive run of media spans
    in offset order; ``keep`` is the curation gate over the three
    thresholds. Span order inside the array is not trusted — the run
    fold sorts by (``offset``, is_media) first (resume/rewrite may
    reorder arrays; the media tie-break pins duplicate offsets).
    """
    run_fold = _run_fold_sql()
    out = docs.select(
        "doc_id",
        F.expr("size(spans)").cast("int").alias("n_spans"),
        F.expr(f"size(filter(spans, s -> {_IS_MEDIA}))")
        .cast("int")
        .alias("n_media"),
        F.expr(f"size(filter(spans, s -> {_IS_TEXT}))")
        .cast("int")
        .alias("n_text"),
        F.expr(
            "aggregate(spans, CAST(0 AS BIGINT), "
            f"(acc, s) -> acc + CASE WHEN {_IS_MEDIA} THEN 0 "
            "ELSE coalesce(length(s.text), 0) END)"
        ).alias("n_text_chars"),
        F.expr(run_fold).cast("int").alias("max_media_run"),
    ).withColumn(
        "media_frac",
        F.col("n_media").cast("double") / F.nullif(F.col("n_spans"), F.lit(0)),
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_media",
        "n_text",
        "n_text_chars",
        "media_frac",
        "max_media_run",
        (
            (F.col("n_text") >= min_text_spans)
            & (F.col("max_media_run") <= max_media_run)
            & ((F.col("n_media") == 0) | (F.col("media_frac") <= max_media_frac))
        ).alias("keep"),
    )


def interleave_stats_sql(
    spans_sql: str = "SELECT * FROM spans",
    max_media_frac: float = MAX_MEDIA_FRAC,
    max_media_run: int = MAX_MEDIA_RUN,
    min_text_spans: int = MIN_TEXT_SPANS,
) -> str:
    """DuckDB twin over a FLAT span source (doc_id, kind, text,
    media_ref, "offset"; ``spans_sql`` is any SELECT producing it) —
    the oracle unnests where Spark folds, so agreement checks the
    array fold against an independent gaps-and-islands window
    formulation, not a copy of it: the run fold is a single-BIGINT
    state encoding cur*1e9+best over the ordered flag list (vs Spark's
    struct fold over the sorted array). Ordering is (offset,
    is_media) on both sides — remaining ties are same-flag and cannot
    change a run length. Divergence note: a document whose span array
    is empty or NULL has no flat rows, so it is absent here but
    present (n_spans 0/NULL, keep false) on the Spark side; the
    contract corpus contains no such documents."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    is_text = f"(NOT {is_media} AND text IS NOT NULL AND length(text) > 0)"
    enc = 1_000_000_000
    return f"""
      WITH src AS ({spans_sql}),
      flagged AS (
        SELECT doc_id, {is_media} AS is_media, {is_text} AS is_text,
               CASE WHEN {is_media} THEN 0 ELSE coalesce(length(text), 0) END AS tchars,
               "offset"
        FROM src
      ),
      runs AS (
        SELECT doc_id,
               CAST(list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list(CAST(CASE WHEN is_media THEN 1 ELSE 0 END AS BIGINT)
                        ORDER BY "offset", is_media)),
                 (acc, f) -> CASE WHEN f = 1
                   THEN ((acc // {enc}) + 1) * {enc}
                        + greatest(acc % {enc}, (acc // {enc}) + 1)
                   ELSE acc % {enc} END
               ) % {enc} AS INT) AS max_run
        FROM flagged GROUP BY doc_id
      ),
      per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_spans,
               CAST(sum(CASE WHEN is_media THEN 1 ELSE 0 END) AS INT) AS n_media,
               CAST(sum(CASE WHEN is_text THEN 1 ELSE 0 END) AS INT) AS n_text,
               CAST(sum(tchars) AS BIGINT) AS n_text_chars
        FROM flagged GROUP BY doc_id
      )
      SELECT d.doc_id, d.n_spans, d.n_media, d.n_text, d.n_text_chars,
             CAST(d.n_media AS DOUBLE) / nullif(d.n_spans, 0) AS media_frac,
             coalesce(r.max_run, 0) AS max_media_run,
             (d.n_text >= {min_text_spans}
              AND coalesce(r.max_run, 0) <= {max_media_run}
              AND (d.n_media = 0
                   OR CAST(d.n_media AS DOUBLE) / nullif(d.n_spans, 0)
                      <= {max_media_frac})) AS keep
      FROM per_doc d
      LEFT JOIN runs r USING (doc_id)
    """


def interleave_gate(
    docs: DataFrame,
    max_media_frac: float = MAX_MEDIA_FRAC,
    max_media_run: int = MAX_MEDIA_RUN,
    min_text_spans: int = MIN_TEXT_SPANS,
) -> DataFrame:
    """Filter the nested table to documents passing the structural
    gate — same ``keep`` rule as :func:`interleave_stats`, expressed
    as one scan-stage predicate on ``spans`` so the curation job can
    drop image farms / galleries / prose-free docs BEFORE the kernel
    pass, with zero shuffle and no column added or removed. Parity
    with ``interleave_stats().keep`` is pinned by a test, not shared
    plumbing: the stats path derives keep from its already-computed
    metric columns, this path inlines the same arithmetic.
    """
    n_spans = "size(spans)"
    n_media = f"size(filter(spans, s -> {_IS_MEDIA}))"
    n_text = f"size(filter(spans, s -> {_IS_TEXT}))"
    keep = (
        f"({n_text} >= {min_text_spans}) "
        f"AND (({_run_fold_sql()}) <= {max_media_run}) "
        f"AND ({n_media} = 0 OR CAST({n_media} AS DOUBLE) / "
        f"nullif({n_spans}, 0) <= {max_media_frac})"
    )
    return docs.where(F.expr(keep))


# ---------------------------------------------------------------------------
# corpus-frequency boilerplate strip
# ---------------------------------------------------------------------------

MIN_DOCS = 3  # a text recurring in >= this many distinct docs is boilerplate
MIN_CHARS = 8  # shorter spans are too collision-prone to strip on


def strip_frequent_spans(
    docs: DataFrame,
    min_docs: int = MIN_DOCS,
    min_chars: int = MIN_CHARS,
) -> DataFrame:
    """Flat cleaned spans (doc_id, kind, text, media_ref, offset):
    text spans whose exact content appears in >= ``min_docs`` distinct
    documents are removed from every document; media spans and short
    texts (< ``min_chars`` chars, too collision-prone) are never
    candidates.

    Plan: explode -> distinct (doc_id, 60-bit hash) pairs -> one
    partial-aggregated count on the hash -> threshold filter ->
    left-anti equi-join back on the hash (NULL key for
    non-candidates, which an equi-join never matches, so they always
    survive). Only hashes shuffle; the frequent set is tiny and AQE
    broadcasts the anti-join. Document frequency is per DISTINCT
    doc_id, so a doc_id split across several nested rows still counts
    once.
    """
    # delegate to the flat variant so the two can never diverge: the
    # document-frequency rule is distinct-(doc_id, key) there, which —
    # unlike a per-ROW array_distinct — also counts correctly when the
    # same doc_id spans multiple nested rows (sharded unions, re-nested
    # tables). The nested output shape is flat anyway.
    flat = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    return strip_frequent_flat(flat, min_docs=min_docs, min_chars=min_chars)


def strip_frequent_flat(
    flat: DataFrame,
    min_docs: int = MIN_DOCS,
    min_chars: int = MIN_CHARS,
) -> DataFrame:
    """`strip_frequent_spans` over an ALREADY-FLAT span stream
    (doc_id, kind, text, media_ref, offset, *extra) — the shape
    `extract_main_content` emits — so the curation job can strip
    corpus-frequency boilerplate the kernel's kind-heuristics missed
    without re-nesting. Extra columns pass through untouched; the
    input must not carry a ``_tkey`` column.

    Same rule as the nested variant: document frequency counts each
    (doc, text) once (distinct on the hash pair, hashes only — no
    text-carrying shuffle), media spans and short texts never strip.
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would strip every span)")
    if "_tkey" in flat.columns:
        raise ValueError("input already has a _tkey column")
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    cand = (
        f"(NOT {is_media} AND text IS NOT NULL "
        f"AND length(text) >= {min_chars})"
    )
    keyed = flat.withColumn(
        "_tkey",
        F.expr(f"CASE WHEN {cand} THEN {md5_long_expr('text')} ELSE NULL END"),
    )
    frequent = (
        keyed.where(F.col("_tkey").isNotNull())
        .select("doc_id", "_tkey")
        .distinct()
        .groupBy("_tkey")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("_tkey")
    )
    return keyed.join(frequent, "_tkey", "left_anti").drop("_tkey")


def strip_frequent_spans_sql(
    spans_sql: str = "SELECT * FROM spans",
    min_docs: int = MIN_DOCS,
    min_chars: int = MIN_CHARS,
) -> str:
    """DuckDB twin over the same flat span source. Same hash, same
    per-doc-distinct df rule, same NULL-key-survives semantics."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    cand = f"(NOT {is_media} AND text IS NOT NULL AND length(text) >= {min_chars})"
    key = md5_long_sql("text")
    return f"""
      WITH src AS ({spans_sql}),
      keyed AS (
        SELECT doc_id, kind, text, media_ref, "offset",
               CASE WHEN {cand} THEN {key} ELSE NULL END AS tkey
        FROM src
      ),
      frequent AS (
        SELECT tkey FROM (
          SELECT tkey, count(*) AS df
          FROM (SELECT DISTINCT doc_id, tkey FROM keyed WHERE tkey IS NOT NULL)
          GROUP BY tkey
        ) WHERE df >= {min_docs}
      )
      SELECT doc_id, kind, text, media_ref, "offset"
      FROM keyed
      WHERE tkey IS NULL OR tkey NOT IN (SELECT tkey FROM frequent)
    """


# ---------------------------------------------------------------------------
# media-caption pairing
# ---------------------------------------------------------------------------


def caption_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref, media_offset, caption_offset, caption_text):
    each media span paired with its nearest ``caption`` span in the
    same document — the figure<->caption attachment a layout parser
    emits (the reference's DocTags stream interleaves picture and
    caption items the same way, kernel/doctags.py; this recovers the
    pairing from offsets alone).

    Rule: nearest caption by |offset distance|; a tie (or a caption at
    the media span's own offset) resolves to the FOLLOWING caption —
    figure captions conventionally trail the figure. Media spans in a
    caption-less document keep a row with NULL caption columns (the
    gap is data, not a dropped row).

    Scale shape: ZERO shuffle. The spans arrive nested one-row-per-
    document, so the caption list is LET-bound once per document and
    each media span scans it with two O(|captions|) folds — pure
    whole-stage-codegen array expressions, no explode-then-window, no
    self-join. Precondition (the span-table contract): offsets are
    distinct within a document; duplicate offsets would make the
    prev/next picks order-dependent.
    """
    cap_t = "STRUCT<offset: INT, text: STRING>"
    caps = (
        "array_sort(transform(filter(spans, s -> s.kind = 'caption'), "
        "s -> struct(CAST(s.offset AS INT) AS offset, "
        "coalesce(s.text, '') AS text)))"
    )
    prev = (
        f"aggregate(C, CAST(NULL AS {cap_t}), "
        "(acc, c) -> IF(c.offset < p.offset, c, acc))"
    )
    nxt = (
        f"aggregate(C, CAST(NULL AS {cap_t}), "
        "(acc, c) -> IF(c.offset >= p.offset AND acc IS NULL, c, acc))"
    )
    chosen = (
        f"element_at(transform(array(struct({prev} AS pv, {nxt} AS nx)), "
        "pn -> CASE WHEN pn.nx IS NULL THEN pn.pv "
        "WHEN pn.pv IS NULL THEN pn.nx "
        "WHEN (pn.nx.offset - p.offset) <= (p.offset - pn.pv.offset) "
        "THEN pn.nx ELSE pn.pv END), 1)"
    )
    expr = (
        f"flatten(transform(array({caps}), C -> "
        f"transform(filter(spans, s -> {_IS_MEDIA}), p -> "
        f"struct(p.media_ref AS media_ref, "
        f"CAST(p.offset AS INT) AS media_offset, {chosen} AS cap))))"
    )
    return (
        docs.selectExpr("doc_id", f"explode({expr}) AS r")
        .select(
            "doc_id",
            "r.media_ref",
            "r.media_offset",
            F.col("r.cap.offset").alias("caption_offset"),
            F.col("r.cap.text").alias("caption_text"),
        )
    )


def caption_pairs_sql(spans_sql: str = "SELECT * FROM spans") -> str:
    """DuckDB twin over a FLAT span source — independent formulation:
    prev/next captions via grouped min/max anti-ranges instead of the
    Spark side's array folds, so agreement cross-checks the fold
    logic. Same distinct-offset precondition; the twin additionally
    collapses exact-duplicate media rows (GROUP BY), which the
    contract corpus never contains."""
    return f"""
      WITH src AS ({spans_sql}),
      caps AS (
        SELECT doc_id, CAST("offset" AS INT) AS o, coalesce(text, '') AS t
        FROM src WHERE kind = 'caption'
      ),
      pics AS (
        SELECT doc_id, media_ref, CAST("offset" AS INT) AS o
        FROM src WHERE media_ref IS NOT NULL AND media_ref <> ''
      ),
      bounds AS (
        SELECT p.doc_id, p.media_ref, p.o,
               max(CASE WHEN c.o < p.o THEN c.o END) AS prev_o,
               min(CASE WHEN c.o >= p.o THEN c.o END) AS next_o
        FROM pics p LEFT JOIN caps c ON c.doc_id = p.doc_id
        GROUP BY p.doc_id, p.media_ref, p.o
      ),
      chosen AS (
        SELECT doc_id, media_ref, o,
               CASE WHEN next_o IS NULL THEN prev_o
                    WHEN prev_o IS NULL THEN next_o
                    WHEN (next_o - o) <= (o - prev_o) THEN next_o
                    ELSE prev_o END AS cap_o
        FROM bounds
      )
      SELECT ch.doc_id, ch.media_ref, ch.o AS media_offset,
             ch.cap_o AS caption_offset, c.t AS caption_text
      FROM chosen ch
      LEFT JOIN caps c ON c.doc_id = ch.doc_id AND c.o = ch.cap_o
    """


# ---------------------------------------------------------------------------
# heading-context assignment (section paths)
# ---------------------------------------------------------------------------

MAX_HEADING_LEVEL = 3
_HDR_RE = "^section_header_level_[0-9]+$"


def section_paths(
    docs: DataFrame, max_level: int = MAX_HEADING_LEVEL
) -> DataFrame:
    """(doc_id, offset, kind, section_path): every non-heading span
    labeled with the heading context it falls under — the breadcrumb
    a document outline gives each content block ('Intro > Setup').

    Heading kinds are ``section_header_level_<n>`` (the reference's
    DocTags level encoding, kernel/doctags.py). The context at a span
    is, per level 1..max_level, the LAST heading of that level at or
    before the span's offset — valid only if it is NEWER than every
    shallower heading in context (a level-1 heading clears stale
    level-2/3 context, a level-2 clears level-3, the standard outline
    rule). ``section_path`` joins the valid heading texts shallow->
    deep with ' > '; spans before any heading get ''.

    Scale shape: ZERO shuffle — the heading list (tiny per doc) is
    LET-bound once per document and each span scans it with one
    O(|headings|) fold per level; pure codegen array expressions.
    Same distinct-offset precondition as :func:`caption_pairs`.
    """
    if not (1 <= max_level <= 9):
        raise ValueError(f"max_level must be in [1, 9], got {max_level}")
    hdr_t = "STRUCT<offset: INT, lvl: INT, text: STRING>"
    hdrs = (
        f"array_sort(transform(filter(spans, s -> s.kind RLIKE '{_HDR_RE}'), "
        "s -> struct(CAST(s.offset AS INT) AS offset, "
        "CAST(substring(s.kind, 22) AS INT) AS lvl, "
        "coalesce(s.text, '') AS text)))"
    )

    def last_at(lvl: int) -> str:
        return (
            f"aggregate(H, CAST(NULL AS {hdr_t}), (acc, c) -> "
            f"IF(c.lvl = {lvl} AND c.offset <= CAST(p.offset AS INT), c, acc))"
        )

    ctx_fields = ", ".join(f"{last_at(l)} AS h{l}" for l in range(1, max_level + 1))
    valid_texts = []
    for l in range(1, max_level + 1):
        conds = [f"cx.h{l} IS NOT NULL"] + [
            f"(cx.h{k} IS NULL OR cx.h{l}.offset > cx.h{k}.offset)"
            for k in range(1, l)
        ]
        valid_texts.append(
            f"CASE WHEN {' AND '.join(conds)} THEN cx.h{l}.text END"
        )
    path = (
        f"element_at(transform(array(struct({ctx_fields})), cx -> "
        f"concat_ws(' > ', {', '.join(valid_texts)})), 1)"
    )
    expr = (
        f"flatten(transform(array({hdrs}), H -> "
        # coalesce the RLIKE: a NULL kind is a non-heading span and
        # must stay in the output (bare NOT NULL-RLIKE silently drops
        # it — three-valued-logic trap, caught by the fuzz net)
        f"transform(filter(spans, s -> NOT coalesce(s.kind RLIKE '{_HDR_RE}', "
        f"false)), p -> "
        f"struct(CAST(p.offset AS INT) AS offset, p.kind AS kind, "
        f"{path} AS section_path))))"
    )
    return docs.selectExpr("doc_id", f"explode({expr}) AS r").select(
        "doc_id", "r.offset", "r.kind", "r.section_path"
    )


def section_paths_sql(
    spans_sql: str = "SELECT * FROM spans", max_level: int = MAX_HEADING_LEVEL
) -> str:
    """DuckDB twin over a FLAT span source — independent formulation
    via IGNORE NULLS running windows instead of array folds."""
    lvls = range(1, max_level + 1)
    wins = ", ".join(
        f"last_value(CASE WHEN lvl = {l} THEN o END IGNORE NULLS) OVER w AS o{l}, "
        f"last_value(CASE WHEN lvl = {l} THEN t END IGNORE NULLS) OVER w AS t{l}"
        for l in lvls
    )
    valid_texts = []
    for l in lvls:
        conds = [f"o{l} IS NOT NULL"] + [
            f"(o{k} IS NULL OR o{l} > o{k})" for k in range(1, l)
        ]
        valid_texts.append(f"CASE WHEN {' AND '.join(conds)} THEN t{l} END")
    return f"""
      WITH src AS ({spans_sql}),
      typed AS (
        SELECT doc_id, kind, CAST("offset" AS INT) AS o,
               CASE WHEN regexp_matches(kind, '{_HDR_RE}')
                    THEN CAST(substr(kind, 22) AS INT) END AS lvl,
               coalesce(text, '') AS t
        FROM src
      ),
      ctx AS (
        SELECT doc_id, kind, o, lvl, {wins}
        FROM typed
        WINDOW w AS (PARTITION BY doc_id ORDER BY o
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      )
      SELECT doc_id, o AS "offset", kind,
             concat_ws(' > ', {', '.join(valid_texts)}) AS section_path
      FROM ctx WHERE lvl IS NULL
    """


# ---------------------------------------------------------------------------
# span-table ingest audit
# ---------------------------------------------------------------------------


def span_integrity(docs: DataFrame) -> DataFrame:
    """(doc_id, n_spans, n_null_offset, n_dup_offsets,
    n_media_with_text, n_blank_text, n_null_kind, ok): per-document
    audit of the span-table input contract — the checks every
    downstream operator in this repo silently assumes:

    - ``n_null_offset`` / ``n_dup_offsets``: the nearest-neighbor
      operators (caption_pairs, media_context) and the order-fold
      operators (interleave_stats, media_position_stats) require
      distinct non-NULL offsets per document; duplicates are counted
      over the NON-NULL offsets only so the two columns don't
      double-report one broken span.
    - ``n_media_with_text``: a media span carrying prose violates the
      reference's DocTags shape — picture items have empty bodies and
      a media reference (/root/reference/parsing_results.json picture
      entries; kernel/doctags.py renders them the same way).
    - ``n_blank_text``: a non-media span with NULL/empty text is a
      dead span the upstream parser should not have emitted.
    - ``n_null_kind``: every span carries its layout kind.

    ``ok`` = every violation count is zero. Zero shuffle — one row in,
    one row out, pure scan-stage array folds; run it at ingest and
    quarantine (or re-parse) the docs with ``ok = false`` before they
    poison nearest-neighbor picks downstream.

    A document with an EMPTY spans array audits as all-zero/ok here;
    the flat-source DuckDB twin cannot see such a document at all (it
    has no flat rows), so twin parity holds on corpora where every
    document has at least one span.
    """
    nn = "filter(spans, s -> s.offset IS NOT NULL)"
    return docs.select(
        "doc_id",
        F.expr("size(spans)").cast("int").alias("n_spans"),
        F.expr("size(filter(spans, s -> s.offset IS NULL))")
        .cast("int")
        .alias("n_null_offset"),
        (
            F.expr(f"size({nn})")
            - F.expr(f"size(array_distinct(transform({nn}, s -> s.offset)))")
        )
        .cast("int")
        .alias("n_dup_offsets"),
        F.expr(
            f"size(filter(spans, s -> {_IS_MEDIA} "
            "AND s.text IS NOT NULL AND length(s.text) > 0))"
        )
        .cast("int")
        .alias("n_media_with_text"),
        F.expr(
            f"size(filter(spans, s -> NOT {_IS_MEDIA} "
            "AND (s.text IS NULL OR length(s.text) = 0)))"
        )
        .cast("int")
        .alias("n_blank_text"),
        F.expr("size(filter(spans, s -> s.kind IS NULL))")
        .cast("int")
        .alias("n_null_kind"),
    ).withColumn(
        "ok",
        (F.col("n_null_offset") == 0)
        & (F.col("n_dup_offsets") == 0)
        & (F.col("n_media_with_text") == 0)
        & (F.col("n_blank_text") == 0)
        & (F.col("n_null_kind") == 0),
    )


def span_integrity_sql(spans_sql: str = "SELECT * FROM spans") -> str:
    """DuckDB twin over a FLAT span source — independent formulation:
    grouped FILTER counts and count-minus-count-DISTINCT (both
    NULL-excluding, matching the Spark side's non-NULL-only dup rule).
    Cannot represent empty-span-array documents (no flat rows)."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql}),
      g AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_spans,
               CAST(count(*) FILTER ("offset" IS NULL) AS INT)
                 AS n_null_offset,
               CAST(count("offset") - count(DISTINCT "offset") AS INT)
                 AS n_dup_offsets,
               CAST(count(*) FILTER ({is_media}
                 AND text IS NOT NULL AND length(text) > 0) AS INT)
                 AS n_media_with_text,
               CAST(count(*) FILTER (NOT {is_media}
                 AND (text IS NULL OR length(text) = 0)) AS INT)
                 AS n_blank_text,
               CAST(count(*) FILTER (kind IS NULL) AS INT) AS n_null_kind
        FROM src GROUP BY doc_id
      )
      SELECT *,
             (n_null_offset = 0 AND n_dup_offsets = 0
              AND n_media_with_text = 0 AND n_blank_text = 0
              AND n_null_kind = 0) AS ok
      FROM g
    """


# ---------------------------------------------------------------------------
# multimodal token budgeting + training-window chunking
# ---------------------------------------------------------------------------

# Fixed token cost of one media span in the training sequence: the
# public ViT-L/14-at-336px patch count most interleaved-model recipes
# charge per image. A knob, not a constant of nature.
MEDIA_TOKEN_COST = 576


def _ws_tok_expr(text_expr: str) -> str:
    """Spark SQL whitespace token count of a (possibly NULL) string —
    the repo's ONE token definition (schema.WS; the filter drops the
    '' artifact both engines produce on empty input)."""
    from ocr_spark.schema import WS

    return (
        f"size(filter(split(coalesce({text_expr}, ''), '{WS}+'), "
        "x -> x != ''))"
    )


def _ws_tok_sql(text_expr: str) -> str:
    from ocr_spark.schema import WS

    return (
        f"len(list_filter(regexp_split_to_array(coalesce({text_expr}, ''), "
        f"'{WS}+'), x -> x <> ''))"
    )


def _text_tok_fold():
    """Scan-stage fold: total whitespace-token cost of a doc's TEXT
    spans — the ONE text-cost definition ``interleaved_token_counts``
    and ``chunk_integrity`` must share (an audit comparing two copies
    of a cost formula audits nothing)."""
    return F.expr(
        "aggregate(coalesce(spans, array()), CAST(0 AS BIGINT), "
        f"(acc, s) -> acc + CASE WHEN {_IS_MEDIA} THEN 0 "
        f"ELSE {_ws_tok_expr('s.text')} END)"
    )


def _n_media_spans():
    return F.expr(
        f"size(filter(coalesce(spans, array()), s -> {_IS_MEDIA}))"
    ).cast("int")


def interleaved_token_counts(
    docs: DataFrame, media_token_cost: int = MEDIA_TOKEN_COST
) -> DataFrame:
    """(doc_id, n_text_tokens, n_media_spans, n_tokens): the
    multimodal sequence-token budget per document — text spans cost
    their whitespace token count, media spans a fixed
    ``media_token_cost``. This is the number packing/mixture planning
    must use for an interleaved corpus (``pack_index`` over a
    text-only token count silently under-budgets every image-bearing
    document by ~576 tokens per image).

    ZERO shuffle: the spans arrive nested one-row-per-document, so
    both sums are scan-stage array folds (scalar accumulator — never
    the O(n^2) array-append fold). A NULL/empty span array yields 0s,
    not NULL (the doc costs nothing; divergence note: the flat-span
    DuckDB twin has no rows for such a doc, like interleave_stats —
    the contract corpus contains none).
    """
    toks = _text_tok_fold()
    n_media = _n_media_spans()
    return docs.select(
        "doc_id",
        toks.alias("n_text_tokens"),
        n_media.alias("n_media_spans"),
        (toks + n_media.cast("bigint") * F.lit(media_token_cost)).alias(
            "n_tokens"
        ),
    )


def interleaved_token_counts_sql(
    spans_sql: str = "SELECT * FROM spans",
    media_token_cost: int = MEDIA_TOKEN_COST,
) -> str:
    """DuckDB twin over a FLAT span source (doc_id, kind, text,
    media_ref, "offset") — unnest-and-aggregate where Spark folds."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql})
      SELECT doc_id,
             CAST(sum(CASE WHEN {is_media} THEN 0
                      ELSE {_ws_tok_sql('text')} END) AS BIGINT)
               AS n_text_tokens,
             CAST(sum(CASE WHEN {is_media} THEN 1 ELSE 0 END) AS INT)
               AS n_media_spans,
             CAST(sum(CASE WHEN {is_media} THEN {media_token_cost}
                      ELSE {_ws_tok_sql('text')} END) AS BIGINT)
               AS n_tokens
      FROM src GROUP BY doc_id
    """


def _chunk_assigned(
    docs: DataFrame,
    max_tokens: int,
    media_token_cost: int,
    text_cost=None,
) -> DataFrame:
    """Per-span chunk assignment — the shared skeleton of
    :func:`chunk_interleaved` (stats) and :func:`render_chunks`
    (strings): explode -> one doc_id window cumsum -> ``chunk_id`` =
    budget-window index. Columns: (doc_id, text, media_ref, offset,
    is_media, cost, cum_before, chunk_id).

    ``text_cost`` (a callable mapping a column EXPRESSION string to a
    Spark SQL cost expression over it — column-parameterized so the
    audit's nested fold can apply the SAME definition to ``s.text``)
    overrides the whitespace token cost — e.g. the trained BPE
    tokenizer's count (``bpe.bpe_token_count_expr``), which is what a
    real training budget measures. It MUST yield a non-NULL number
    for NULL input (coalesce inside) or the cumsum goes NULL for the
    rest of the document."""
    from pyspark.sql import Window

    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    flat = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    is_media = F.expr("media_ref IS NOT NULL AND media_ref <> ''")
    text_cost_sql = (
        text_cost("text") if text_cost else _ws_tok_expr("text")
    )
    cost = (
        F.when(
            is_media, F.lit(media_token_cost)
        )
        .otherwise(F.expr(text_cost_sql))
        .cast("bigint")
    )
    # NULL offsets (span-table contract violations — span_integrity
    # quarantines them, but curate's --emit-chunks may run ungated) sort FIRST
    # explicitly: Spark's ASC default is NULLS FIRST, DuckDB's is
    # NULLS LAST, and the cumsum order decides chunk assignment.
    w = Window.partitionBy("doc_id").orderBy(
        F.col("offset").asc_nulls_first(),
        is_media.cast("int"),
        F.coalesce("text", F.lit("")),
        F.coalesce("media_ref", F.lit("")),
    )
    return (
        flat.withColumn("is_media", is_media.cast("int"))
        .withColumn("cost", cost)
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("cost").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "chunk_id", F.expr(f"cum_before div {max_tokens}").cast("int")
        )
    )


def chunk_interleaved(
    docs: DataFrame,
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    text_cost=None,
) -> DataFrame:
    """(doc_id, chunk_id, n_spans, n_text_spans, n_media_spans,
    n_tokens, overflow): cut each document's interleaved span SEQUENCE
    into training windows of ``max_tokens`` — the span-level
    concat-then-cut (the ``pack_index`` philosophy one level down):
    boundaries fall at cumulative-cost multiples of the budget and a
    span belongs to the window its first token lands in, so **spans
    are atomic** — an image is never split from itself, and a window
    may overrun by at most the straddling span (``overflow`` marks
    those; the overrun is absorbed by the global cumsum, later windows
    stay budget-aligned). Costs as in :func:`interleaved_token_counts`.

    Window order is (offset NULLS FIRST, is_media, text, media_ref) —
    array order is not trusted (the interleave_stats rule), the
    trailing keys pin a total order under duplicate offsets, and the
    NULL placement is explicit because the engines' ASC defaults
    disagree; the cumsum (hence the chunk assignment) is deterministic
    in both. ``chunk_id`` is the budget-WINDOW index, not a dense
    rank: a single span costing more than one budget makes the next
    span skip window ids (a 5000-token span at budget 2048 fills
    windows 0-2, so its successor starts chunk 2) — renumber
    downstream if a dense sequence is needed.

    ONE shuffle: explode -> doc_id window cumsum -> (doc_id, chunk_id)
    aggregate; the aggregate reuses the window's hash partitioning
    (subset rule), so no second exchange. Documents with NULL/empty
    span arrays produce no chunks (nothing to train on).

    Downstream composition: the output carries (doc_id, chunk_id,
    n_tokens), the exact input shape of the packing family. Use the
    ATOMIC packers (``sampling.pack_shards`` semantics — whole units,
    budget-aligned) on these chunks; ``packing.pack_index`` slices
    chunks at TOKEN granularity to fill sequences exactly, which would
    cut through a media span — right for text chunks, wrong here.
    """
    cum = _chunk_assigned(docs, max_tokens, media_token_cost, text_cost)
    return cum.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("int").alias("n_spans"),
        F.sum(1 - F.col("is_media")).cast("int").alias("n_text_spans"),
        F.sum("is_media").cast("int").alias("n_media_spans"),
        F.sum("cost").alias("n_tokens"),
        (
            F.max(F.col("cum_before") + F.col("cost"))
            > (F.col("chunk_id") + 1).cast("bigint") * F.lit(max_tokens)
        ).alias("overflow"),
    )


def chunk_interleaved_sql(
    spans_sql: str = "SELECT * FROM spans",
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    text_cost_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`chunk_interleaved` over a FLAT span
    source: identical ordering keys, identical non-negative integer
    division (// floors, Spark div truncates — equal on the
    non-negative cumsum). ``text_cost_sql`` mirrors the Spark side's
    ``text_cost_expr`` (DuckDB dialect, over the flat ``text``
    column, NULL-safe)."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql}),
      costed AS (
        SELECT doc_id,
               CASE WHEN {is_media} THEN 1 ELSE 0 END AS is_media,
               CAST(CASE WHEN {is_media} THEN {media_token_cost}
                    ELSE {text_cost_sql or _ws_tok_sql('text')} END
                 AS BIGINT) AS cost,
               "offset", coalesce(text, '') AS otext,
               coalesce(media_ref, '') AS oref
        FROM src
      ),
      cum AS (
        SELECT doc_id, is_media, cost,
               coalesce(sum(cost) OVER (
                 PARTITION BY doc_id
                 ORDER BY "offset" ASC NULLS FIRST, is_media, otext, oref
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM costed
      ),
      assigned AS (
        SELECT *, CAST(cum_before // {max_tokens} AS INT) AS chunk_id
        FROM cum
      )
      SELECT doc_id, chunk_id,
             CAST(count(*) AS INT) AS n_spans,
             CAST(sum(1 - is_media) AS INT) AS n_text_spans,
             CAST(sum(is_media) AS INT) AS n_media_spans,
             CAST(sum(cost) AS BIGINT) AS n_tokens,
             max(cum_before + cost)
               > (chunk_id + 1) * CAST({max_tokens} AS BIGINT) AS overflow
      FROM assigned GROUP BY doc_id, chunk_id
    """


# ---------------------------------------------------------------------------
# rendering (span table -> tokenizer-ready text) and structural
# template fingerprints
# ---------------------------------------------------------------------------

# The placeholder a multimodal tokenizer substitutes with image
# embeddings — one flat token in the RENDERED string (the token
# BUDGET for a media span is MEDIA_TOKEN_COST; rendering and costing
# are different layers).
MEDIA_PLACEHOLDER = "<|image|>"


def _sql_str(s: str) -> str:
    """A Python string as a DuckDB SQL literal (DuckDB strings have no
    backslash escapes, so only the quote needs doubling). The Spark
    side never embeds user strings into SQL text — it passes them as
    ``F.lit`` columns — because Spark's literal parser additionally
    treats backslash as an escape and the two dialects would diverge
    on any token containing one."""
    return "'" + s.replace("'", "''") + "'"


# Trailing tie-break keys of the total span order, as a SQL ORDER BY
# fragment over a flat span row (prefix with the offset key): modality
# flag, text, media_ref, kind. kind is the LAST key: it never affects
# chunking or rendering (spans tied on text+media_ref have equal cost
# and equal rendered part), but structure fingerprints depend on it.
_ORDER_TAIL_SQL = (
    "CASE WHEN media_ref IS NOT NULL AND media_ref <> '' THEN 1 ELSE 0 END, "
    "coalesce(text, ''), coalesce(media_ref, ''), coalesce(kind, '')"
)


def _total_sort_sql(arr: str = "spans") -> str:
    """The span array under the repo's ONE total order:
    (offset NULLS FIRST, is_media, text, media_ref, kind) — the key
    chain ``chunk_interleaved`` shuffles on (refined by the trailing
    ``kind``, which cannot affect chunk assignment: spans tied on
    text and media_ref have equal cost), expressed as an in-array
    comparator so zero-shuffle operators agree with it byte-for-byte.
    NULL offsets order strictly FIRST (an explicit NULL branch, not a
    sentinel value — a genuine int32-min offset must not tie with
    NULL; the span contract forbids NULLs and ``span_integrity``
    quarantines them, but ungated inputs must still order
    deterministically)."""
    media_a = "(a.media_ref IS NOT NULL AND a.media_ref <> '')"
    media_b = "(b.media_ref IS NOT NULL AND b.media_ref <> '')"
    return f"""
      array_sort({arr}, (a, b) -> CASE
        WHEN a.offset IS NULL AND b.offset IS NOT NULL THEN -1
        WHEN a.offset IS NOT NULL AND b.offset IS NULL THEN 1
        WHEN a.offset < b.offset THEN -1
        WHEN a.offset > b.offset THEN 1
        WHEN (CASE WHEN {media_a} THEN 1 ELSE 0 END)
          <> (CASE WHEN {media_b} THEN 1 ELSE 0 END)
          THEN (CASE WHEN {media_a} THEN 1 ELSE 0 END)
             - (CASE WHEN {media_b} THEN 1 ELSE 0 END)
        WHEN coalesce(a.text, '') < coalesce(b.text, '') THEN -1
        WHEN coalesce(a.text, '') > coalesce(b.text, '') THEN 1
        WHEN coalesce(a.media_ref, '') < coalesce(b.media_ref, '') THEN -1
        WHEN coalesce(a.media_ref, '') > coalesce(b.media_ref, '') THEN 1
        WHEN coalesce(a.kind, '') < coalesce(b.kind, '') THEN -1
        WHEN coalesce(a.kind, '') > coalesce(b.kind, '') THEN 1
        ELSE 0 END)
    """


def render_interleaved(
    docs: DataFrame,
    media_token: str = MEDIA_PLACEHOLDER,
    sep: str = "\n",
) -> DataFrame:
    """(doc_id, rendered_text, n_rendered, n_media): the ordered span
    sequence materialized into the single string a multimodal
    tokenizer consumes — media spans become ``media_token``, text
    spans their text, joined by ``sep``. This is the step between
    extraction and tokenization: the reference renders its extracted
    DocTags stream to markdown one document at a time
    (/root/reference/webapp/results.py export path); this is the
    corpus-scale equivalent over the span table.

    Order is the repo's total span order (:func:`_total_sort_sql`),
    so a rendered document equals its chunks rendered in chunk order.
    Non-media spans with NULL/empty text are dropped before joining
    (they would only inject bare separators); ``n_rendered`` counts
    the spans that made it into the string. A NULL spans array
    renders NULL with counts 0 (the row is data, never dropped); an
    empty array renders ''.

    Scale shape: ZERO shuffle — sort/filter/transform/array_join are
    scan-stage array expressions, one row in one row out, no explode.
    The output string is bounded by the document's own text mass.
    ``media_token``/``sep`` are injected as ``F.lit`` columns, never
    spliced into SQL text (Spark literals backslash-escape; see
    :func:`_sql_str`); the counts run on the UNSORTED array (order
    contributes nothing to a count — no second comparator sort).
    """
    kept = F.expr(
        f"filter({_total_sort_sql()}, s -> {_IS_MEDIA} OR {_IS_TEXT})"
    )

    def _is_media_col(s):
        return s.getField("media_ref").isNotNull() & (
            s.getField("media_ref") != F.lit("")
        )

    parts = F.transform(
        kept,
        lambda s: F.when(_is_media_col(s), F.lit(media_token)).otherwise(
            s.getField("text")
        ),
    )
    spans_null = F.col("spans").isNull()
    return docs.select(
        "doc_id",
        F.array_join(parts, sep).alias("rendered_text"),
        F.when(spans_null, F.lit(0))
        .otherwise(
            F.expr(f"size(filter(spans, s -> {_IS_MEDIA} OR {_IS_TEXT}))")
        )
        .cast("int")
        .alias("n_rendered"),
        F.when(spans_null, F.lit(0))
        .otherwise(F.expr(f"size(filter(spans, s -> {_IS_MEDIA}))"))
        .cast("int")
        .alias("n_media"),
    )


def render_interleaved_sql(
    spans_sql: str = "SELECT * FROM spans",
    media_token: str = MEDIA_PLACEHOLDER,
    sep: str = "\n",
) -> str:
    """DuckDB twin over a FLAT span source — independent formulation:
    ordered ``string_agg`` per document instead of the Spark side's
    in-array sort+join, so agreement cross-checks the comparator. A
    flat source cannot represent a NULL spans ARRAY (that case is
    Spark-side only); documents whose every span is filtered render
    '' on both sides (the LEFT JOIN backstop)."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql}),
      kept AS (
        SELECT doc_id,
               CASE WHEN {is_media} THEN {_sql_str(media_token)}
                    ELSE text END AS part,
               "offset",
               CASE WHEN {is_media} THEN 1 ELSE 0 END AS im,
               coalesce(text, '') AS ot, coalesce(media_ref, '') AS orf,
               coalesce(kind, '') AS ok
        FROM src
        WHERE {is_media} OR (text IS NOT NULL AND length(text) > 0)
      ),
      agg AS (
        SELECT doc_id,
               string_agg(part, {_sql_str(sep)}
                 ORDER BY "offset" ASC NULLS FIRST, im, ot, orf, ok)
                 AS rendered_text,
               CAST(count(*) AS INT) AS n_rendered
        FROM kept GROUP BY doc_id
      ),
      media AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_media
        FROM src WHERE {is_media} GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(a.rendered_text, '') AS rendered_text,
             coalesce(a.n_rendered, 0) AS n_rendered,
             coalesce(m.n_media, 0) AS n_media
      FROM (SELECT DISTINCT doc_id FROM src) d
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN media m USING (doc_id)
    """


def structure_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, n_spans, n_media, fingerprint): md5 of the document's
    ordered STRUCTURE string — ``M:``/``T:`` modality flag + span kind
    per span, offset order, content-blind. Two documents share a
    fingerprint iff they have the identical span-kind skeleton:
    the signature of template-generated pages (listing pages, photo
    galleries, autogenerated stubs), which repeat structure across
    thousands of URLs while varying the text. NULL spans arrays
    fingerprint NULL (no structure to compare).

    Scale shape: ZERO shuffle — the signature is a scan-stage
    sort+transform+join+md5 over the nested array; the md5 bounds the
    shuffled width for any downstream grouping regardless of how many
    spans a giant document has.
    """
    sig_parts = (
        f"transform({_total_sort_sql()}, s -> concat("
        f"CASE WHEN {_IS_MEDIA} THEN 'M' ELSE 'T' END, ':', "
        "coalesce(s.kind, '')))"
    )
    return docs.selectExpr(
        "doc_id",
        "CAST(CASE WHEN spans IS NULL THEN 0 ELSE size(spans) END AS INT)"
        " AS n_spans",
        "CAST(CASE WHEN spans IS NULL THEN 0 ELSE "
        f"size(filter(spans, s -> {_IS_MEDIA})) END AS INT) AS n_media",
        f"md5(array_join({sig_parts}, '|')) AS fingerprint",
    )


def structure_fingerprint_sql(spans_sql: str = "SELECT * FROM spans") -> str:
    """DuckDB twin over a FLAT span source (ordered string_agg then
    md5 — independent of the Spark in-array fold)."""
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql})
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_spans,
             CAST(count(*) FILTER (WHERE {is_media}) AS INT) AS n_media,
             md5(string_agg(
               (CASE WHEN {is_media} THEN 'M' ELSE 'T' END)
                 || ':' || coalesce(kind, ''),
               '|' ORDER BY "offset" ASC NULLS FIRST, {_ORDER_TAIL_SQL}))
               AS fingerprint
      FROM src GROUP BY doc_id
    """


# Template thresholds: a structure repeated across >= MIN_TEMPLATE_DOCS
# documents is machine-generated; structures below MIN_TEMPLATE_SPANS
# spans are too generic to call templates (every two-paragraph note
# shares them).
MIN_TEMPLATE_DOCS = 5
MIN_TEMPLATE_SPANS = 4


def template_stats(
    docs: DataFrame,
    min_docs: int = MIN_TEMPLATE_DOCS,
    min_spans: int = MIN_TEMPLATE_SPANS,
) -> DataFrame:
    """(fingerprint, n_docs, n_spans, n_media, is_template): corpus
    census of structural fingerprints. ``is_template`` flags
    structures repeated across >= ``min_docs`` documents AND long
    enough (>= ``min_spans`` spans) to be meaningfully template-like —
    the curation signal for boilerplate-farm domains that exact and
    near-dup text dedup both miss (the text VARIES; the skeleton does
    not). ``n_spans``/``n_media`` are properties of the structure
    (identical for every doc sharing the fingerprint).

    Scale shape: one groupBy on uniform md5 keys (partial aggregation;
    32-char keys, never structure strings), after the zero-shuffle
    :func:`structure_fingerprint` scan.
    """
    fp = structure_fingerprint(docs).where(F.col("fingerprint").isNotNull())
    agg = fp.groupBy("fingerprint").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_spans").alias("n_spans"),
        F.min("n_media").alias("n_media"),
    )
    return agg.select(
        "fingerprint",
        "n_docs",
        "n_spans",
        "n_media",
        (
            (F.col("n_docs") >= min_docs) & (F.col("n_spans") >= min_spans)
        ).alias("is_template"),
    )


def template_stats_sql(
    spans_sql: str = "SELECT * FROM spans",
    min_docs: int = MIN_TEMPLATE_DOCS,
    min_spans: int = MIN_TEMPLATE_SPANS,
) -> str:
    """DuckDB twin of :func:`template_stats` over a FLAT span source."""
    return f"""
      WITH fp AS ({structure_fingerprint_sql(spans_sql)})
      SELECT fingerprint,
             count(*) AS n_docs,
             min(n_spans) AS n_spans,
             min(n_media) AS n_media,
             count(*) >= {int(min_docs)}
               AND min(n_spans) >= {int(min_spans)} AS is_template
      FROM fp WHERE fingerprint IS NOT NULL
      GROUP BY fingerprint
    """


# Deterministic per-template sampling salt — rotate to draw a
# different sample (the curriculum_order convention).
_TSAMPLE_SALT = "tsample:v1|"

MAX_PER_TEMPLATE = 100


def template_sample(
    docs: DataFrame,
    max_per_template: int = MAX_PER_TEMPLATE,
    min_docs: int = MIN_TEMPLATE_DOCS,
    min_spans: int = MIN_TEMPLATE_SPANS,
) -> DataFrame:
    """Cap each structural template's mass: documents whose
    fingerprint is a template (>= ``min_docs`` docs, >= ``min_spans``
    spans) keep at most ``max_per_template`` members; everything else
    passes untouched. The actionable counterpart of
    :func:`template_stats` — a template farm's million near-identical
    listing pages collapse to a bounded sample instead of dominating
    the corpus, WITHOUT deleting the template outright (its content
    varies; some of it is signal). Schema-preserving, so it composes
    with ``interleave_gate`` / ``span_integrity`` in a curation
    funnel.

    Which members survive is deterministic and unbiased: rank by the
    salted 60-bit md5 of doc_id (rotate ``_TSAMPLE_SALT`` for a fresh
    draw), doc_id as tie-break. NULL-fingerprint docs (NULL spans
    array) pass untouched — no structure, nothing to cap.

    Scale shape — built for the input this operator exists for, a
    corpus where ONE fingerprint holds millions of members (the
    hottest grouping key imaginable; ``skew.key_skew_stats`` would
    scream at it). No stage concentrates that family on one reducer:
    family sizes come from a partial-agg groupBy (map-side combined,
    skew-immune) joined back under AQE skew-split; the top-K rank is
    the SALTED two-stage shape — row_number within (fingerprint,
    salt) keeps at most ``max_per_template`` candidates per salt
    (the global K smallest are always among the per-salt K smallest),
    then the final rank runs over <= n_salts*K rows per family. The
    DROPPED set (rank > K in oversized families) is anti-joined
    against the payload — broadcast-sized whenever the cap bites few
    docs; a farm-dominated corpus degrades to one doc_id equi-join of
    the payload, which is the honest floor for any row-selective
    operator.
    """
    if max_per_template < 1:
        raise ValueError("max_per_template must be >= 1")
    from pyspark.sql import Window

    from ocr_spark.functions.hashing import md5_long

    n_salts = 64
    fp = structure_fingerprint(docs).where(F.col("fingerprint").isNotNull())
    rk = md5_long(
        F.concat(F.lit(_TSAMPLE_SALT), F.col("doc_id").cast("string"))
    )
    proj = fp.select("doc_id", "n_spans", "fingerprint", rk.alias("_rk"))
    fam = proj.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("_n"))
    big = (
        proj.join(fam, "fingerprint")
        .where(
            (F.col("_n") >= min_docs) & (F.col("n_spans") >= min_spans)
        )
        .withColumn("_salt", F.pmod(F.col("_rk"), F.lit(n_salts)))
    )
    w1 = Window.partitionBy("fingerprint", "_salt").orderBy("_rk", "doc_id")
    w2 = Window.partitionBy("fingerprint").orderBy("_rk", "doc_id")
    ranked = big.withColumn("_r1", F.row_number().over(w1))
    # per-salt prefilter: a row past K within its salt cannot be in
    # the family's global top K (both orders are the same total
    # order), so it is dropped outright; the survivors (<= n_salts*K
    # per family) are few enough for the exact family rank. The two
    # branches re-execute the id projection — two passes over ~50-B
    # rows, orders of magnitude below one payload shuffle.
    dropped = (
        ranked.where(F.col("_r1") <= max_per_template)
        .withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") > max_per_template)
        .select("doc_id")
        .unionByName(
            ranked.where(F.col("_r1") > max_per_template).select("doc_id")
        )
    )
    return docs.join(dropped, "doc_id", "left_anti")


def template_sample_sql(
    spans_sql: str = "SELECT * FROM spans",
    max_per_template: int = MAX_PER_TEMPLATE,
    min_docs: int = MIN_TEMPLATE_DOCS,
    min_spans: int = MIN_TEMPLATE_SPANS,
) -> str:
    """DuckDB twin emitting the SURVIVING doc_id set (the flat model
    cannot carry the nested rows; compare id sets — project the Spark
    side to doc_id). Same salted-md5 rank, same thresholds."""
    if max_per_template < 1:
        raise ValueError("max_per_template must be >= 1")
    from ocr_spark.functions.hashing import md5_long_sql

    rank_key = md5_long_sql(f"'{_TSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")
    return f"""
      WITH fp AS ({structure_fingerprint_sql(spans_sql)})
      SELECT doc_id FROM (
        SELECT doc_id, n_spans,
               row_number() OVER (
                 PARTITION BY fingerprint ORDER BY {rank_key}, doc_id
               ) AS r,
               count(*) OVER (PARTITION BY fingerprint) AS n
        FROM fp
      )
      WHERE n < {int(min_docs)} OR n_spans < {int(min_spans)}
         OR r <= {int(max_per_template)}
    """


def chunk_integrity(
    docs: DataFrame,
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    chunks: DataFrame | None = None,
    text_cost=None,
) -> DataFrame:
    """(doc_id, n_spans_in, n_spans_chunked, n_media_in,
    n_media_chunked, n_tokens_in, n_tokens_chunked, n_chunks,
    n_overflow, n_over_budget, ok): the span-CONSERVATION audit of the
    chunking stage — per document, does :func:`chunk_interleaved`
    account for every span and every token exactly once? The chunk
    analog of :func:`span_integrity` (ingest) and
    ``audit.corpus_checksum`` (commit): run it before a chunk sidecar
    becomes training input, because a chunker that drops or
    double-counts spans corrupts silently and at 10^12 documents
    nobody eyeballs the windows.

    Checks, all per doc_id:
    - span conservation: sum of chunk ``n_spans`` == size of the input
      span array (NULL array counts 0; a chunkless doc is OK iff it
      had nothing to chunk);
    - media conservation: sum of chunk ``n_media_spans`` == the input
      media-span count (an image lost at a window boundary is the
      worst silent failure — text loss shows up in loss curves, a
      dropped image desyncs every later placeholder);
    - token conservation: sum of chunk ``n_tokens`` == the doc's
      :func:`interleaved_token_counts` budget (costs shared via ONE
      fold definition, so this pins the chunker's cumsum, not a
      formula copy);
    - budget discipline: ``n_over_budget`` counts chunks exceeding
      ``max_tokens`` WITHOUT the overflow flag — must be 0 (only a
      straddling giant span may overrun, and it must be flagged);
    - no phantoms: chunks whose doc_id has no source document (stale
      files in the sidecar dir, wrong source audited) surface as
      not-ok rows with zeroed input counts — the join is FULL outer,
      so corruption in either direction fails the audit.

    ``ok`` is the conjunction. Pass ``chunks`` to audit a
    MATERIALIZED chunk sidecar (the real deployment shape: the curate
    job writes chunks with ``--emit-chunks``, the audit re-reads the
    written files against the source table — the
    ``RunConfig.verify_output`` discipline, which is the only way to
    catch corruption introduced BETWEEN chunking and commit); omit it
    and the chunker runs fresh at the given knobs, auditing the
    operator itself.

    Auditing a sidecar cut under a custom cost (e.g. the BPE budget)
    requires the SAME ``text_cost`` callable here — a cost mismatch
    reads as token loss on every text-bearing doc, which is exactly
    right: the sidecar was not built under the budget being audited.
    The callable is column-parameterized (it receives ``s.text``
    inside the fold, ``text`` inside the chunker), so both sides run
    ONE cost definition and the input side stays the same per-row
    zero-shuffle scan fold as the default — duplicate doc_id input
    rows keep their per-row verdicts (the re-crawl alarm) under any
    cost model.

    Scale shape: the input side is the zero-shuffle scan fold; the
    in-memory chunk side reuses the chunker's single doc_id Exchange
    for BOTH aggregations (subset rule); the final equi-join moves
    one ~60-byte row per document.
    """
    if text_cost is None:
        toks = _text_tok_fold()
    else:
        toks = F.expr(
            "aggregate(coalesce(spans, array()), CAST(0 AS BIGINT), "
            f"(acc, s) -> acc + CASE WHEN {_IS_MEDIA} THEN 0 "
            f"ELSE CAST({text_cost('s.text')} AS BIGINT) END)"
        )
    n_media = _n_media_spans()
    inp = docs.select(
        "doc_id",
        F.expr("size(coalesce(spans, array()))").cast("int").alias(
            "n_spans_in"
        ),
        n_media.alias("n_media_in"),
        (toks + n_media.cast("bigint") * F.lit(media_token_cost)).alias(
            "n_tokens_in"
        ),
    )
    over_budget = (
        (F.col("n_tokens") > F.lit(max_tokens)) & ~F.col("overflow")
    ).cast("int")
    if chunks is None:
        chunks = chunk_interleaved(
            docs, max_tokens, media_token_cost, text_cost
        )
    ch = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum("n_spans").cast("int").alias("n_spans_chunked"),
            F.sum("n_media_spans").cast("int").alias("n_media_chunked"),
            F.sum("n_tokens").cast("long").alias("n_tokens_chunked"),
            F.sum(F.col("overflow").cast("int")).cast("int").alias(
                "n_overflow"
            ),
            F.sum(over_budget).cast("int").alias("n_over_budget"),
        )
    )
    # FULL outer: a chunk row whose doc_id has no source document
    # (phantom chunks — stale files mixed into a sidecar dir, or the
    # wrong source table audited) must surface as a not-ok row with
    # zeroed input-side counts, not vanish before the check
    j = inp.join(ch, "doc_id", "full")
    z = lambda c, t="int": F.coalesce(F.col(c), F.lit(0).cast(t)).alias(c)  # noqa: E731
    ok = (
        (F.col("n_spans_in") == F.col("n_spans_chunked"))
        & (F.col("n_media_in") == F.col("n_media_chunked"))
        & (F.col("n_tokens_in") == F.col("n_tokens_chunked"))
        & (F.col("n_over_budget") == 0)
    )
    return (
        j.select(
            "doc_id",
            z("n_spans_in"),
            z("n_spans_chunked"),
            z("n_media_in"),
            z("n_media_chunked"),
            z("n_tokens_in", "bigint"),
            z("n_tokens_chunked", "bigint"),
            z("n_chunks"),
            z("n_overflow"),
            z("n_over_budget"),
        )
        .withColumn("ok", ok)
    )


def chunk_integrity_sql(
    spans_sql: str = "SELECT * FROM spans",
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    text_cost_sql: str | None = None,
) -> str:
    """DuckDB twin composed from the token-count and chunker twins —
    the same two stages the Spark side compares, so a cross-engine
    match pins both the conservation ARITHMETIC and the coalesce
    semantics. A flat source cannot carry a chunkless (empty-array)
    document; that branch is Spark-side-only (unit-tested).
    ``text_cost_sql`` mirrors the Spark side's custom cost."""
    if text_cost_sql is None:
        tok = interleaved_token_counts_sql(spans_sql, media_token_cost)
    else:
        im = "(media_ref IS NOT NULL AND media_ref <> '')"
        tok = f"""
          SELECT doc_id,
                 CAST(sum(CASE WHEN {im} THEN 1 ELSE 0 END) AS INT)
                   AS n_media_spans,
                 CAST(sum(CASE WHEN {im} THEN {media_token_cost}
                          ELSE {text_cost_sql} END) AS BIGINT) AS n_tokens
          FROM ({spans_sql}) GROUP BY doc_id
        """
    ch = chunk_interleaved_sql(
        spans_sql, max_tokens, media_token_cost, text_cost_sql
    )
    return f"""
      WITH tok AS ({tok}),
      cnt AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_spans_in
        FROM ({spans_sql}) GROUP BY doc_id
      ),
      ch AS ({ch}),
      chd AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_chunks,
               CAST(sum(n_spans) AS INT) AS n_spans_chunked,
               CAST(sum(n_media_spans) AS INT) AS n_media_chunked,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_chunked,
               CAST(sum(CASE WHEN overflow THEN 1 ELSE 0 END) AS INT)
                 AS n_overflow,
               CAST(sum(CASE WHEN n_tokens > {int(max_tokens)}
                             AND NOT overflow THEN 1 ELSE 0 END) AS INT)
                 AS n_over_budget
        FROM ch GROUP BY doc_id
      )
      SELECT coalesce(cnt.doc_id, chd.doc_id) AS doc_id,
             coalesce(cnt.n_spans_in, 0) AS n_spans_in,
             coalesce(chd.n_spans_chunked, 0) AS n_spans_chunked,
             coalesce(tok.n_media_spans, 0) AS n_media_in,
             coalesce(chd.n_media_chunked, 0) AS n_media_chunked,
             coalesce(tok.n_tokens, 0) AS n_tokens_in,
             coalesce(chd.n_tokens_chunked, 0) AS n_tokens_chunked,
             coalesce(chd.n_chunks, 0) AS n_chunks,
             coalesce(chd.n_overflow, 0) AS n_overflow,
             coalesce(chd.n_over_budget, 0) AS n_over_budget,
             coalesce(cnt.n_spans_in, 0) = coalesce(chd.n_spans_chunked, 0)
               AND coalesce(tok.n_media_spans, 0)
                   = coalesce(chd.n_media_chunked, 0)
               AND coalesce(tok.n_tokens, 0)
                   = coalesce(chd.n_tokens_chunked, 0)
               AND coalesce(chd.n_over_budget, 0) = 0 AS ok
      FROM cnt
      JOIN tok USING (doc_id)
      FULL JOIN chd ON cnt.doc_id = chd.doc_id
    """


def render_chunks(
    docs: DataFrame,
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    media_token: str = MEDIA_PLACEHOLDER,
    sep: str = "\n",
    text_cost=None,
) -> DataFrame:
    """(doc_id, chunk_id, rendered_text, n_spans, n_tokens): each
    training WINDOW materialized as its tokenizer-ready string —
    :func:`chunk_interleaved`'s cut applied to :func:`render_interleaved`'s
    rendering. This is the unit that actually enters a training batch,
    and therefore the right granularity for window-level dedup: a
    navigation block or footer repeated across thousands of documents
    produces byte-identical CHUNKS even when every document is unique
    at doc level — hash these strings (``dedup.exact_dedup`` with
    ``doc_id#chunk_id`` ids) and the repeated windows fall out.

    Shares :func:`_chunk_assigned` with the chunker, so chunk
    membership here and chunk stats there can never drift — PROVIDED
    the same ``text_cost`` is passed: rendering the windows of a
    sidecar cut under the BPE budget requires the same callable here,
    or chunk_ids diverge. Within a
    chunk, parts order by the SAME keys as the cumsum (offset NULLS
    FIRST via a below-int32 sentinel, is_media, text, media_ref);
    media spans render as ``media_token``, empty/NULL text spans are
    dropped from the string (they'd inject bare separators) but still
    count in ``n_spans``/``n_tokens``. Rendering a doc's chunks in
    chunk_id order joined by ``sep`` reproduces the whole-doc
    rendering (property-tested).

    Scale shape: ONE shuffle — the chunker's doc_id window; the
    (doc_id, chunk_id) aggregate reuses its partitioning. The in-group
    sort is a scan-stage ``array_sort`` over one chunk's spans, never
    a second Exchange.
    """
    cum = _chunk_assigned(docs, max_tokens, media_token_cost, text_cost)
    keep = (F.col("is_media") == 1) | (
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    # sortable struct: field order IS the comparator; the -2^34
    # sentinel puts NULL offsets first (below any int32). The
    # rendered part is DERIVED after the sort (media -> media_token,
    # else ot — identical for every kept span, since kept text spans
    # have non-empty text == ot), not carried as a second copy of the
    # span text: the struct is the collect_list aggregation buffer,
    # and duplicating the payload there doubles reduce-side memory.
    key = F.struct(
        F.coalesce(F.col("offset").cast("long"), F.lit(-(1 << 34))).alias(
            "o"
        ),
        F.col("is_media").alias("im"),
        F.coalesce("text", F.lit("")).alias("ot"),
        F.coalesce("media_ref", F.lit("")).alias("orf"),
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.when(keep, key))),
            lambda x: F.when(
                x.getField("im") == 1, F.lit(media_token)
            ).otherwise(x.getField("ot")),
        ),
        sep,
    )
    return cum.groupBy("doc_id", "chunk_id").agg(
        rendered.alias("rendered_text"),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum("cost").alias("n_tokens"),
    )


def render_chunks_sql(
    spans_sql: str = "SELECT * FROM spans",
    max_tokens: int = 2048,
    media_token_cost: int = MEDIA_TOKEN_COST,
    media_token: str = MEDIA_PLACEHOLDER,
    sep: str = "\n",
) -> str:
    """DuckDB twin — independent formulation: ordered ``string_agg``
    per (doc_id, chunk_id) where Spark sorts in-array, so agreement
    cross-checks the struct comparator against ORDER BY."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    is_media = "(media_ref IS NOT NULL AND media_ref <> '')"
    return f"""
      WITH src AS ({spans_sql}),
      costed AS (
        SELECT doc_id,
               CASE WHEN {is_media} THEN 1 ELSE 0 END AS is_media,
               CAST(CASE WHEN {is_media} THEN {media_token_cost}
                    ELSE {_ws_tok_sql('text')} END AS BIGINT) AS cost,
               "offset",
               CASE WHEN {is_media} THEN {_sql_str(media_token)}
                    ELSE text END AS part,
               {is_media} OR (text IS NOT NULL AND length(text) > 0)
                 AS keep,
               coalesce(text, '') AS otext,
               coalesce(media_ref, '') AS oref
        FROM src
      ),
      cum AS (
        SELECT *, coalesce(sum(cost) OVER (
                 PARTITION BY doc_id
                 ORDER BY "offset" ASC NULLS FIRST, is_media, otext, oref
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM costed
      ),
      assigned AS (
        SELECT *, CAST(cum_before // {max_tokens} AS INT) AS chunk_id
        FROM cum
      )
      SELECT doc_id, chunk_id,
             coalesce(string_agg(CASE WHEN keep THEN part END,
               {_sql_str(sep)}
               ORDER BY "offset" ASC NULLS FIRST, is_media, otext, oref),
               '') AS rendered_text,
             CAST(count(*) AS INT) AS n_spans,
             CAST(sum(cost) AS BIGINT) AS n_tokens
      FROM assigned GROUP BY doc_id, chunk_id
    """
