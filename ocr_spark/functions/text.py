"""Text analysis for training-data pipelines: token counting,
language-ID, quality scoring, document fingerprinting.

All operators are narrow per-row column expressions (no shuffle, no
UDF): at 100 TB they run inside the parquet scan stage with full
whole-stage codegen, and the scan only reads (doc_id, text) thanks to
column pruning. Each has a DuckDB SQL twin for the correctness gate.

``doc_id`` is ID-TYPE-AGNOSTIC: it passes through unchanged whatever
its type (int, string 'sha1:...'); no operator casts it. Real corpora
key on string file paths/tokens — a long-cast would silently NULL
those ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long_expr, md5_long_sql
from ocr_spark.schema import ASCII_LOWER, ASCII_UPPER, NON_ALNUM_WS, WS

# BPE-ish word/symbol tokenizer: alnum runs or single non-space symbols.
TOKEN_RE = "[a-zA-Z0-9]+|" + NON_ALNUM_WS
PUNCT_RE = NON_ALNUM_WS

# Small per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "was", "for",
           "on", "with", "as", "at", "by", "it", "that", "this"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein",
           "eine", "zu", "den", "von", "auf", "im", "sich"],
    "fr": ["le", "les", "et", "est", "une", "des", "du", "dans", "pour",
           "que", "qui", "au", "sur", "pas", "plus"],
    "es": ["el", "los", "las", "y", "es", "una", "del", "en", "para",
           "por", "con", "se", "su", "lo", "como"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他",
           "们", "个", "上", "来", "就"],
}
LANGS = list(STOPWORDS)

FP_MOD40 = 1 << 40  # token-hash range
FP_MOD56 = 1 << 56  # rolling-hash modulus (31x fold stays in int64)


def _lit_list_sql(items: list[str]) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in items) + "]"


def _lit_array_expr(items: list[str]) -> str:
    return "array(" + ", ".join("'" + w.replace("'", "''") + "'" for w in items) + ")"


def words_col(text: str = "text") -> Column:
    return F.split(F.col(text), WS + "+")


def floor6(c: Column) -> Column:
    """Truncate to 6 decimals — identical in both engines (floor has no
    rounding-mode ambiguity; inputs are already IEEE-identical)."""
    return F.floor(c * 1000000.0) / 1000000.0


def floor6_sql(expr: str) -> str:
    return f"floor(({expr}) * 1000000.0) / 1000000.0"


def preview(c: Column, n: int = 1000) -> Column:
    """P2: first-n-chars preview slice (the reference shows
    doctags[:1000], /root/reference/pipeline.py:408). A cut may land
    mid-tag — the DocTags parser tolerates the truncated tail."""
    return F.substring(c, 1, n)


def preview_sql(expr: str, n: int = 1000) -> str:
    return f"substr({expr}, 1, {n})"


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_re): whitespace tokens and
    BPE-ish regex tokens."""
    return docs.select(
        "doc_id",
        F.size(words_col()).alias("n_tokens_ws"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_RE)).alias("n_tokens_re"),
    )


def token_counts_sql(table: str = "documents") -> str:
    return f"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(regexp_split_to_array(text, '{WS}+')) AS INT) AS n_tokens_ws,
             CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_tokens_re
      FROM {table}
    """


# ---------------------------------------------------------------------------
# language ID (stopword-hit heuristic)
# ---------------------------------------------------------------------------


def _stop_hits_expr(lang: str) -> str:
    # coalesce(text, ''): NULL text must classify 'und' with 0 hits.
    # Without it the NULL propagates into the hits array and the
    # argmax CASE's NULL three-valued logic picks a junk label on the
    # Spark side while the DuckDB twin emits NULL — a cross-engine
    # divergence (caught by the bpe_fertility NULL-doc test).
    lst = _lit_array_expr(STOPWORDS[lang])
    return (
        f"size(filter(split(coalesce(text, ''), '{WS}+'), "
        f"w -> array_contains({lst}, lower(w))))"
    )


def lang_pred_expr() -> str:
    """THE Spark rendering of the language argmax over a ``text``
    column — exposed so aggregating consumers (bpe_fertility_by_lang)
    can compute the label inside their own single scan instead of
    joining :func:`lang_id` back to the corpus (the
    bpe_token_count_col discipline). Never NULL: NULL text coalesces
    to '' inside _stop_hits_expr and classifies 'und'."""
    hits = "array(" + ", ".join(_stop_hits_expr(lang) for lang in LANGS) + ")"
    langs_lit = _lit_array_expr(LANGS)
    return (
        f"CASE WHEN array_max({hits}) = 0 THEN 'und' "
        f"ELSE element_at({langs_lit}, CAST(array_position({hits}, array_max({hits})) AS INT))"
        f" END"
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, stop_hits): argmax of per-language stopword
    hit counts; ties broken by LANGS order; all-zero (incl. NULL
    text) -> 'und'."""
    hits = "array(" + ", ".join(_stop_hits_expr(lang) for lang in LANGS) + ")"
    return docs.select(
        "doc_id",
        F.expr(lang_pred_expr()).alias("lang_pred"),
        F.expr(f"array_max({hits})").alias("stop_hits"),
    )


def _hits_sql() -> str:
    """DuckDB per-language hits list over a ``text`` column
    (coalesce(text, ''): same NULL-text guard as _stop_hits_expr)."""
    def hits(lang: str) -> str:
        lst = _lit_list_sql(STOPWORDS[lang])
        return (
            f"len(list_filter(regexp_split_to_array(coalesce(text, ''), "
            f"'{WS}+'), w -> list_contains({lst}, lower(w))))"
        )

    return "[" + ", ".join(hits(lang) for lang in LANGS) + "]"


def lang_pred_sql() -> str:
    """DuckDB twin of :func:`lang_pred_expr` — the argmax CASE over
    the inline hits list (self-contained; no pre-bound ``h``)."""
    h = _hits_sql()
    langs_lit = _lit_list_sql(LANGS)
    return (
        f"CASE WHEN list_max({h}) = 0 THEN 'und' "
        f"ELSE {langs_lit}[list_position({h}, list_max({h}))] END"
    )


def lang_id_sql(table: str = "documents") -> str:
    langs_lit = _lit_list_sql(LANGS)
    return f"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CASE WHEN list_max(h) = 0 THEN 'und'
                  ELSE {langs_lit}[list_position(h, list_max(h))] END AS lang_pred,
             CAST(list_max(h) AS INT) AS stop_hits
      FROM (SELECT doc_id, {_hits_sql()} AS h FROM {table})
    """


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_ALL_STOPS = sorted({w for lang in ("en", "de", "fr", "es") for w in STOPWORDS[lang]})


def quality_score(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, n_chars_obs, n_words, stop_ratio, punct_ratio, quality)
    — deterministic length/punct/stopword quality heuristic.

    quality = floor6(0.35*min(1, 3*stop_ratio) + 0.25*min(1, chars/500)
              + 0.2*min(1, words/100) + 0.2*(1 - punct_ratio))

    ``keep`` carries extra input columns through to the output so a
    consumer keyed on another column (url_dedup's canon_url) gets the
    score in the SAME scan instead of joining back on doc_id.
    """
    stops = _lit_array_expr(_ALL_STOPS)
    base = docs.selectExpr(
        "doc_id",
        *keep,
        "length(text) AS n_chars_obs",
        f"size(split(text, '{WS}+')) AS n_words",
        f"size(filter(split(text, '{WS}+'), w -> array_contains({stops}, lower(w)))) AS stop_hits",
        f"regexp_count(text, '{PUNCT_RE}') AS punct_hits",
    )
    stop_ratio = F.col("stop_hits") / F.greatest(F.col("n_words"), F.lit(1))
    punct_ratio = F.col("punct_hits") / F.greatest(F.col("n_chars_obs"), F.lit(1))
    quality = (
        F.lit(0.35) * F.least(F.lit(1.0), F.lit(3.0) * stop_ratio)
        + F.lit(0.25) * F.least(F.lit(1.0), F.col("n_chars_obs") / F.lit(500.0))
        + F.lit(0.2) * F.least(F.lit(1.0), F.col("n_words") / F.lit(100.0))
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )
    return base.select(
        "doc_id",
        *keep,
        "n_chars_obs",
        "n_words",
        floor6(stop_ratio).alias("stop_ratio"),
        floor6(punct_ratio).alias("punct_ratio"),
        floor6(quality).alias("quality"),
    )


def quality_score_sql(
    table: str = "documents",
    id_sql: str = "CAST(doc_id AS BIGINT)",
    keep: tuple[str, ...] = (),
) -> str:
    """``id_sql`` renders the id with the type Spark reads it as —
    BIGINT for the int contract corpus, plain ``doc_id`` for string-id
    corpora (the operator itself is id-type-agnostic). ``keep``
    mirrors the Spark signature."""
    keep_cols = "".join(f", {c}" for c in keep)
    stops = _lit_list_sql(_ALL_STOPS)
    stop_ratio = "(stop_hits / greatest(n_words, 1))"
    punct_ratio = "(punct_hits / greatest(n_chars_obs, 1))"
    # CAST(... AS DOUBLE) everywhere: DuckDB numeric literals are
    # DECIMAL, and decimal division diverges from Spark's double math.
    quality = (
        f"0.35 * least(CAST(1.0 AS DOUBLE), 3.0 * {stop_ratio}) "
        f"+ 0.25 * least(CAST(1.0 AS DOUBLE), CAST(n_chars_obs AS DOUBLE) / 500.0) "
        f"+ 0.2 * least(CAST(1.0 AS DOUBLE), CAST(n_words AS DOUBLE) / 100.0) "
        f"+ 0.2 * (CAST(1.0 AS DOUBLE) - {punct_ratio})"
    )
    return f"""
      SELECT doc_id{keep_cols}, n_chars_obs, n_words,
             {floor6_sql(stop_ratio)} AS stop_ratio,
             {floor6_sql(punct_ratio)} AS punct_ratio,
             {floor6_sql(quality)} AS quality
      FROM (
        SELECT {id_sql} AS doc_id{keep_cols},
               CAST(length(text) AS INT) AS n_chars_obs,
               CAST(len(regexp_split_to_array(text, '{WS}+')) AS INT) AS n_words,
               CAST(len(list_filter(regexp_split_to_array(text, '{WS}+'),
                    w -> list_contains({stops}, lower(w)))) AS DOUBLE) AS stop_hits,
               CAST(len(regexp_extract_all(text, '{PUNCT_RE}')) AS DOUBLE) AS punct_hits
        FROM {table}
      )
    """


# ---------------------------------------------------------------------------
# document fingerprint (rolling hash)
# ---------------------------------------------------------------------------


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): order-sensitive 56-bit rolling hash over word
    hashes — a cheap content fingerprint for exact/near-exact grouping.
    fold: acc' = (acc*31 + md5_40(word)) % 2^56, sequential in word
    order (both engines fold left-to-right -> identical)."""
    h = f"{md5_long_expr('w')} % {FP_MOD40}"
    fp = (
        f"aggregate(transform(split(text, '{WS}+'), w -> {h}), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {FP_MOD56})"
    )
    return docs.selectExpr("doc_id", f"{fp} AS fp")


def fingerprint_sql(table: str = "documents") -> str:
    h = f"{md5_long_sql('w')} % {FP_MOD40}"
    return f"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_split_to_array(text, '{WS}+'), w -> {h})),
               (acc, x) -> (acc * 31 + x) % {FP_MOD56}) AS fp
      FROM {table}
    """


# ---------------------------------------------------------------------------
# corpus vocabulary heavy hitters
# ---------------------------------------------------------------------------


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """(token, n): the k most frequent whitespace tokens corpus-wide —
    the vocabulary-building / heavy-hitter pass every tokenizer
    training run starts with.

    Deterministic at the boundary: ties at rank k are broken by token
    ASC, so the returned set is execution-independent.

    Scale shape: explode -> ONE shuffle on token with map-side partial
    counts (Zipf skew on stop-tokens is absorbed by the partial agg —
    each input partition emits at most one ('the', n) row), then a
    global top-k via TakeOrderedAndProject (per-partition heaps, only
    k rows per partition reach the driver-side merge — no full sort,
    no single-reducer ORDER BY). At 100 TB the only full-corpus cost
    is the token-count exchange, which is unavoidable for exact
    counts; swap in a count-min sketch if approximate counts suffice.
    """
    return (
        docs.select(F.explode(words_col()).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def vocab_topk_sql(table: str = "documents", k: int = 100) -> str:
    return f"""
      SELECT token, n FROM (
        SELECT token, count(*) AS n FROM (
          SELECT unnest(regexp_split_to_array(text, '{WS}+')) AS token
          FROM {table}
        ) WHERE token <> ''
        GROUP BY token
      ) ORDER BY n DESC, token ASC LIMIT {k}
    """


BPE_MAX_WORD_CHARS = 1000  # per-word pair-scan cap (memory bound)


def bpe_pair_counts(
    docs: DataFrame, k: int = 100, max_word_chars: int = BPE_MAX_WORD_CHARS
) -> DataFrame:
    """(pair, n): the k most frequent adjacent character pairs inside
    whitespace words, weighted by word occurrence — the statistic the
    first BPE merge selection maximizes (Sennrich et al. 2016). Run
    iteratively over a re-segmented vocabulary this IS BPE training;
    this operator is the corpus-scale step of that loop.

    Scale shape (the reason this is not a corpus explode): classic
    BPE counts pairs over the WORD-COUNT table, so the corpus-scale
    work is exactly :func:`vocab_topk`'s one token-count shuffle
    (map-side partials absorb Zipf skew). The pair explode then runs
    over the aggregated vocabulary — output-bounded, not
    corpus-bounded — and the final pair aggregation moves at most
    |vocab| * (word_len - 1) rows. ``max_word_chars`` caps the pairs
    scanned per distinct word (a minified-JS "word" would otherwise
    fan out len-1 rows); ties at rank k break pair-ASC so the
    returned set is execution-independent. Pairs are raw characters
    (no case folding), matching vocab_topk's raw tokens.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    wc = (
        docs.select(F.explode(words_col()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
    )
    t = f"substring(w, 1, {max_word_chars})"
    return (
        wc.selectExpr(
            f"CASE WHEN length({t}) >= 2 THEN "
            f"transform(sequence(1, length({t}) - 1), i -> substring({t}, i, 2))"
            f" ELSE CAST(array() AS ARRAY<STRING>) END AS ps",
            "wn",
        )
        .selectExpr("explode(ps) AS pair", "wn")
        .groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def bpe_pair_counts_sql(
    table: str = "documents",
    k: int = 100,
    max_word_chars: int = BPE_MAX_WORD_CHARS,
) -> str:
    """DuckDB twin of :func:`bpe_pair_counts` (range() is
    exclusive-stop and yields [] when stop <= start, so length-1
    words need no CASE guard)."""
    t = f"substr(w, 1, {max_word_chars})"
    return f"""
      SELECT pair, n FROM (
        -- DuckDB widens sum(BIGINT) to HUGEINT; pin the driver-visible
        -- type to BIGINT to match Spark's sum
        SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM (
          SELECT unnest(list_transform(range(1, length({t})),
                        i -> substr({t}, i, 2))) AS pair,
                 wn
          FROM (
            SELECT w, count(*) AS wn FROM (
              SELECT unnest(regexp_split_to_array(text, '{WS}+')) AS w
              FROM {table}
            ) WHERE w <> ''
            GROUP BY w
          )
        ) GROUP BY pair
      ) ORDER BY n DESC, pair ASC LIMIT {k}
    """


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    docs: DataFrame, k: int = 5, w: int = 4, max_chars: int = 100_000
) -> DataFrame:
    """(doc_id, pos, fp): winnowing-selected character k-gram
    fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    algorithm; public).

    Where :func:`fingerprint` is one whole-document hash (exact-copy
    grouping) and ``scrub.repeated_passages`` mines fixed anchored
    windows, winnowing gives the POSITION-ROBUST selection the
    copy-detection literature standardized on: hash every char
    k-gram, slide a window of ``w`` consecutive hashes, keep each
    window's minimum (rightmost on ties). Guarantee: any shared
    substring of length >= w + k - 1 between two documents yields at
    least one identical selected (fp) in both — so matching docs on
    fp finds partial overlaps that whole-doc hashing misses, with
    only ~2/(w+1) of the k-gram hashes kept.

    Shape: pure scan-stage array expressions (one md5 per k-gram,
    LET-bound so window mins never re-hash; per-doc work O(n·w) with
    small constant w) + one explode. No shuffle — downstream overlap
    mining is a groupBy(fp) exactly like repeated_passages. Docs
    shorter than ``k`` chars contribute no fingerprints. Inputs are
    clipped to ``max_chars`` (the repeated_passages per-doc scan cap:
    a pathological giant doc cannot monopolize a task).

    ``pos`` is the 1-based char offset of the selected k-gram. The
    same (hash, position) can win several overlapping windows —
    selections are emitted once per the paper (array_distinct inside
    the scan stage — the operator stays shuffle-free; the DuckDB twin
    dedupes at row level instead, as it cannot list_distinct struct
    lists).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    h = md5_long_expr(f"substring(t, i, {k})")
    # LET-bind the clipped text, then the k-gram hash array, then the
    # per-window (rightmost-min) selections; acc seed is > any 60-bit
    # hash so the first window element always replaces it
    seed = 1 << 62
    sel = (
        f"transform(sequence(1, size(H) - {w - 1}), j -> "
        f"aggregate(sequence(j, j + {w - 1}), "
        f"struct(CAST({seed} AS BIGINT) AS fp, CAST(0 AS BIGINT) AS pos), "
        f"(acc, i) -> IF(element_at(H, CAST(i AS INT)) <= acc.fp, "
        f"struct(element_at(H, CAST(i AS INT)) AS fp, i AS pos), acc)))"
    )
    expr = (
        f"flatten(transform(array(substring(text, 1, {max_chars})), t -> "
        f"flatten(transform("
        f"array(CASE WHEN length(t) >= {k} THEN "
        f"transform(sequence(1, length(t) - {k - 1}), i -> {h}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END), H -> "
        f"CASE WHEN size(H) >= {w} THEN array_distinct({sel}) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<fp: BIGINT, pos: BIGINT>>) END))))"
    )
    return (
        docs.where(F.col("text").isNotNull())
        .selectExpr("doc_id", f"explode({expr}) AS s")
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_fingerprints_sql(
    table: str = "documents", k: int = 5, w: int = 4, max_chars: int = 100_000
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (list_reduce seeds
    from the prepended init element; 1-based list indexing matches
    element_at). DuckDB cannot list_distinct struct lists, so the
    per-window dedup is a row-level DISTINCT keyed by a per-source-row
    id — NOT a global one: Spark's array_distinct is per input row,
    so duplicate doc_id rows must keep their duplicate selections in
    both engines."""
    h = md5_long_sql(f"substr(t, CAST(i AS INT), {k})")
    seed = 1 << 62
    sel = (
        f"list_transform(range(1, len(H) - {w - 1} + 1), j -> "
        f"list_reduce(list_prepend("
        f"{{'fp': CAST({seed} AS BIGINT), 'pos': CAST(0 AS BIGINT)}}, "
        f"list_transform(range(j, j + {w}), i -> "
        f"{{'fp': H[CAST(i AS INT)], 'pos': CAST(i AS BIGINT)}})), "
        f"(acc, x) -> CASE WHEN x.fp <= acc.fp THEN x ELSE acc END))"
    )
    return f"""
      SELECT doc_id, pos, fp FROM (
        SELECT DISTINCT doc_id, rid, s.pos AS pos, s.fp AS fp FROM (
          SELECT doc_id, rid, unnest(sels) AS s FROM (
            SELECT doc_id, rid,
              CASE WHEN len(H) >= {w} THEN {sel}
                   ELSE [] END AS sels
            FROM (
              SELECT doc_id, rid,
                CASE WHEN length(t) >= {k} THEN
                  list_transform(range(1, length(t) - {k - 1} + 1), i -> {h})
                ELSE [] END AS H
              FROM (
                SELECT doc_id, row_number() OVER () AS rid,
                       substr(text, 1, {max_chars}) AS t
                FROM {table} WHERE text IS NOT NULL
              )
            )
          )
        )
      )
    """


# ---------------------------------------------------------------------------
# Unicode script profile (writing-system detection)
# ---------------------------------------------------------------------------

# BMP-only code-point ranges per script, embedded as LITERAL characters
# (the chr() discipline — '\\x{...}' escape syntax is a dialect trap;
# literal chars parse identically in Java regex and RE2). BMP-only so
# surrogate-pair handling can never differ between engines. The latin
# class spans Basic Latin letters + Latin-1/Extended-A/B, which admits
# the two stray math signs in Latin-1 (multiply/divide) — an accepted
# heuristic approximation, same in both engines.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", f"A-Za-z{chr(0x00C0)}-{chr(0x024F)}"),
    ("cyrillic", f"{chr(0x0400)}-{chr(0x04FF)}"),
    ("greek", f"{chr(0x0370)}-{chr(0x03FF)}"),
    ("cjk", f"{chr(0x4E00)}-{chr(0x9FFF)}"),
    ("kana", f"{chr(0x3040)}-{chr(0x30FF)}"),
    ("hangul", f"{chr(0x1100)}-{chr(0x11FF)}{chr(0xAC00)}-{chr(0xD7AF)}"),
    ("arabic", f"{chr(0x0600)}-{chr(0x06FF)}"),
    ("hebrew", f"{chr(0x0590)}-{chr(0x05FF)}"),
    ("devanagari", f"{chr(0x0900)}-{chr(0x097F)}"),
]


def _dominant_script_case() -> str:
    """THE dominant-script argmax rendering — greatest() + a fixed-
    order CASE chain, character-identical in Spark SQL and DuckDB, so
    the tie-break order and the 'none' guard can never diverge between
    the twins (ONE definition, the floor6/PAIR_EXPR discipline)."""
    names = [n for n, _ in SCRIPT_RANGES]
    m = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    return (
        f"CASE WHEN {m} = 0 THEN 'none' "
        + " ".join(f"WHEN n_{n} = {m} THEN '{n}'" for n in names)
        + " END AS script"
    )


def script_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_latin, ..., n_devanagari, script): per-document
    character counts by Unicode writing system plus the dominant
    script label — the multilingual-hygiene signal lang_id cannot
    give (stopword lists only separate languages that SHARE a script;
    a corpus router first needs to know the script at all).

    Counts are delete-and-diff: ``length(t) - length(regexp_replace
    (t, '[range]', ''))`` — pure scan-stage codegen, zero shuffle, one
    pass over (doc_id, text) with column pruning. Both engines count
    code points, and every range is BMP-only, so the diffs agree
    exactly. ``script`` = argmax count with ties broken by the fixed
    SCRIPT_RANGES order (latin first); all-zero (or NULL text) →
    'none'. NULL text profiles as the empty string — the row is
    emitted, never dropped.
    """
    counts = [
        f"length(t) - length(regexp_replace(t, '[{rng}]', '')) AS n_{name}"
        for name, rng in SCRIPT_RANGES
    ]
    base = docs.selectExpr(
        "doc_id", "coalesce(text, '') AS t"
    ).selectExpr("doc_id", *counts)
    names = [n for n, _ in SCRIPT_RANGES]
    return base.selectExpr(
        "doc_id", *[f"n_{n}" for n in names], _dominant_script_case()
    )


def script_profile_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`script_profile` (regexp_replace needs the
    'g' flag — DuckDB replaces only the first match by default; both
    engines' length() counts code points, so the diffs agree)."""
    counts = ", ".join(
        f"CAST(length(t) - length(regexp_replace(t, '[{rng}]', '', 'g')) AS INT)"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    names = [n for n, _ in SCRIPT_RANGES]
    dominant = _dominant_script_case()
    return f"""
      SELECT doc_id, {", ".join(f"n_{n}" for n in names)}, {dominant}
      FROM (
        SELECT doc_id, {counts}
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     coalesce(text, '') AS t FROM {table})
      )
    """


# ---------------------------------------------------------------------------
# lexical diversity (type-token ratio / hapax fraction)
# ---------------------------------------------------------------------------


def lexical_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_types, n_hapax, ttr, hapax_ratio): lexical
    diversity — the quality axis the length/stopword heuristic can't
    see. Templated spam and keyword stuffing repeat a tiny vocabulary
    (low type-token ratio, few hapax legomena) while passing every
    length gate; human prose sits high on both.

    Scan-stage only, zero shuffle: words are LET-bound once, counted
    distinct via array_distinct, and hapax words (in-doc frequency
    exactly 1) are counted by a sorted-neighbor scan — an element of
    the SORTED word array is a hapax iff it differs from both
    neighbors, so the count is one O(n log n) sort + one linear fold,
    never the O(n^2) count-each-word nested filter. Ratios are floor6
    doubles over greatest(n_tokens, 1); NULL/empty text emits zeros.
    """
    words = f"filter(split(coalesce(text, ''), '{WS}+'), x -> x != '')"
    # hapax: 1-based i over sorted sw; out-of-range neighbor access is
    # NULL-safe via 0-based get() (Spark) -> coalesce(..., true)
    hapax = (
        "size(filter(sequence(1, size(sw)), i -> "
        "coalesce(element_at(sw, i) != get(sw, i - 2), true) AND "
        "coalesce(element_at(sw, i) != get(sw, i), true)))"
    )
    stats = (
        f"element_at(transform(array(array_sort({words})), sw -> struct("
        f"size(sw) AS n_tokens, "
        f"size(array_distinct(sw)) AS n_types, "
        f"CASE WHEN size(sw) = 0 THEN 0 ELSE {hapax} END AS n_hapax"
        f")), 1)"
    )
    base = docs.select("doc_id", F.expr(stats).alias("_s")).select(
        "doc_id",
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.n_types").alias("n_types"),
        F.col("_s.n_hapax").alias("n_hapax"),
    )
    denom = F.greatest(F.col("n_tokens"), F.lit(1))
    return base.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        floor6(F.col("n_types") / denom).alias("ttr"),
        floor6(F.col("n_hapax") / denom).alias("hapax_ratio"),
    )


def lexical_stats_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`lexical_stats` (1-based list indexing is
    NULL out of range, so the neighbor compares coalesce the same
    way)."""
    words = (
        f"list_filter(regexp_split_to_array(coalesce(text, ''), '{WS}+'), "
        f"x -> x != '')"
    )
    hapax = (
        "len(list_filter(range(1, len(sw) + 1), i -> "
        "coalesce(sw[i] != sw[i - 1], true) AND "
        "coalesce(sw[i] != sw[i + 1], true)))"
    )
    stats = (
        f"list_transform([list_sort({words})], sw -> {{"
        f"'n_tokens': len(sw), "
        f"'n_types': len(list_distinct(sw)), "
        f"'n_hapax': CASE WHEN len(sw) = 0 THEN 0 ELSE {hapax} END"
        f"}})[1]"
    )
    ttr = "(CAST(n_types AS DOUBLE) / greatest(n_tokens, 1))"
    hr = "(CAST(n_hapax AS DOUBLE) / greatest(n_tokens, 1))"
    return f"""
      SELECT doc_id,
             CAST(n_tokens AS INT) AS n_tokens,
             CAST(n_types AS INT) AS n_types,
             CAST(n_hapax AS INT) AS n_hapax,
             {floor6_sql(ttr)} AS ttr,
             {floor6_sql(hr)} AS hapax_ratio
      FROM (
        SELECT doc_id, _s['n_tokens'] AS n_tokens, _s['n_types'] AS n_types,
               _s['n_hapax'] AS n_hapax
        FROM (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, {stats} AS _s
          FROM {table}
        )
      )
    """


# ---------------------------------------------------------------------------
# corpus n-gram diversity profile
# ---------------------------------------------------------------------------


def ngram_diversity(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-source corpus diversity: (source, n_ngrams, n_distinct,
    diversity_ppm) where diversity_ppm = distinct-n-gram share of all
    n-gram OCCURRENCES in integer ppm — the corpus-level templatedness
    monitor (low bigram diversity = boilerplate/template farm; the
    corpus-scale complement of the per-doc
    :func:`ocr_spark.functions.scrub.repetition_signals`).

    Shape: one scan (shared shingling LET binding), explode, one
    aggregation over (source, 60-bit hash). ``countDistinct`` expands
    to a two-stage partial/merge aggregate on uniform hash keys —
    exact, as a contract query must be; at the 100 TB scale swap the
    distinct for the mergeable HLL sketch
    (:func:`ngram_diversity_approx`) and keep this exact form for
    per-source samples.
    """
    from ocr_spark.functions.dedup import shingles_expr
    from ocr_spark.functions.hashing import md5_long

    ex = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(F.expr(shingles_expr(n))).alias("_g")
    )
    keyed = ex.select("source", md5_long(F.col("_g")).alias("_h"))
    return (
        keyed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.countDistinct("_h").cast("long").alias("n_distinct"),
        )
        .withColumn(
            "diversity_ppm", F.expr("(n_distinct * 1000000) div n_ngrams")
        )
    )


def ngram_diversity_sql(table: str = "documents", n: int = 2) -> str:
    """DuckDB twin of :func:`ngram_diversity`."""
    from ocr_spark.functions.dedup import shingles_sql
    from ocr_spark.functions.hashing import md5_long_sql

    return f"""
      WITH ex AS (
        SELECT source, unnest({shingles_sql(n)}) AS _g
        FROM {table} WHERE text IS NOT NULL
      ),
      keyed AS (SELECT source, {md5_long_sql('_g')} AS _h FROM ex)
      SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams,
             CAST(count(DISTINCT _h) AS BIGINT) AS n_distinct,
             (CAST(count(DISTINCT _h) AS BIGINT) * 1000000)
               // CAST(count(*) AS BIGINT) AS diversity_ppm
      FROM keyed GROUP BY source
    """


# ---------------------------------------------------------------------------
# sentence-level language mix (code-switching / wrong-lang-run detector)
# ---------------------------------------------------------------------------


def lang_mix_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sents, n_langs, dominant_lang, dominant_ppm):
    sentence-level language mix per document — the code-switching
    detector :func:`lang_id`'s whole-doc argmax cannot see (a page
    that is half English boilerplate half target-language content
    gets one doc-level label; this profile says HOW mixed it is, and
    a curation gate can require dominant_ppm >= some floor).

    Sentences come from :func:`ocr_spark.functions.chunking.
    split_sentences`; each is labeled with THE shared language argmax
    (``lang_pred_expr`` — one rendering, both engines). Dominance
    ties break lang-ASC; dominant_ppm is integer ppm of sentences.
    Docs with NULL text (or no non-empty sentences) emit no row.

    Shape: scan-stage segmentation + labeling, one (doc_id, lang)
    partial-agg shuffle, one doc_id window — both on uniform keys.
    """
    from ocr_spark.functions.chunking import split_sentences
    from pyspark.sql import Window

    sents = split_sentences(docs).select(
        "doc_id", F.col("sentence").alias("text")
    )
    labeled = sents.select("doc_id", F.expr(lang_pred_expr()).alias("lang"))
    per = labeled.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    tot = Window.partitionBy("doc_id")
    return (
        per.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_sents", F.sum("n").over(tot).cast("long"))
        .withColumn("n_langs", F.count("*").over(tot).cast("long"))
        .where(F.col("_rk") == 1)
        .select(
            "doc_id",
            "n_sents",
            "n_langs",
            F.col("lang").alias("dominant_lang"),
            F.expr("(n * 1000000) div n_sents").alias("dominant_ppm"),
        )
    )


def lang_mix_profile_sql(
    table: str = "documents", id_sql: str = "CAST(doc_id AS BIGINT)"
) -> str:
    """DuckDB twin of :func:`lang_mix_profile` (windowed SUM(BIGINT)
    widens to HUGEINT — cast back, the packing lesson)."""
    from ocr_spark.functions.chunking import split_sentences_sql

    return f"""
      WITH sents AS (
        SELECT doc_id, sentence AS text
        FROM ({split_sentences_sql(table)})
      ),
      labeled AS (SELECT doc_id, {lang_pred_sql()} AS lang FROM sents),
      per AS (
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n
        FROM labeled GROUP BY doc_id, lang
      ),
      rk AS (
        SELECT doc_id, lang, n,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY n DESC, lang ASC) AS _rk,
               CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_sents,
               CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs
        FROM per
      )
      SELECT {id_sql} AS doc_id, n_sents, n_langs,
             lang AS dominant_lang,
             (n * 1000000) // n_sents AS dominant_ppm
      FROM rk WHERE _rk = 1
    """


def ngram_diversity_approx(
    docs: DataFrame, n: int = 2, lg_k: int = 12
) -> DataFrame:
    """The 100 TB path for :func:`ngram_diversity`: the exact
    ``countDistinct`` (a full two-stage distinct over every n-gram
    hash) is replaced by a DataSketches HLL aggregate — fixed
    ``2^lg_k``-bucket state per source, one ordinary partial-agg
    shuffle, mergeable across shards/days like the repo's other
    sketches. Same output schema as the exact form; ``n_distinct``
    (and therefore ``diversity_ppm``) is the HLL estimate (~1.6%
    relative error at lg_k=12). No DuckDB twin — the sketch is
    engine-specific; the exact operator is the oracle-checked one,
    and the test pins this estimate within its error bound of exact.
    """
    from ocr_spark.functions.dedup import shingles_expr
    from ocr_spark.functions.hashing import md5_long

    ex = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(F.expr(shingles_expr(n))).alias("_g")
    )
    keyed = ex.select("source", md5_long(F.col("_g")).alias("_h"))
    return (
        keyed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg("_h", F.lit(lg_k))
            ).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "diversity_ppm", F.expr("(n_distinct * 1000000) div n_ngrams")
        )
    )


def readability(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sents, n_syll, words_per_sent,
    syll_per_word, flesch): Flesch reading-ease per document — the
    classic readability axis (textbooks ~60-80, legalese/boilerplate
    <30) used alongside Gopher rules and the model-based classifier
    when stratifying pretraining corpora by difficulty.

    flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/word)

    Syllables use the standard heuristic: one per maximal vowel-group
    run ``[aeiouy]+`` in the ASCII-folded text (groups cannot span the
    whitespace between words, so one whole-text regexp_count suffices),
    and a vowelless word (acronyms, digits) still counts one syllable.
    Sentences come from terminal-punctuation runs ``[.!?]+`` with an
    unpunctuated document counting as one sentence. Case folding is
    the locale-safe ``translate`` (schema.ASCII_*), never ``lower()``.

    Scan-stage only — zero shuffle; the float tree (two multiplies,
    two subtractions, per ROW not aggregated) is rendered identically
    in the DuckDB twin, and all three derived doubles are floor6 so
    hash comparison is stable. NULL/empty text emits zero counts and
    the degenerate flesch of the all-greatest(…,1) denominators.
    """
    t = f"translate(coalesce(text, ''), '{ASCII_UPPER}', '{ASCII_LOWER}')"
    words = f"filter(split({t}, '{WS}+'), x -> x != '')"
    base = docs.select(
        "doc_id",
        F.expr(f"size({words})").cast("int").alias("n_words"),
        F.expr(
            f"CASE WHEN size({words}) = 0 THEN 0 "
            f"ELSE greatest(regexp_count(coalesce(text, ''), '[.!?]+'), 1) END"
        ).cast("int").alias("n_sents"),
        F.expr(
            f"regexp_count({t}, '[aeiouy]+') + "
            f"size(filter({words}, w -> w NOT RLIKE '[aeiouy]'))"
        ).cast("int").alias("n_syll"),
    )
    wps = F.col("n_words").cast("double") / F.greatest(F.col("n_sents"), F.lit(1))
    spw = F.col("n_syll").cast("double") / F.greatest(F.col("n_words"), F.lit(1))
    return base.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        floor6(wps).alias("words_per_sent"),
        floor6(spw).alias("syll_per_word"),
        floor6(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch"
        ),
    )


def readability_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`readability` (len(regexp_extract_all) =
    regexp_count; identical float tree and floor6)."""
    t = f"translate(coalesce(text, ''), '{ASCII_UPPER}', '{ASCII_LOWER}')"
    words = (
        f"list_filter(regexp_split_to_array({t}, '{WS}+'), x -> x != '')"
    )
    wps = "(CAST(n_words AS DOUBLE) / greatest(n_sents, 1))"
    spw = "(CAST(n_syll AS DOUBLE) / greatest(n_words, 1))"
    return f"""
      SELECT doc_id,
             n_words, n_sents, n_syll,
             {floor6_sql(wps)} AS words_per_sent,
             {floor6_sql(spw)} AS syll_per_word,
             {floor6_sql(f"(206.835 - 1.015 * {wps} - 84.6 * {spw})")} AS flesch
      FROM (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(len(w) AS INT) AS n_words,
               CAST(CASE WHEN len(w) = 0 THEN 0 ELSE greatest(
                 len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1)
               END AS INT) AS n_sents,
               CAST(len(regexp_extract_all({t}, '[aeiouy]+'))
                 + len(list_filter(w, x -> NOT regexp_matches(x, '[aeiouy]')))
                 AS INT) AS n_syll
        FROM (SELECT doc_id, text, {words} AS w FROM {table})
      )
    """
