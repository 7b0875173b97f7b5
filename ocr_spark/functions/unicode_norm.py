"""Unicode NFC normalization — the canonical text-cleaning step a
web-scale corpus runs before any content hashing (dedup, novelty,
fingerprints): visually-identical strings with different codepoint
sequences (decomposed accents, reordered combining marks) must hash
equal or every downstream dedup silently under-merges.

Spark has no built-in Unicode normalizer, so this is the repo's one
sanctioned use of the Python path: an Arrow-batched ``pandas_udf``
(the north rule's "vectorized pandas/Arrow UDFs", never per-row
Python) wrapping ``pandas.Series.str.normalize`` — one C-side Arrow
transfer per batch, NULL-safe. The cross-engine twin is DuckDB's
utf8proc-backed ``nfc_normalize``; parity across implementations
(CPython unicodedata vs utf8proc) is itself a meaningful check and is
pinned by hostile-input tests (decomposed Hangul, combining-mark
reordering, ligatures — NFC must preserve ``ﬁ``, only NFKC folds it).

Scale shape: zero shuffle — the UDF runs inside the scan stage over
pruned (doc_id, text) columns; output is the input row count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.pipeline.session import settle_python_worker


def _nfc_udf():
    # created lazily: the pandas_udf decorator needs an active Spark
    # session, and this module must stay importable without one
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        settle_python_worker()
        return s.str.normalize("NFC")

    return nfc


def normalize_nfc(docs: DataFrame, col: str = "text") -> DataFrame:
    """Same frame with ``col`` NFC-normalized plus a ``changed`` flag
    (false for NULL input; NULL text stays NULL)."""
    if "_nfc_tmp" in docs.columns:
        raise ValueError("input already has a _nfc_tmp column")
    if "changed" in docs.columns:
        # withColumn would silently overwrite it while the SQL twin
        # emits a duplicate column — refuse instead of diverging
        raise ValueError(
            "input already has a 'changed' column; rename or drop it first"
        )
    # materialize the UDF result under one name so the plan carries a
    # single ArrowEvalPython node (plan-asserted), not one per use
    return (
        docs.withColumn("_nfc_tmp", _nfc_udf()(F.col(col)))
        .withColumn("changed", ~F.col("_nfc_tmp").eqNullSafe(F.col(col)))
        .withColumn(col, F.col("_nfc_tmp"))
        .drop("_nfc_tmp")
    )


def normalize_nfc_sql(table: str = "documents", col: str = "text") -> str:
    """DuckDB twin over the same table: select-star shape with ``col``
    replaced and the same null-safe ``changed`` flag."""
    return f"""
      SELECT * REPLACE (nfc_normalize({col}) AS {col}),
             (nfc_normalize({col}) IS DISTINCT FROM {col}) AS changed
      FROM {table}
    """


# ---------------------------------------------------------------------------
# encoding-noise profile (mojibake / replacement / control chars)
# ---------------------------------------------------------------------------

# UTF-8-read-as-Latin-1 artifact digraphs: the lead bytes of 2-byte
# UTF-8 sequences decode to U+00C2/U+00C3 and the continuation byte to
# U+00A0..U+00BF (punctuation/symbol block) — 'A-tilde + (c)' style
# pairs that essentially never occur in clean text, while legitimate
# accented words ('Sao Paulo' with a tilde) put a LETTER after U+00C3
# and stay uncounted. The 3-byte lead artifact surfaces as U+00E2
# followed by U+20AC (the 'a-circumflex + euro' smart-quote wreck).
# Built with chr() — literal chars parse identically in Java regex
# and RE2 (the session-6 escape-dialect discipline).
MOJIBAKE_RE = (
    f"[{chr(0xC2)}{chr(0xC3)}][{chr(0xA0)}-{chr(0xBF)}]"
    f"|{chr(0xE2)}{chr(0x20AC)}"
)
# C0 controls minus the whitespace class (tab/LF/CR/FF/VT are normal
# text), plus DEL and the C1 block (U+0080-U+009F: bytes that only
# appear in text via encoding damage). Written as \xhh ESCAPES, not
# literal chars — a raw NUL inside a SQL literal is its own trap;
# both Java regex and RE2 read \xhh identically.
CTRL_RE = r"[\x00-\x08\x0E-\x1F\x7F-\x9F]"
REPLACEMENT_CHAR = chr(0xFFFD)


def _damage_counts(t):
    """The three damage-signal count columns over an already
    NULL-coalesced text column — ONE definition shared by
    encoding_profile and encoding_suspect_col."""
    return (
        F.regexp_count(t, F.lit(REPLACEMENT_CHAR)),
        F.regexp_count(t, F.lit(MOJIBAKE_RE)),
        F.regexp_count(t, F.lit(CTRL_RE)),
    )


def encoding_suspect_col(text) -> "F.Column":
    """The boolean ``suspect`` signal as a single column over a text
    column (NULL-safe: NULL text profiles clean) — for consumers that
    fold the gate into their own single scan instead of joining
    :func:`encoding_profile` back."""
    t = F.coalesce(text, F.lit(""))
    n_repl, n_moj, n_ctrl = _damage_counts(t)
    return (n_repl + n_moj + n_ctrl) > 0


def encoding_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_replacement, n_mojibake, n_ctrl, suspect): per-doc
    encoding-damage signals — U+FFFD replacement characters (a decoder
    already gave up), UTF-8-as-Latin-1 mojibake digraphs, and
    control/C1 characters that only enter text via charset bugs. A
    crawl-ingest gate drops or re-decodes ``suspect`` docs BEFORE
    tokenization: mojibake shreds token statistics and survives every
    length/stopword quality heuristic.

    Pure scan-stage ``regexp_count`` over pruned (doc_id, text) —
    zero shuffle, no UDF. NULL text profiles as the empty string (the
    row is emitted, never dropped)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_repl, n_moj, n_ctrl = _damage_counts(t)
    return docs.select(
        "doc_id",
        n_repl.alias("n_replacement"),
        n_moj.alias("n_mojibake"),
        n_ctrl.alias("n_ctrl"),
        ((n_repl + n_moj + n_ctrl) > 0).alias("suspect"),
    )


def encoding_profile_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`encoding_profile` (len(regexp_extract_all)
    counts the same non-overlapping left-to-right matches as
    regexp_count)."""
    def cnt(pat: str) -> str:
        return f"CAST(len(regexp_extract_all(t, '{pat}')) AS INT)"

    return f"""
      SELECT doc_id,
             n_replacement, n_mojibake, n_ctrl,
             (n_replacement + n_mojibake + n_ctrl) > 0 AS suspect
      FROM (
        SELECT doc_id,
               {cnt(REPLACEMENT_CHAR)} AS n_replacement,
               {cnt(MOJIBAKE_RE)} AS n_mojibake,
               {cnt(CTRL_RE)} AS n_ctrl
        FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     coalesce(text, '') AS t FROM {table})
      )
    """


# ---------------------------------------------------------------------------
# mojibake repair (the actionable counterpart of encoding_profile)
# ---------------------------------------------------------------------------

# Codepoints whose UTF-8-read-as-cp1252 renderings dominate real web
# mojibake: smart punctuation + euro/TM + NBSP + the common Latin-1
# letters. The damaged form is DERIVED (encode UTF-8, decode cp1252
# with the ftfy-style latin-1 fallback for the five unmapped bytes),
# never hand-typed — so the table cannot drift from the encoding it
# models, and the source file stays pure ASCII (the session-6
# NFC-normalization trap).
MOJIBAKE_TARGETS = (
    0x2019, 0x2018, 0x201C, 0x201D,  # curly quotes
    0x2013, 0x2014, 0x2026, 0x2022,  # dashes, ellipsis, bullet
    0x20AC, 0x2122, 0x00A0,          # euro, TM, NBSP
    0xE9, 0xE8, 0xEA, 0xE0, 0xE7, 0xF6, 0xFC, 0xE4, 0xF3, 0xED,
    0xE1, 0xF1, 0xFB, 0xEE, 0xF4, 0xFA, 0xDF,  # common Latin-1 letters
)


def _cp1252_sloppy(bs: bytes) -> str:
    # cp1252 leaves five bytes unmapped (81 8D 8F 90 9D); mojibake
    # text carries them as the raw latin-1 C1 codepoints (what ftfy
    # calls sloppy-windows-1252), e.g. the 9D in a damaged U+201D.
    out = []
    for b in bs:
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


# (damaged, repaired) pairs, longest damaged form first then lexical —
# the substitution order is PART OF THE OPERATOR DEFINITION (both
# engines run the same sequence).
MOJIBAKE_PAIRS = tuple(
    sorted(
        ((_cp1252_sloppy(chr(cp).encode("utf-8")), chr(cp)) for cp in MOJIBAKE_TARGETS),
        key=lambda p: (-len(p[0]), p[0]),
    )
)

# Phase-1 placeholders: Unicode NONCHARACTERS U+FDD0.. — codepoints the
# standard reserves for internal use and forbids in interchanged text,
# so neutralizing any pre-existing ones in the input is itself a
# repair. A damaged pattern is rewritten to its sentinel first and
# only resolved to the repaired character afterwards; since no damaged
# pattern contains a noncharacter, a repair output can never combine
# with adjacent clean text to complete a LATER damaged pattern (the
# direct-chain cascade: genuine 'A-tilde' + damaged-NBSP would
# otherwise heal the NBSP into the second byte of a fake damaged-'a
# grave' and destroy both characters). Pre-existing noncharacters are
# SUBSTITUTED with U+FFFD, never deleted: deletion would merge their
# neighbors and could synthesize a damaged pattern out of genuine
# characters (A-tilde + noncharacter + NBSP -> fake damaged-a-grave)
# — the same cascade one level earlier. U+FFFD appears in no damaged
# pattern, so the substitution can complete nothing.
_SENTINELS = tuple(chr(0xFDD0 + i) for i in range(len(MOJIBAKE_PAIRS)))
if len(MOJIBAKE_PAIRS) > 32:  # not assert: -O must not skip this
    raise RuntimeError("sentinel space U+FDD0..U+FDEF exhausted")
_NONCHAR_CLASS = "[" + chr(0xFDD0) + "-" + chr(0xFDEF) + "]"
_REPLACEMENT = chr(0xFFFD)


def fix_mojibake(docs: DataFrame) -> DataFrame:
    """(doc_id, fixed_text, n_fixes): repair UTF-8-read-as-cp1252
    mojibake in place of dropping the document — the salvage path for
    docs :func:`encoding_profile` flags (drop-on-suspect costs real
    corpus mass when the damage is this mechanical).

    Two-phase literal substitution over :data:`MOJIBAKE_PAIRS` (order
    fixed, longest-first): damaged form -> noncharacter sentinel, then
    sentinel -> repaired character, so repair outputs can never
    complete a later damaged pattern (see ``_SENTINELS``). ``n_fixes``
    counts the modifications that actually FIRED: sentinel occurrences
    in the phase-1 string (exact even when patterns overlap in the
    input) plus noncharacter substitutions. One pass heals exactly one
    encoding level; run again for double-encoded text. Unicode
    noncharacters U+FDD0-FDEF in the input are substituted with U+FFFD
    first (forbidden in interchange, and pre-existing ones would alias
    the sentinels) — substituted, never deleted: deletion would merge
    neighbors and could synthesize a damaged pattern from genuine
    characters.

    Scan-stage only — zero shuffle, no UDF; the ~3x28 replace/length
    nodes stay inside whole-stage codegen (two Project stages: the
    shared phase-1 string is materialized once, not re-derived per
    count). NULL text stays NULL with ``n_fixes`` 0; the row is never
    dropped.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    s = F.regexp_replace(raw, _NONCHAR_CLASS, _REPLACEMENT)
    # substitution preserves length, so the scrub count needs the
    # delete-form diff on the RAW text (computed once, pre-stage)
    n_scrub = (
        F.length(raw) - F.length(F.regexp_replace(raw, _NONCHAR_CLASS, ""))
    ).cast("int")
    for (bad, _), sent in zip(MOJIBAKE_PAIRS, _SENTINELS):
        s = F.replace(s, F.lit(bad), F.lit(sent))
    staged = docs.select(
        "doc_id",
        F.col("text").isNull().alias("_null"),
        n_scrub.alias("_n_scrub"),
        s.alias("_s"),
    )
    n = F.col("_n_scrub")
    fixed = F.col("_s")
    for (_, good), sent in zip(MOJIBAKE_PAIRS, _SENTINELS):
        n = n + (
            F.length("_s") - F.length(F.replace(F.col("_s"), F.lit(sent), F.lit("")))
        ).cast("int")
        fixed = F.replace(fixed, F.lit(sent), F.lit(good))
    return staged.select(
        "doc_id",
        F.when(F.col("_null"), F.lit(None).cast("string"))
        .otherwise(fixed)
        .alias("fixed_text"),
        n.cast("int").alias("n_fixes"),
    )


def fix_mojibake_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`fix_mojibake`: identical pair table,
    identical two-phase sentinel scheme, identical length-arithmetic
    counts over the shared phase-1 column."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    stage = (
        f"regexp_replace(coalesce(text, ''), {q(_NONCHAR_CLASS)}, "
        f"{q(_REPLACEMENT)}, 'g')"
    )
    for (bad, _), sent in zip(MOJIBAKE_PAIRS, _SENTINELS):
        stage = f"replace({stage}, {q(bad)}, {q(sent)})"
    scrub = (
        "CAST(length(coalesce(text, '')) - length(regexp_replace("
        f"coalesce(text, ''), {q(_NONCHAR_CLASS)}, '', 'g')) AS INT)"
    )
    fixed = "s"
    counts = ["n_scrub"]
    for (_, good), sent in zip(MOJIBAKE_PAIRS, _SENTINELS):
        counts.append(f"CAST(length(s) - length(replace(s, {q(sent)}, '')) AS INT)")
        fixed = f"replace({fixed}, {q(sent)}, {q(good)})"
    n = " + ".join(counts)
    return f"""
      SELECT doc_id,
             CASE WHEN raw IS NULL THEN NULL ELSE {fixed} END AS fixed_text,
             CAST({n} AS INT) AS n_fixes
      FROM (SELECT doc_id, text AS raw, {scrub} AS n_scrub, {stage} AS s
            FROM {table})
    """
