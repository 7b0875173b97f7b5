"""Vectorized field normalization — reference-exact semantics of
``validate_field`` (/root/reference/pipeline.py:196-296).

These pandas implementations serve two roles:
1. the pytest oracle for the Spark SQL-expression implementations in
   ocr_spark.pipeline.validate (both must agree bit-exactly), and
2. a scalar pandas_udf fallback if a SQL expr ever diverges from the
   reference on an edge case (SURVEY.md §7.2 increment 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NA = "N/A"


def normalize_number(raw: pd.Series) -> tuple[pd.Series, pd.Series]:
    """F2+F3+F4: currency strip + locale-aware number parse.

    Returns (value: float64 with NaN on failure, failed: bool).
    The reference keeps the original string on failure and appends an
    'invalid number format' warning (/root/reference/pipeline.py:230-254);
    callers combine (raw, value, failed) to reproduce that.

    Locale rules (/root/reference/pipeline.py:236-248):
    - both ',' and '.': the rightmost of the two is the decimal sep
    - only ',': decimal iff exactly 2 digits follow the last comma,
      else thousands separator
    """
    # ASCII (?a) on purpose: the reference's Python \d is unicode (it
    # would keep e.g. Arabic-Indic digits), but Spark's Java regex and
    # DuckDB's RE2 are ASCII-\d — all three layers here pin ASCII so
    # the oracle agrees with both engines; the unicode-digit deviation
    # from the reference is deliberate and test-pinned.
    cleaned = raw.fillna("").str.replace(r"(?a)[^\d.,\-]", "", regex=True)
    has_c = cleaned.str.contains(",", regex=False)
    has_d = cleaned.str.contains(".", regex=False)
    last_c = cleaned.str.rfind(",")
    last_d = cleaned.str.rfind(".")

    both = has_c & has_d
    comma_decimal = both & (last_c > last_d)
    dot_decimal = both & ~comma_decimal
    # only-comma: len(after last comma) == 2 -> decimal comma
    after_comma_len = cleaned.str.len() - last_c - 1
    only_c = has_c & ~has_d
    only_c_dec = only_c & (after_comma_len == 2)
    only_c_thou = only_c & ~only_c_dec

    out = cleaned.copy()
    out = out.where(~comma_decimal, cleaned.str.replace(".", "", regex=False).str.replace(",", ".", regex=False))
    out = out.where(~dot_decimal, cleaned.str.replace(",", "", regex=False))
    out = out.where(~only_c_dec, cleaned.str.replace(",", ".", regex=False))
    out = out.where(~only_c_thou, cleaned.str.replace(",", "", regex=False))
    value = pd.to_numeric(out, errors="coerce")
    # |v| >= 1e15 is a parse failure across all three layers (see
    # pipeline.validate._number_cols: Java cannot render shortest-repr
    # digits beyond that magnitude, so the engines pin a shared bound)
    value = value.where(value.abs() < 1e15)
    failed = value.isna()
    return value.astype(np.float64), failed


# Date patterns in reference priority order
# (/root/reference/pipeline.py:261-266); re.search semantics
# (substring match, not anchored). [0-9] instead of \d: the class is
# identical in Python, Java (Spark), and RE2 (DuckDB), so the shared
# patterns mean the same thing in every engine (Python \d alone would
# also match unicode digits).
DATE_PATTERNS = [
    (r"([0-9]{4})-([0-9]{2})-([0-9]{2})", True),  # ISO, year first
    (r"([0-9]{2})/([0-9]{2})/([0-9]{4})", False),  # DD/MM/YYYY
    (r"([0-9]{2})-([0-9]{2})-([0-9]{4})", False),  # DD-MM-YYYY
    (r"([0-9]{4})/([0-9]{2})/([0-9]{2})", True),  # YYYY/MM/DD
]


def normalize_date(raw: pd.Series) -> tuple[pd.Series, pd.Series]:
    """F5: multi-pattern date -> 'YYYY-MM-DD' string.

    Returns (value, failed). On failure the reference keeps the raw
    value and warns 'could not normalize date'
    (/root/reference/pipeline.py:280-281). No calendar validation —
    the reference normalizes '99/99/9999' happily; so do we.
    """
    s = raw.fillna("")
    result = pd.Series([None] * len(s), index=s.index, dtype="object")
    for pattern, year_first in DATE_PATTERNS:
        ext = s.str.extract(pattern, expand=True)
        hit = ext[0].notna() & result.isna()
        if year_first:
            norm = ext[0] + "-" + ext[1] + "-" + ext[2]
        else:
            norm = ext[2] + "-" + ext[1] + "-" + ext[0]
        result = result.where(~hit, norm)
    failed = result.isna()
    return result.where(~failed, raw), failed


def validate_regex(value: pd.Series, pattern: str) -> pd.Series:
    """F6: re.match (anchored at start) miss -> warning flag.

    N/A values are exempt (/root/reference/pipeline.py:284-288).
    """
    anchored = pattern if pattern.startswith("^") else "^" + pattern
    # (?a): Spark rlike / DuckDB regexp_matches are ASCII; the pandas
    # oracle must interpret \d/\w/\s in the user's pattern the same way
    miss = ~value.fillna("").str.contains("(?a)" + anchored, regex=True)
    return miss & (value != NA)


def confidence(n_missing_required: pd.Series, n_other_warnings: pd.Series) -> pd.Series:
    """A1: clamp01(1.0 - 0.1*missing - 0.05*other)
    (/root/reference/pipeline.py:313-349)."""
    c = 1.0 - 0.1 * n_missing_required - 0.05 * n_other_warnings
    return c.clip(0.0, 1.0)
