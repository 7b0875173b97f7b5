"""Order-insensitive corpus checksums — the reproducibility audit for
100 TB snapshots.

A curated corpus is rebuilt constantly (resumes, backfills, engine
upgrades, re-partitions). "Did the bytes change?" must be answerable
without sorting or diffing 100 TB: the checksum here is a per-group
(typically per-source or per-shard) MODULAR SUM of per-row 60-bit
content hashes —

  checksum = ( Σ_rows md5_long(row rendering) ) mod 2^60

which is, by commutativity of addition:

- **order-insensitive**: repartition/shuffle/task-retry order cannot
  change it (unlike a hash of concatenated rows);
- **multiset-exact**: any inserted, deleted, or modified row moves the
  sum (an XOR aggregate — the obvious alternative — silently cancels
  even-multiplicity duplicates, so a doubled shard could checksum
  clean; the modular SUM counts multiplicity);
- **mergeable**: group checksums fold into coarser ones by modular
  addition (:func:`fold_checksums`), so per-shard audits roll up to a
  corpus audit without touching rows again;
- **overflow-safe at any scale**: rows are <= 2^60, the accumulator is
  DECIMAL(38,0) on Spark / HUGEINT on DuckDB — exact to ~10^19 rows.

Row rendering: each audited column is ``coalesce(CAST(col AS STRING),
<NUL>)`` and columns join on an ``\\x01`` separator, so NULL, '' and
column-boundary shifts all produce distinct renderings (concat_ws's
silent NULL-skipping is the trap this avoids). Audit integer/string
columns directly; FLOAT/DOUBLE columns must be pre-rendered by the
caller (Java and C disagree on default float-to-string — the
validate.py scientific-notation lesson).

One partial-agg (map-side combined) shuffle on the group key; the
scan is pruned to the audited columns. Collision note: forging a
matching 60-bit sum requires an adversary, not an accident — this is
an integrity audit against drift/bugs, not a cryptographic MAC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long_expr, md5_long_sql

MOD60 = 1 << 60


# column separator / NULL sentinel for the row rendering, rendered as
# chr() calls because '\x01' escapes are NOT interpreted inside
# single-quoted SQL literals in either dialect; chr(n) for ASCII n is
# engine-identical (the session-6 chr() gotcha only bites above 255).
def _row_expr(cols: tuple[str, ...]) -> str:
    parts = ", ".join(
        f"coalesce(CAST({c} AS STRING), chr(0))" for c in cols
    )
    return f"concat_ws(chr(1), {parts})"


def _row_sql(cols: tuple[str, ...]) -> str:
    parts = " || chr(1) || ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in cols
    )
    return f"({parts})"


def checksum_agg(row_hash) -> "F.Column":
    """THE modular-sum accumulator (sum of 60-bit row hashes in an
    exact DECIMAL(38,0), folded mod 2^60) — the one definition every
    checksum producer uses (:func:`table_checksum`, the runner's
    per-bucket lineage checksums), so their outputs stay
    fold-compatible with :func:`fold_checksums` by construction."""
    return (F.sum(row_hash.cast("decimal(38,0)")) % F.lit(MOD60)).cast("long")


def table_checksum(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    cols: tuple[str, ...] = ("doc_id", "text", "lang", "source"),
) -> DataFrame:
    """(group_cols..., n_rows, checksum60): order-insensitive content
    checksum per group (see module docstring)."""
    h = F.expr(md5_long_expr(_row_expr(cols)))
    return df.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        checksum_agg(h).alias("checksum60"),
    )


def table_checksum_sql(
    table: str = "documents",
    group_cols: tuple[str, ...] = ("source",),
    cols: tuple[str, ...] = ("doc_id", "text", "lang", "source"),
) -> str:
    """DuckDB twin of :func:`table_checksum` (sum(BIGINT) is HUGEINT —
    exact, like Spark's DECIMAL(38,0)). ``group_cols=()`` gives the one
    whole-table row."""
    g = ", ".join(group_cols)
    return f"""
      SELECT {g + "," if g else ""}
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum({md5_long_sql(_row_sql(cols))}) % {MOD60} AS BIGINT)
               AS checksum60
      FROM {table}
      {"GROUP BY " + g if g else ""}
    """


def fold_checksums(sums: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Roll per-group checksum rows up to coarser groups (or one
    corpus row with ``group_cols=()``): modular addition — exactly
    what a single :func:`table_checksum` over the union would emit,
    because the underlying sum is associative. Input must carry
    ``n_rows``/``checksum60`` columns (e.g. persisted per-shard audit
    rows); rows are operator-scale (one per group), so this is a tiny
    aggregate."""
    agg = [
        F.sum("n_rows").cast("long").alias("n_rows"),
        (F.sum(F.col("checksum60").cast("decimal(38,0)")) % F.lit(MOD60))
        .cast("long")
        .alias("checksum60"),
    ]
    if group_cols:
        return sums.groupBy(*group_cols).agg(*agg)
    return sums.agg(*agg)
