"""Interval (range) join: points-in-interval, banded for scale.

"Which events fall inside which windows" (campaign windows, incident
windows, attribution windows after a signup) is a non-equi join, and
Spark's planner can only run a bare non-equi predicate as
BroadcastNestedLoopJoin — a |points| x |intervals| scan per key that
is exactly the all-pairs shape this repo bans at 100 TB. The classic
fix (what time-series engines and Spark range-join hints do) is TIME
BANDING: quantize the time axis into fixed-width bands, explode each
interval onto every band it overlaps, band-stamp each point, then
EQUI-join on (band, keys) and re-check the exact predicate. Each
(point, interval) candidate pair meets in exactly one band — the
point's — so the join is duplicate-free by construction, shuffles on
uniform integer keys, and AQE can split skewed bands.

Cost model: the interval side is amplified by ~(interval_len /
band_seconds + 1) rows. Pick ``band_seconds`` near the median
interval length: amplification stays O(1) while each band's
candidate set stays small. Outlier intervals spanning > ``max_bands``
bands (a "whole-year maintenance window" amid minute-scale sessions)
would amplify pathologically — those few rows are split off and
joined via a broadcast non-equi pass instead (they are rare by
definition; if they weren't, a larger band width is the right tool),
so the output is exactly the plain non-equi join's, at banded cost.

The DuckDB oracle twin IS the naive non-equi join — the banded plan
must reproduce it row-for-row.

Reference analog: none (the reference has no temporal joins); this is
part of the beyond-reference training-data/analytics surface
(SURVEY.md §2 addenda).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US = 1_000_000


def banded_range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    keys: Sequence[str] = ("user_id",),
    band_seconds: int = 86_400,
    max_bands: int = 4_096,
) -> DataFrame:
    """Inner-join ``points`` to every interval containing them.

    Inclusive on both bounds (start <= ts <= end). Rows with NULL
    timestamps/keys or end < start cannot match a non-equi predicate
    and are dropped, as the plain SQL join would. Column names must
    not collide across the two inputs (pre-select/alias); ``keys``
    name equality columns present on both sides.

    Returns points columns + interval columns for each match.
    """
    if band_seconds <= 0:
        raise ValueError("band_seconds must be positive")
    if max_bands < 1:
        raise ValueError("max_bands must be >= 1")
    band_us = band_seconds * US
    keys = list(keys)

    p = points.where(F.col(ts_col).isNotNull())
    iv = intervals.where(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) >= F.col(start_col))
    )
    for k in keys:
        p = p.where(F.col(k).isNotNull())
        iv = iv.where(F.col(k).isNotNull())

    # floor (not truncate-toward-zero) so pre-1970 timestamps band
    # consistently; the double quotient of exactly-representable
    # int64 micros cannot cross an integer boundary here (margin
    # 1/(x*eps) ≈ 2.7x at any band width)
    def _band_of(c) -> F.Column:
        return F.floor(F.unix_micros(c) / F.lit(band_us)).cast("long")

    lo = _band_of(F.col(start_col))
    hi = _band_of(F.col(end_col))
    n_bands = hi - lo + F.lit(1)

    p_b = p.withColumn("_band", _band_of(F.col(ts_col)))
    iv_small = iv.where(n_bands <= max_bands).withColumn(
        "_band", F.explode(F.sequence(lo, hi))
    )
    banded = (
        p_b.join(iv_small, on=["_band"] + keys)
        .where(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_band")
    )

    # Rare-outlier path: broadcast the oversized intervals and let the
    # non-equi predicate run as a broadcast loop over ONLY those rows.
    # Aliases avoid the same-lineage self-join ambiguity trap.
    iv_big = iv.where(n_bands > max_bands)
    pa, ia = p.alias("_rj_p"), iv_big.alias("_rj_i")
    cond = (F.col(f"_rj_p.{ts_col}") >= F.col(f"_rj_i.{start_col}")) & (
        F.col(f"_rj_p.{ts_col}") <= F.col(f"_rj_i.{end_col}")
    )
    for k in keys:
        cond = cond & (F.col(f"_rj_p.{k}") == F.col(f"_rj_i.{k}"))
    big = pa.join(F.broadcast(ia), cond).select(
        *[F.col(f"_rj_p.{c}") for c in p.columns],
        *[F.col(f"_rj_i.{c}") for c in iv.columns if c not in keys],
    )

    return banded.unionByName(big)


def attribution_join_events(
    events: DataFrame,
    window_type: str = "signup",
    point_type: str = "purchase",
    window_days: int = 3,
    band_seconds: int = 86_400,
    max_bands: int = 4_096,
) -> DataFrame:
    """Contract shape: attribute each ``point_type`` event to every
    ``window_type`` event of the same user whose ``window_days``-long
    window contains it → (interval_id, event_id, user_id)."""
    base = events.select(
        F.col("event_id").cast("long").alias("event_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    intervals = base.where(F.col("event_type") == window_type).select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {int(window_days)} DAYS")).alias("end_ts"),
    )
    points = base.where(F.col("event_type") == point_type).select(
        "event_id", "user_id", "ts"
    )
    out = banded_range_join(
        points,
        intervals,
        band_seconds=band_seconds,
        max_bands=max_bands,
    )
    return out.select("interval_id", "event_id", "user_id")


def attribution_join_events_sql(
    window_type: str = "signup",
    point_type: str = "purchase",
    window_days: int = 3,
) -> str:
    """DuckDB twin of :func:`attribution_join_events` — the NAIVE
    non-equi join the banded plan must reproduce exactly."""
    return f"""
      SELECT i.interval_id, p.event_id, p.user_id
      FROM (
        SELECT event_id AS interval_id, user_id, ts AS start_ts,
               ts + INTERVAL {int(window_days)} DAY AS end_ts
        FROM events
        WHERE event_type = '{window_type}'
          AND ts IS NOT NULL AND user_id IS NOT NULL
      ) i
      JOIN (
        SELECT event_id, user_id, ts
        FROM events
        WHERE event_type = '{point_type}'
          AND ts IS NOT NULL AND user_id IS NOT NULL
      ) p
        ON p.user_id = i.user_id
       AND p.ts >= i.start_ts AND p.ts <= i.end_ts
    """
