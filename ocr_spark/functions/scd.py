"""Slowly-changing-dimension (type 2) history from periodic snapshots.

The warehouse-side complement of ``dedup.snapshot_diff``: diff tells
you WHAT changed between two crawls; SCD2 turns a whole STACK of
snapshots into validity intervals — one row per (key, attribute-state
run) with [valid_from, valid_to) bounds — so any point-in-time state
is a single range predicate instead of a scan over every snapshot.
(The reference keeps only the latest row per file and overwrites it,
/root/reference/webapp/results.py upsert path; an auditable pipeline
needs the history.)

Engine mapping: pure gaps-and-islands window algebra — lag the
attribute state over (key, snap) order, flag change points, and keep
ONLY change-point rows; each kept row's interval runs to the NEXT
kept row's snapshot (lead), NULL for the current state. One shuffle
on the key, window passes over one sort order, no joins, no explode.
State compare uses a canonical concatenation of the attribute columns
with chr(0) NULL and chr(1) separator sentinels (the audit.py
discipline — chr() calls, never string escapes, which neither SQL
dialect interprets inside quotes) so NULL attrs, empty strings, and
adjacent-column ambiguity ('a','bc' vs 'ab','c') cannot alias. The
state string is engine-LOCAL (used only in same-engine lag compares);
cross-engine agreement needs only "equal attrs <=> equal rendering",
which coalesce+concat_ws gives both engines.

Missing snapshots (a key absent from some snapshot) mean "not
observed", NOT "deleted": the run simply extends to the next snapshot
where the key IS observed. Callers who materialize deletions should
synthesize tombstone rows upstream — the operator documents rather
than guesses that policy.

Scale shape: one hash shuffle on the key, sort by (key, snap),
window-lag + filter + window-lead. Skewed keys cannot exist by
construction (a key has at most |snapshots| rows). 10^12 rows
partition uniformly on the key hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _state_spark(attrs: tuple[str, ...]) -> str:
    parts = ", ".join(
        f"coalesce(CAST({a} AS STRING), chr(0))" for a in attrs
    )
    return f"concat_ws(chr(1), {parts})"


def _state_duck(attrs: tuple[str, ...]) -> str:
    parts = " || chr(1) || ".join(
        f"coalesce(CAST({a} AS VARCHAR), chr(0))" for a in attrs
    )
    return f"({parts})"


def scd2_history(
    obs: DataFrame,
    key: str = "user_id",
    snap: str = "snap_ts",
    attrs: tuple[str, ...] = ("status",),
) -> DataFrame:
    """(key, <attrs...>, valid_from, valid_to, is_current): SCD2
    validity intervals from an observation table of (key, snap,
    attrs...) rows — one output row per maximal run of consecutive
    observations with identical attribute state.

    ``valid_from`` = first snapshot of the run, ``valid_to`` = the
    NEXT run's first snapshot (half-open interval), NULL on the
    current run (``is_current`` = true). Duplicate (key, snap)
    observations are resolved deterministically by the attribute
    values themselves (DESC NULLS LAST per attr — explicit in both
    dialects because their bare-DESC null orders are a known
    divergence), never by the rendered state string (numeric
    renderings differ between engines; the values don't).

    Plan shape (asserted in tests): ONE Exchange on the key. The
    dup-resolution is NOT a (key, snap)-partitioned row_number — that
    costs a second shuffle — but a lag-based first-row-per-snap
    filter inside the SAME key partitioning, ordered (snap ASC,
    attrs DESC NULLS LAST); the change-flag and lead windows reuse
    the partitioning with a light in-partition re-sort.
    """
    if not attrs:
        raise ValueError("attrs must name at least one attribute column")
    from pyspark.sql import Window

    live = obs.where(
        F.col(key).isNotNull() & F.col(snap).isNotNull()
    ).select(
        F.col(key).alias("_key"),
        F.col(snap).alias("_snap"),
        F.expr(_state_spark(attrs)).alias("_state"),
        *[F.col(a) for a in attrs],
    )
    wdup = Window.partitionBy("_key").orderBy(
        F.col("_snap").asc(),
        *[F.col(a).desc_nulls_last() for a in attrs],
    )
    first_of_snap = F.lag("_snap").over(wdup).isNull() | (
        F.lag("_snap").over(wdup) != F.col("_snap")
    )
    live = live.withColumn("_keep", first_of_snap).where(F.col("_keep"))
    wk = Window.partitionBy("_key").orderBy("_snap")
    flagged = live.select(
        "_key",
        "_snap",
        *attrs,
        (
            F.lag("_state").over(wk).isNull()
            | (F.lag("_state").over(wk) != F.col("_state"))
        ).alias("_chg"),
    )
    runs = flagged.where(F.col("_chg"))
    return runs.select(
        F.col("_key").alias(key),
        *attrs,
        F.col("_snap").alias("valid_from"),
        F.lead("_snap").over(wk).alias("valid_to"),
        F.lead("_snap").over(wk).isNull().alias("is_current"),
    )


def daily_status_obs(events: DataFrame) -> DataFrame:
    """(user_id, snap_day, status): the daily per-user observation the
    SCD2 surfaces consume — integer epoch-day ids (timestamps are the
    TIMESTAMPTZ twin trap) and min(event_type) as the deterministic
    representative. ONE definition shared by the Spark contract query
    and its DuckDB twin (daily_status_obs_sql) so they cannot drift."""
    return (
        events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(
            "user_id",
            F.floor(F.unix_timestamp("ts") / F.lit(86400.0))
            .cast("long")
            .alias("snap_day"),
        )
        .agg(F.min("event_type").alias("status"))
    )


def daily_status_obs_sql(table: str = "events") -> str:
    """DuckDB twin of :func:`daily_status_obs` (floor(epoch/86400) is
    the same integer day id; epochs here are non-negative)."""
    return (
        f"SELECT user_id,"
        f" CAST(floor(epoch(ts) / 86400) AS BIGINT) AS snap_day,"
        f" min(event_type) AS status"
        f" FROM {table}"
        f" WHERE ts IS NOT NULL AND user_id IS NOT NULL"
        f" GROUP BY 1, 2"
    )


def scd2_history_sql(
    table: str = "obs",
    key: str = "user_id",
    snap: str = "snap_ts",
    attrs: tuple[str, ...] = ("status",),
) -> str:
    """DuckDB twin: the identical lag/filter/lead pipeline (window
    functions evaluate identically; null order made explicit)."""
    if not attrs:
        raise ValueError("attrs must name at least one attribute column")
    state = _state_duck(attrs)
    alist = ", ".join(attrs)
    order_dup = ", ".join(f"{a} DESC NULLS LAST" for a in attrs)
    return f"""
      WITH live AS (
        SELECT {key} AS _key, {snap} AS _snap, {state} AS _state,
               {alist}
        FROM {table}
        WHERE {key} IS NOT NULL AND {snap} IS NOT NULL
      ),
      dedup AS (
        SELECT * FROM (
          SELECT *, lag(_snap) OVER (
            PARTITION BY _key ORDER BY _snap ASC, {order_dup}
          ) AS _prev_snap
          FROM live
        ) WHERE _prev_snap IS NULL OR _prev_snap <> _snap
      ),
      flagged AS (
        SELECT _key, _snap, {alist},
               lag(_state) OVER w IS NULL
                 OR lag(_state) OVER w <> _state AS _chg
        FROM dedup
        WINDOW w AS (PARTITION BY _key ORDER BY _snap)
      ),
      runs AS (
        SELECT * FROM flagged WHERE _chg
      )
      SELECT _key AS {key}, {alist},
             _snap AS valid_from,
             lead(_snap) OVER w AS valid_to,
             lead(_snap) OVER w IS NULL AS is_current
      FROM runs
      WINDOW w AS (PARTITION BY _key ORDER BY _snap)
    """
