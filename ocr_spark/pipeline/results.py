"""Results-table semantics: append / replace / dedup / edit-merge
(SURVEY.md J1-J4, R5, A2-A3).

The reference accumulates per-page result rows in memory and
reconciles them by ``file_token`` (uuid4) under a global lock
(/root/reference/webapp/jobs.py:193-283). Columnar equivalents:

- tokens are deterministic (R5): sha2(doc_id || '#' || page) — no
  uuid4, so re-runs are idempotent and resume-safe.
- append (J1) is unionByName; replace (J2) is overwrite-mode write.
- dedup-by-token last-wins (J3) is a row_number window over
  (token) ordered by run_ts desc — at scale this shuffles once on the
  token (uniform hash -> no skew).
- edit-update (J4) is a left join against the (small, broadcast)
  updates table with per-field coalesce — MERGE INTO semantics on
  engines with Iceberg; plain join+coalesce otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def deterministic_token(doc_id: Column, page_number: Column) -> Column:
    """R5: stable page token replacing uuid4
    (/root/reference/webapp/state.py:454)."""
    return F.sha2(F.concat_ws("#", doc_id.cast("string"), page_number.cast("string")), 256)


def append_results(old: DataFrame, new: DataFrame) -> DataFrame:
    """J1: append=true (/root/reference/webapp/api.py:238-251)."""
    return old.unionByName(new)


def dedup_last_wins(
    df: DataFrame,
    keys: list[str],
    order_col: str = "run_ts",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """J3: keep the newest row per key (/root/reference/webapp/jobs.py:
    221-224 drops old rows with the same token before appending).

    Rows with equal (key, order_col) are a total order only with a
    tie-break; by default every remaining column (sorted by name,
    ascending) joins the window ORDER BY so the winner is deterministic
    — the SQL twin must receive the same ``tie_break`` list."""
    if tie_break is None:
        tie_break = sorted(c for c in df.columns if c not in keys and c != order_col)
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), *[F.asc(c) for c in tie_break]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_last_wins_sql(
    inner: str,
    keys: list[str],
    order_col: str = "run_ts",
    tie_break: list[str] | None = None,
) -> str:
    key_list = ", ".join(keys)
    order = f"{order_col} DESC"
    if tie_break:
        order += ", " + ", ".join(f"{c} ASC" for c in tie_break)
    return f"""
      SELECT * EXCLUDE (_rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY {key_list}
                                     ORDER BY {order}) AS _rn
        FROM ({inner})
      ) WHERE _rn = 1
    """


def edit_update(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    fields: list[str],
    overwrite_nulls: bool = False,
) -> DataFrame:
    """J4: UI-edit merge — matched rows take the update's field values
    (/root/reference/webapp/api.py:536-560). Updates are operator-scale
    small -> broadcast; unmatched update rows are ignored (the
    reference 404s them).

    ``overwrite_nulls=True`` is the reference-faithful mode: matched
    fields are overwritten outright, so an explicit NULL in the update
    CLEARS the field (api.py assigns the edited dict wholesale). The
    default keeps the coalesce behavior (NULL update = leave as-is),
    which is the safer merge for partial edit payloads.

    Multiple update rows for one key collapse to a single
    deterministic winner (lexicographically smallest field tuple)
    BEFORE the join — a left join against duplicate keys would
    otherwise duplicate target rows and break the dedup-by-token
    invariant. The SQL twin applies the identical rule."""
    # NULLS LAST matches DuckDB's ASC default, so both engines pick
    # the same winner when duplicate updates carry NULL fields
    w = Window.partitionBy(key).orderBy(*[F.asc_nulls_last(f) for f in fields])
    upd_unique = (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    upd = F.broadcast(
        upd_unique.select(
            key,
            *[F.col(f).alias(f"_u_{f}") for f in fields],
            F.lit(True).alias("_u_matched"),
        )
    )
    out = target.join(upd, key, "left")
    for f_name in fields:
        if overwrite_nulls:
            new_val = F.when(
                F.col("_u_matched").isNotNull(), F.col(f"_u_{f_name}")
            ).otherwise(F.col(f_name))
        else:
            new_val = F.coalesce(F.col(f"_u_{f_name}"), F.col(f_name))
        out = out.withColumn(f_name, new_val)
    return out.drop("_u_matched", *[f"_u_{f}" for f in fields])


def edit_update_sql(
    target: str,
    updates: str,
    key: str,
    fields: list[str],
    passthrough: list[str],
    overwrite_nulls: bool = False,
) -> str:
    cols = [f"t.{key}"] + [f"t.{c}" for c in passthrough]
    if overwrite_nulls:
        cols += [
            f"CASE WHEN u.{key} IS NOT NULL THEN u._u_{f} ELSE t.{f} END AS {f}"
            for f in fields
        ]
    else:
        cols += [f"coalesce(u._u_{f}, t.{f}) AS {f}" for f in fields]
    upd_cols = [key] + [f"{f} AS _u_{f}" for f in fields]
    order = ", ".join(f"{f} ASC" for f in fields)
    return f"""
      SELECT {', '.join(cols)}
      FROM ({target}) t
      LEFT JOIN (SELECT {', '.join(upd_cols)} FROM ({updates})
                 QUALIFY row_number() OVER (PARTITION BY {key}
                                            ORDER BY {order}) = 1) u
        ON t.{key} = u.{key}
    """


def latest_row(df: DataFrame, order_col: str = "run_ts") -> DataFrame:
    """O3: the single newest row (UI 'latestRow',
    /root/reference/webapp/jobs.py:264-267) — max_by over the run
    ordering; ties broken by the token for determinism."""
    return df.orderBy(F.desc(order_col), *df.columns).limit(1)
