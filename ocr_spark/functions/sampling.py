"""Deterministic sampling & dataset splitting for training corpora.

A 100 TB curation pipeline cannot use ``DataFrame.sample()`` for its
train/val/test split or its stratified downsample: Spark's sampler is
seeded PER PARTITION, so task retries, AQE re-coalescing, or a
different input file layout silently change which rows are selected —
a resume then mixes two different samples. The portable fix (the one
every large-scale dataset pipeline ships) is CONTENT-HASH bucketing:
``bucket = H(salt || id) % 10_000`` and compare against per-split
thresholds. The assignment is then a property of the ROW, not of the
execution: stable under retries, repartitioning, resume, and even
re-ingestion of the same corpus.

Both operators are pure scan-stage column expressions (md5 + compare,
whole-stage codegen, zero shuffle, no UDF) using the repo's portable
60-bit md5 fold (`hashing.md5_long`) so the DuckDB oracle twins agree
bit-for-bit.

Reference analog: the reference processes whole uploaded corpora with
no sampling stage (/root/reference/pipeline.py:533 sequential loop) —
these operators are part of the beyond-reference training-data
surface (SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.hashing import md5_long, md5_long_sql

# Hash-bucket resolution: 10k buckets → split fractions are exact to
# 0.01%. One bucket column serves both operators.
N_BUCKETS = 10_000

DEFAULT_WEIGHTS: dict[str, float] = {"train": 0.9, "val": 0.05, "test": 0.05}


def _thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer bucket thresholds, insertion-ordered.

    The LAST split absorbs rounding residue so every bucket lands in
    exactly one split (sum of weights must be ~1).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    for i, (name, w) in enumerate(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for split '{name}'")
        cum += w
        hi = N_BUCKETS if i == len(weights) - 1 else int(round(cum * N_BUCKETS))
        out.append((name, hi))
    return out


def _bucket_col(id_col: str, salt: str):
    # salt || ':' || id — the salt namespaces the assignment so two
    # different splits of the same corpus are independent; casting the
    # id to string keeps the operator id-type-agnostic (int or
    # 'sha1:...' ids both work — no silent long-cast NULLs). NULL ids
    # hash as '' so they get one REAL deterministic bucket instead of
    # a NULL bucket silently falling through every threshold compare.
    return md5_long(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    ) % N_BUCKETS


def _bucket_sql(id_col: str, salt: str) -> str:
    s = salt.replace("'", "''")
    keyed = f"'{s}:' || coalesce(CAST({id_col} AS VARCHAR), '')"
    return f"{md5_long_sql(keyed)} % {N_BUCKETS}"


def dataset_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every row to a named split (train/val/test by default).

    Adds a ``split`` column; nothing else changes. Pure codegen — at
    scale this is free inside whatever stage reads the rows, and the
    same (salt, id) always lands in the same split on any cluster.
    """
    ths = _thresholds(DEFAULT_WEIGHTS if weights is None else weights)
    b = _bucket_col(id_col, salt)
    col = None
    for name, hi in ths[:-1]:
        cond = b < F.lit(hi)
        col = F.when(cond, name) if col is None else col.when(cond, name)
    last = ths[-1][0]
    split = F.lit(last) if col is None else col.otherwise(last)
    return df.withColumn("split", split)


def dataset_split_sql(
    source: str,
    weights: dict[str, float] | None = None,
    salt: str = "split:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dataset_split` (returns a full SELECT)."""
    ths = _thresholds(DEFAULT_WEIGHTS if weights is None else weights)
    b = _bucket_sql(id_col, salt)
    if len(ths) == 1:
        case = f"'{ths[0][0]}'"
    else:
        arms = " ".join(
            f"WHEN {b} < {hi} THEN '{name}'" for name, hi in ths[:-1]
        )
        case = f"CASE {arms} ELSE '{ths[-1][0]}' END"
    return f"SELECT *, {case} AS split FROM {source}"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float] | float,
    salt: str = "sample:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsample.

    ``fractions`` is either one fraction for every stratum or a
    {stratum_value: fraction} map (unlisted strata are dropped —
    matching ``sampleBy`` semantics). Selection is by content hash,
    so it is exactly reproducible and resume-safe; rows keep their
    original columns.

    Scale shape: a codegen filter in the scan stage — no shuffle, no
    driver-side state, and the per-stratum thresholds are literals
    folded into the predicate (strata cardinality is assumed
    operator-scale, e.g. language or source labels).
    """
    b = _bucket_col(id_col, salt)
    if isinstance(fractions, dict):
        pred = None
        for value, frac in fractions.items():
            hi = int(round(frac * N_BUCKETS))
            cond = (F.col(strata_col) == F.lit(value)) & (b < F.lit(hi))
            pred = cond if pred is None else (pred | cond)
        if pred is None:
            raise ValueError("fractions map must be non-empty")
    else:
        pred = b < F.lit(int(round(float(fractions) * N_BUCKETS)))
    return df.where(pred)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    salt: str = "cap:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per group — the domain-balancing
    staple (no single source/domain may dominate the training mix).

    Which rows survive is decided by ranking on the content hash
    (ties broken by the id string), so the per-group selection is a
    uniform-but-deterministic subset: stable under retries and
    resume, and adding NEW rows to a group only perturbs the
    selection near the cap boundary rather than reshuffling it.

    Scale shape: one shuffle on ``group_col`` for the rank window.
    Spark's WindowGroupLimit pushes the ``rank <= cap`` truncation
    map-side, so a mega-domain never materializes past ~cap rows per
    input partition before the exchange.

    NULL ids: hashed as '' (null-safe), and both engines pin NULLS
    FIRST on the id tie-break so the twins agree. Full determinism
    requires ids to be unique within a group — multiple NULL-id rows
    share one sort key, and which of THEM survives at the cap
    boundary is partition-order-dependent (same caveat as any keyed
    operator fed key-less rows).
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    # full 60-bit hash (not the 10k-bucket fold) so hash ties — and
    # the alphabetical id tie-break behind them — are negligible
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    h = md5_long(F.concat(F.lit(salt + ":"), id_str))
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(id_col).cast("string").asc_nulls_first()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def cap_per_group_sql(
    source: str,
    group_col: str,
    cap: int,
    salt: str = "cap:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`cap_per_group` (NULL ids hashed as '',
    NULLS FIRST pinned to match Spark's asc_nulls_first)."""
    esc = salt.replace("'", "''")
    h = md5_long_sql(f"'{esc}:' || coalesce(CAST({id_col} AS VARCHAR), '')")
    return f"""
      SELECT * EXCLUDE (_rk) FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {group_col}
          ORDER BY {h} ASC, CAST({id_col} AS VARCHAR) ASC NULLS FIRST
        ) AS _rk
        FROM {source}
      ) WHERE _rk <= {cap}
    """


def stratified_sample_sql(
    source: str,
    strata_col: str,
    fractions: dict[str, float] | float,
    salt: str = "sample:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`stratified_sample`."""
    b = _bucket_sql(id_col, salt)
    if isinstance(fractions, dict):
        def _sql_lit(v) -> str:
            # mirror the Spark side's TYPED literal (F.lit): numbers
            # stay numbers, strings are quoted/escaped
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, (int, float)):
                return repr(v)
            return "'" + str(v).replace("'", "''") + "'"

        parts = [
            f"({strata_col} = {_sql_lit(v)}"
            f" AND {b} < {int(round(f * N_BUCKETS))})"
            for v, f in fractions.items()
        ]
        pred = " OR ".join(parts)
    else:
        pred = f"{b} < {int(round(float(fractions) * N_BUCKETS))}"
    return f"SELECT * FROM {source} WHERE {pred}"


def weighted_sample(
    df: DataFrame,
    weight,
    salt: str = "wsample:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-row Bernoulli keep with row-specific
    probability — quality-weighted downsampling (keep high-quality
    docs with higher probability than boilerplate).

    ``weight`` is a Column (or column name) whose value is the keep
    probability; it is clamped to [0, 1]. A row survives iff its
    content-hash bucket falls below ``floor(clamp(w) * N_BUCKETS)``,
    so the decision is a property of (salt, id, weight): stable under
    retries, repartitioning, and resume — the same guarantee as
    :func:`dataset_split`, extended to non-uniform probabilities.

    Scale shape: a codegen filter in the scan stage — no shuffle, no
    UDF, no driver state. The weight is typically derived from the
    quality-score family (functions/text.py) in the same stage, so
    at 100 TB the sample decision is free inside the scan.

    Cross-engine exactness: the threshold is computed as
    ``floor(w * 10000)`` on IEEE doubles — multiply and floor are
    exact-rounded, deterministic operations, so both engines compare
    the SAME integer threshold as long as the weight expression
    itself is IEEE-identical (keep it to +,-,*,/ over column values,
    association mirrored — see NOTES_BUILD on the tf-idf trap).
    """
    b = _bucket_col(id_col, salt)
    w = F.col(weight) if isinstance(weight, str) else weight
    p = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(1.0))
    thr = F.floor(p * F.lit(float(N_BUCKETS))).cast("long")
    return df.where(b < thr)


def weighted_sample_sql(
    source: str,
    weight_expr: str,
    salt: str = "wsample:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`weighted_sample`; ``weight_expr`` must be
    the dialect-shared rendering of the Spark weight column."""
    b = _bucket_sql(id_col, salt)
    p = f"least(greatest(CAST(({weight_expr}) AS DOUBLE), 0.0), 1.0)"
    return (
        f"SELECT * FROM {source} "
        f"WHERE {b} < CAST(floor({p} * {float(N_BUCKETS)!r}) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------


def pack_shards(
    docs: DataFrame, budget_tokens: int = 100_000, group_col: str = "source"
) -> DataFrame:
    """(doc_id, <group_col>, n_tokens, shard_id): greedily pack
    documents into shards of ~``budget_tokens`` whitespace tokens.

    The training-data sharding step: downstream loaders want
    bounded-size shards, not one giant file per source. Packing is
    PARTITION-SCOPED (one window per ``group_col`` value) — a single
    global running sum would serialize the whole corpus through one
    reducer, so at 100 TB you shard within an existing grouping
    (source/domain/split) and the shuffle stays uniform on that key.

    Assignment is deterministic and execution-independent: docs are
    ordered by their id's string form (NULLS FIRST, ties by
    n_tokens — tied rows are interchangeable, so running sums are
    permutation-invariant), and a doc's shard is
    ``floor(tokens_before_it / budget)``; a shard may overrun the
    budget by at most one document (standard offset packing).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    from ocr_spark.functions.text import words_col

    # NON-EMPTY tokens only: split() yields '' for leading/trailing
    # whitespace and for empty text — counting those would let a pile
    # of empty docs consume real shard capacity.
    n_tok = F.coalesce(
        F.size(F.filter(words_col(), lambda x: x != F.lit(""))), F.lit(0)
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("doc_id").cast("string").asc_nulls_first(), F.col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", group_col, n_tok.alias("n_tokens"))
        .withColumn("_run", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            group_col,
            "n_tokens",
            F.expr(f"(_run - n_tokens) div {int(budget_tokens)}").alias("shard_id"),
        )
    )


def pack_shards_sql(
    table: str = "documents",
    budget_tokens: int = 100_000,
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`pack_shards` (ROWS frame + NULLS FIRST
    pinned; ``//`` mirrors Spark's integer ``div``)."""
    from ocr_spark.schema import WS

    return f"""
      SELECT doc_id, {group_col}, n_tokens,
             CAST((_run - n_tokens) // {int(budget_tokens)} AS BIGINT) AS shard_id
      FROM (
        SELECT doc_id, {group_col}, n_tokens,
               sum(n_tokens) OVER (
                 PARTITION BY {group_col}
                 ORDER BY CAST(doc_id AS VARCHAR) ASC NULLS FIRST,
                          n_tokens ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run
        FROM (
          SELECT doc_id, {group_col},
                 coalesce(CAST(len(list_filter(
                   regexp_split_to_array(text, '{WS}+'), x -> x != '')) AS INT), 0)
                   AS n_tokens
          FROM {table}
        )
      )
    """


def pack_shards_global(
    docs: DataFrame, budget_tokens: int = 100_000, partitions: int = 64
) -> DataFrame:
    """(doc_id, n_tokens, shard_id): :func:`pack_shards` without a
    group column — ONE packing sequence over the whole corpus.

    A naive global running sum is a single-reducer window (the whole
    corpus through one task). This is the scale shape instead — the
    classic distributed prefix sum:

    1. range-partition by the packing order (id-string), so partitions
       hold disjoint, ordered key ranges;
    2. per-partition running sums (parallel windows);
    3. per-partition TOTALS to the driver (``partitions`` rows — an
       operator-scale collect), cumulative offsets back as literals;
    4. global running sum = local sum + own partition's offset.

    The result is partition-count-invariant: the global prefix sum
    depends only on the total order (id-string ASC NULLS FIRST, ties
    by n_tokens — tied rows are interchangeable), not on where the
    range boundaries land. Verified against a single-window DuckDB
    twin (:func:`pack_shards_global_sql`).

    The returned frame reads from a persisted intermediate (the
    range-partitioned local sums — persisted so the offset collect
    and the output share one identical partitioning); unpersist via
    ``spark.catalog.clearCache()`` after the result is written.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    from ocr_spark.functions.text import words_col

    n_tok = F.coalesce(
        F.size(F.filter(words_col(), lambda x: x != F.lit(""))), F.lit(0)
    )
    key = F.col("doc_id").cast("string")
    base = (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .repartitionByRange(partitions, key.asc_nulls_first(), F.col("n_tokens"))
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(key.asc_nulls_first(), F.col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("_run", F.sum("n_tokens").over(w)).persist()
    # operator-scale collect: one (pid, total) row per partition
    totals = {
        r._pid: r.total
        for r in local.groupBy("_pid").agg(F.sum("n_tokens").alias("total")).collect()
    }
    offset, offsets = 0, {}
    for pid in sorted(totals):
        offsets[pid] = offset
        offset += totals[pid]
    off_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
            ),
            F.col("_pid"),
        )
        if offsets
        else F.lit(0)
    )
    # integer div, not float division: a corpus-wide running sum can
    # pass 2^53 where double division would round
    return local.withColumn("_off", off_expr).select(
        "doc_id",
        "n_tokens",
        F.expr(f"(_run - n_tokens + _off) div {int(budget_tokens)}").alias("shard_id"),
    )


def pack_shards_global_sql(
    table: str = "documents", budget_tokens: int = 100_000
) -> str:
    """DuckDB twin of :func:`pack_shards_global` — the single global
    window the distributed version reconstructs."""
    from ocr_spark.schema import WS

    return f"""
      SELECT doc_id, n_tokens,
             CAST((_run - n_tokens) // {int(budget_tokens)} AS BIGINT) AS shard_id
      FROM (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                 ORDER BY CAST(doc_id AS VARCHAR) ASC NULLS FIRST,
                          n_tokens ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run
        FROM (
          SELECT doc_id,
                 coalesce(CAST(len(list_filter(
                   regexp_split_to_array(text, '{WS}+'), x -> x != '')) AS INT), 0)
                   AS n_tokens
          FROM {table}
        )
      )
    """


# ---------------------------------------------------------------------------
# temperature-based source mixing
# ---------------------------------------------------------------------------

# sqrt(n) is scaled by 2^20 and floored to an INTEGER weight so the
# cross-source weight sum is an exact BIGINT — a float sum's value
# depends on accumulation order and could flip threshold compares
# between engines / runs.
W_SCALE = 1 << 20


def temperature_mix(
    df: DataFrame,
    budget_frac: float,
    alpha: float = 0.5,
    source_col: str = "source",
    salt: str = "tmix:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source rebalancing: sample the corpus down to
    ~``budget_frac`` of its rows with per-source rates proportional to
    ``n_s^alpha / n_s`` — the standard training-mix move (alpha < 1
    up-weights small sources relative to their share; alpha = 1 is
    uniform sampling, alpha = 0 equalizes source totals). Expected
    kept rows from source s: ``budget_frac * N * w_s / sum(w)`` with
    ``w_s = n_s^alpha`` (capped at n_s by the p <= 1 clamp; the cap
    shifts the realized total slightly below budget when a small
    source saturates — by design, it cannot be over-sampled).

    Determinism/parity: per-source weights are ``floor(n^alpha *
    2^20)`` integers (exact BIGINT sum — float sums are accumulation-
    order-dependent), the keep rule is the same content-hash Bernoulli
    as :func:`weighted_sample`, and ``alpha = 0.5`` renders as
    ``sqrt`` (exact-rounded in both engines). Other alphas use
    ``power`` — engine libm may differ in the last ulp, which can
    flip a doc exactly at a threshold boundary; the contract pins 0.5.

    NULL sources group under '' (documented merge with a genuinely
    empty-string source). Scale shape: one count shuffle over sources,
    a broadcast scalar total, one join of the tiny per-source rate
    table back on the source key (AQE broadcasts it; salt heavy
    domains upstream if the source key itself is shuffle-skewed), and
    the scan-stage hash filter.
    """
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError("budget_frac must be in (0, 1]")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    for helper in ("_src_key", "_p_keep"):
        if helper in df.columns:
            raise ValueError(f"input already has a {helper} column")
    w_expr = (
        f"sqrt(CAST(n AS DOUBLE))" if alpha == 0.5
        else f"power(CAST(n AS DOUBLE), {alpha!r})"
    )
    keyed = df.withColumn(
        "_src_key", F.coalesce(F.col(source_col).cast("string"), F.lit(""))
    )
    counts = (
        keyed.groupBy("_src_key")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "iw",
            F.expr(f"CAST(floor({w_expr} * {float(W_SCALE)!r}) AS BIGINT)"),
        )
    )
    totals = counts.agg(
        F.sum("iw").alias("sum_iw"), F.sum("n").alias("n_total")
    )
    # fixed association: ((iw * frac) * n_total) / (sum_iw * n) — the
    # SQL twin must render the same tree for bit-identical doubles
    rate = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "_src_key",
            F.expr(
                f"least(1.0d, ((CAST(iw AS DOUBLE) * {budget_frac!r}d) "
                "* CAST(n_total AS DOUBLE)) "
                "/ (CAST(sum_iw AS DOUBLE) * CAST(n AS DOUBLE)))"
            ).alias("_p_keep"),
        )
    )
    b = _bucket_col(id_col, salt)
    thr = F.floor(F.col("_p_keep") * F.lit(float(N_BUCKETS))).cast("long")
    return (
        keyed.join(rate, "_src_key")
        .where(b < thr)
        .drop("_src_key", "_p_keep")
    )


def temperature_mix_sql(
    table: str = "documents",
    budget_frac: float = 0.5,
    alpha: float = 0.5,
    source_col: str = "source",
    salt: str = "tmix:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`temperature_mix` — same integer weights,
    same association tree, same hash threshold."""
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError("budget_frac must be in (0, 1]")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    w_expr = (
        "sqrt(CAST(n AS DOUBLE))" if alpha == 0.5
        else f"power(CAST(n AS DOUBLE), {alpha!r})"
    )
    b = _bucket_sql(id_col, salt)
    return f"""
      WITH keyed AS (
        SELECT *, coalesce(CAST({source_col} AS VARCHAR), '') AS _src_key
        FROM {table}
      ),
      counts AS (
        SELECT _src_key, count(*) AS n,
               CAST(floor({w_expr} * {float(W_SCALE)!r}) AS BIGINT) AS iw
        FROM keyed GROUP BY _src_key
      ),
      tot AS (
        SELECT CAST(sum(iw) AS BIGINT) AS sum_iw,
               CAST(sum(n) AS BIGINT) AS n_total
        FROM counts
      ),
      rate AS (
        SELECT _src_key,
               least(1.0, ((CAST(iw AS DOUBLE) * {budget_frac!r}) *
                 CAST(n_total AS DOUBLE)) /
                 (CAST(sum_iw AS DOUBLE) * CAST(n AS DOUBLE))) AS _p_keep
        FROM counts, tot
      )
      SELECT * EXCLUDE (_src_key, _p_keep)
      FROM keyed JOIN rate USING (_src_key)
      WHERE {b} < CAST(floor(_p_keep * {float(N_BUCKETS)!r}) AS BIGINT)
    """


# ---------------------------------------------------------------------------
# mixture plan (per-source token budget / epoch factors)
# ---------------------------------------------------------------------------


def _mixture_targets(
    weights: dict[str, float], budget_tokens: int
) -> dict[str, int]:
    """Per-source target token counts: floor(budget * normalized
    weight), computed ONCE in Python so the one float multiply can
    never diverge between engines (both receive integer literals)."""
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: w for k, w in weights.items() if not w >= 0}
    if bad:
        raise ValueError(f"weights must be >= 0, got {bad}")
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum to > 0")
    import math

    return {
        src: int(math.floor(budget_tokens * (w / wsum)))
        for src, w in weights.items()
    }


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group_col: str = "source",
) -> DataFrame:
    """(source, n_docs, n_tokens, target_tokens, epochs): the
    data-mixing plan — given target mixture weights per source and a
    total training token budget, how many tokens each source must
    contribute (``floor(budget * w / sum(w))``) and the repeat factor
    over its actual inventory (``epochs = target / inventory``; > 1
    means the source is up-sampled across epochs, the DoReMi/
    Pile-style mixture application).

    Every source present in the corpus appears in the output — a
    source missing from ``weights`` gets target 0 (explicitly listed,
    never silently dropped), and a weighted source with an empty
    inventory reports epochs 0 rather than dividing by zero. One
    partial-agg shuffle on ``group_col``; output is one row per
    source, driver-safe at any corpus size.
    """
    targets = _mixture_targets(weights, budget_tokens)
    from ocr_spark.functions.text import words_col

    n_tok = F.coalesce(
        F.size(F.filter(words_col(), lambda x: x != F.lit(""))), F.lit(0)
    )
    # applied post-agg, where the group column is aliased to `source`
    target = _target_case_col(targets)
    agg = (
        docs.select(F.col(group_col).alias("source"), n_tok.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    from ocr_spark.functions.text import floor6

    epochs = F.when(
        F.col("n_tokens") > 0,
        floor6(
            F.col("target_tokens").cast("double") / F.col("n_tokens").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    return (
        agg.withColumn("target_tokens", target.cast("long"))
        .withColumn("epochs", epochs)
        .select("source", "n_docs", "n_tokens", "target_tokens", "epochs")
    )


def mixture_plan_sql(
    weights: dict[str, float],
    budget_tokens: int,
    table: str = "documents",
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`mixture_plan` — identical integer target
    literals (the normalize-and-floor runs once, in Python), identical
    BIGINT/BIGINT double division and floor6 rounding."""
    from ocr_spark.schema import WS

    from ocr_spark.functions.text import floor6_sql

    targets = _mixture_targets(weights, budget_tokens)
    # the CASE runs over agg, where the group column is aliased `source`
    tcase = _target_case_sql(targets)
    floor6_epochs = floor6_sql(
        f"CAST({tcase} AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    )
    return f"""
      WITH counted AS (
        SELECT {group_col} AS source,
               coalesce(CAST(len(list_filter(
                 regexp_split_to_array(text, '{WS}+'), x -> x != '')) AS INT), 0)
                 AS _nt
        FROM {table}
      ),
      agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(_nt) AS BIGINT) AS n_tokens
        FROM counted GROUP BY source
      )
      SELECT source, n_docs, n_tokens,
             {tcase} AS target_tokens,
             CASE WHEN n_tokens > 0 THEN
               {floor6_epochs}
             ELSE 0.0 END AS epochs
      FROM agg
    """


# ---------------------------------------------------------------------------
# deterministic global shuffle (training order)
# ---------------------------------------------------------------------------


def shuffle_order(
    df: DataFrame,
    n_shards: int = 64,
    salt: str = "shuffle:v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every row a deterministic global-shuffle position:
    adds ``shard`` (0..n_shards-1) and ``pos`` (0-based rank within
    the shard).

    Training loaders need the corpus in a *fixed random order* — epoch
    reproducibility, resumable iteration, and no adjacency bias from
    crawl/ingest order. ``orderBy(rand())`` is execution-dependent
    (per-partition seeds; a retry reorders the epoch) and a single
    global sort serializes the corpus through one reducer. This is the
    content-hash shuffle every large pipeline ships instead: the sort
    key is ``H(salt || id)``, so the permutation is a property of the
    rows — stable under retries, repartitioning, resume, and identical
    on any cluster size — and the global order is (shard asc, pos asc)
    while each shard sorts independently (~n/n_shards rows), keeping
    the one shuffle uniform on the shard key.

    Reading order ``(shard, pos)`` == reading the whole corpus sorted
    by the 60-bit hash: shard is the hash mod n_shards, so
    concatenating shards in shard order is itself a fixed (if slightly
    coarser) hash permutation; a loader that interleaves shards gets
    the standard shuffled-shard training order. Salt rotation
    (``shuffle:v2``...) yields an independent permutation per epoch.

    Hash ties (60-bit collisions) break on the id's string form, NULL
    ids hash as '' (one deterministic bucket, never dropped).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = md5_long(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    )
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    w = Window.partitionBy("shard").orderBy(
        F.col("_shuffle_key").asc(), id_str.asc()
    )
    return (
        df.withColumn("_shuffle_key", key)
        .withColumn("shard", (F.col("_shuffle_key") % n_shards).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("_shuffle_key")
    )


def shuffle_order_sql(
    source: str,
    n_shards: int = 64,
    salt: str = "shuffle:v1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`shuffle_order` (same hash, same
    tie-break; returns ``SELECT *, shard, pos``)."""
    s = salt.replace("'", "''")
    keyed = f"'{s}:' || coalesce(CAST({id_col} AS VARCHAR), '')"
    key = md5_long_sql(keyed)
    return f"""
      SELECT * EXCLUDE (_shuffle_key),
             CAST(_shuffle_key % {n_shards} AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY _shuffle_key % {n_shards}
               ORDER BY _shuffle_key ASC,
                        coalesce(CAST({id_col} AS VARCHAR), '') ASC
             ) - 1 AS BIGINT) AS pos
      FROM (SELECT *, {key} AS _shuffle_key FROM {source})
    """


def curriculum_order(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    n_shards: int = 64,
    salt: str = "curriculum:v1",
) -> DataFrame:
    """(doc_id, bucket, bucket_rank, shard, pos): deterministic
    curriculum training order — CCNet fluency terciles easiest-first
    (head=0, middle=1, tail=2), content-hash shuffled WITHIN each
    bucket. Global reading order is (bucket_rank, shard, pos): the
    loader streams the most-fluent third first and still sees a fixed
    random permutation inside every difficulty band (the
    :func:`shuffle_order` discipline — stable under retries, resume,
    and cluster size; salt rotation gives an independent within-bucket
    permutation per epoch).

    Scale shape: the fluency subtree is
    :func:`ocr_spark.functions.lm.fluency_buckets` (checkpointed LM
    scoring + broadcast thresholds); ordering adds one window sort
    partitioned by (bucket, shard) — 3 * n_shards uniform partitions,
    never three whole-corpus reducers (the reason pos is per-shard:
    partitioning the sort by bucket alone would serialize each third
    through one task at corpus scale).
    """
    from ocr_spark.functions.lm import fluency_buckets

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    b = fluency_buckets(docs, lm_docs).select("doc_id", "bucket")
    key = md5_long(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(F.col("doc_id").cast("string"), F.lit("")),
        )
    )
    id_str = F.coalesce(F.col("doc_id").cast("string"), F.lit(""))
    rank = (
        F.when(F.col("bucket") == "head", 0)
        .when(F.col("bucket") == "middle", 1)
        .otherwise(2)
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.col("_ck").asc(), id_str.asc()
    )
    return (
        b.withColumn("_ck", key)
        .withColumn("shard", (F.col("_ck") % n_shards).cast("int"))
        .withColumn("bucket_rank", rank.cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "bucket", "bucket_rank", "shard", "pos")
    )


def curriculum_order_sql(
    table: str = "documents",
    lm_table: str | None = None,
    n_shards: int = 64,
    salt: str = "curriculum:v1",
) -> str:
    """DuckDB twin of :func:`curriculum_order` — composes the
    fluency_buckets twin, same hash/tie-break window."""
    from ocr_spark.functions.lm import fluency_buckets_sql

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    s = salt.replace("'", "''")
    key = md5_long_sql(f"'{s}:' || coalesce(CAST(doc_id AS VARCHAR), '')")
    return f"""
      WITH b AS (
        SELECT doc_id, bucket FROM ({fluency_buckets_sql(table, lm_table)})
      ),
      keyed AS (
        SELECT doc_id, bucket, {key} AS _ck,
               CASE bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1
                    ELSE 2 END AS bucket_rank
        FROM b
      )
      SELECT doc_id, bucket, CAST(bucket_rank AS INT) AS bucket_rank,
             CAST(_ck % {n_shards} AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY bucket, _ck % {n_shards}
               ORDER BY _ck ASC,
                        coalesce(CAST(doc_id AS VARCHAR), '') ASC
             ) - 1 AS BIGINT) AS pos
      FROM keyed
    """


# ---------------------------------------------------------------------------
# leakage-safe grouped split + mixture-plan execution
# ---------------------------------------------------------------------------


def dataset_split_by_group(
    df: DataFrame,
    group_col: str = "source",
    weights: dict[str, float] | None = None,
    salt: str = "gsplit:v1",
) -> DataFrame:
    """Leakage-safe split: the assignment hashes the GROUP key (domain
    / source / site), so every row of a group lands in the SAME split.
    Near-duplicate documents overwhelmingly share a domain — a per-doc
    split scatters them across train and test, leaking training
    content into eval; hashing the group closes that channel (the
    held-out-domains evaluation split). Same zero-shuffle scan-stage
    codegen as :func:`dataset_split`; NULL groups hash as one
    deterministic group (all NULL-group rows co-assign)."""
    return dataset_split(df, weights, salt, id_col=group_col)


def dataset_split_by_group_sql(
    source: str,
    group_col: str = "source",
    weights: dict[str, float] | None = None,
    salt: str = "gsplit:v1",
) -> str:
    """DuckDB twin of :func:`dataset_split_by_group`."""
    return dataset_split_sql(source, weights, salt, id_col=group_col)


def _target_case_col(targets: dict[str, int]):
    """CASE source -> integer target-token literal (0 for unlisted)."""
    t = F.lit(0).cast("long")
    for src, v in sorted(targets.items()):
        t = F.when(F.col("source") == src, F.lit(v)).otherwise(t)
    return t.cast("long")


def _target_case_sql(targets: dict[str, int]) -> str:
    arms = " ".join(
        f"WHEN source = '{src}' THEN CAST({v} AS BIGINT)"
        for src, v in sorted(targets.items())
    )
    return f"(CASE {arms} ELSE CAST(0 AS BIGINT) END)"


def apply_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group_col: str = "source",
    salt: str = "mixapply:v1",
    id_col: str = "doc_id",
    max_epochs: int = 64,
    check_coverage: bool = False,
) -> DataFrame:
    """EXECUTE the :func:`mixture_plan`: materialize the epoch-
    repeated, fractionally-sampled training mix. Every kept row is the
    original document plus an ``epoch`` column; a source whose target
    is ``e.f`` epochs of its inventory emits each doc ``e`` times
    (epochs 0..e-1) plus one fractional epoch ``e`` where the doc is
    kept with probability ``f`` by the content-hash Bernoulli — so the
    realized token count matches the target in expectation, exactly
    reproducibly (retry/resume/repartition-invariant).

    Semantics pinned by tests: sources absent from ``weights`` (and
    NULL-group rows) are DROPPED — the mixture defines the corpus;
    ``max_epochs`` clamps up-sampling (a clamped source emits exactly
    max_epochs full epochs, no fractional epoch). The converse hole —
    a WEIGHTED source absent from the corpus (e.g. a typo'd name)
    silently contributes nothing and its budget share simply vanishes
    — is closed by ``check_coverage=True``, which runs one extra
    distinct-scan of the group column at call time and raises
    ValueError naming the missing sources (off by default because the
    scan doubles the corpus reads; turn it on in jobs, leave it off
    when composing lazily).

    Integer-exact cross-engine: ``full = target div inventory`` and
    the fractional threshold ``((target mod inv) * 10k) div inv`` are
    BIGINT arithmetic (valid while a source's inventory stays under
    ~9.2e14 tokens ≈ 3.7 PB of text — beyond that the threshold
    multiply overflows int64; shard the mixture by sub-source first).

    Scale shape: one partial-agg shuffle over ``group_col`` for the
    inventory, a broadcast of the |sources|-row plan, then the
    repeat-explode and hash filter ride the scan stage — no further
    shuffle, and the explode factor is bounded by ``max_epochs``.
    """
    targets = _mixture_targets(weights, budget_tokens)
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    for helper in ("_mix_src", "_full", "_thresh", "epoch"):
        if helper in docs.columns:
            raise ValueError(f"input already has a {helper} column")
    if check_coverage:
        present = {
            r[0]
            for r in docs.select(F.col(group_col).alias("source"))
            .distinct()
            .collect()
        }
        missing = sorted(set(weights) - present)
        if missing:
            raise ValueError(
                f"weighted source(s) {missing} absent from the corpus — "
                "their budget share would silently vanish"
            )
    from ocr_spark.functions.text import words_col

    n_tok = F.coalesce(
        F.size(F.filter(words_col(), lambda x: x != F.lit(""))), F.lit(0)
    )
    plan = (
        docs.select(F.col(group_col).alias("source"), n_tok.alias("_nt"))
        .groupBy("source")
        .agg(F.sum("_nt").cast("long").alias("_inv"))
        .withColumn("_target", _target_case_col(targets))
        .withColumn(
            "_full",
            F.when(
                F.col("_inv") > 0,
                F.least(F.expr("_target div _inv"), F.lit(max_epochs).cast("long")),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "_thresh",
            F.when(
                (F.col("_inv") > 0) & (F.col("_full") < max_epochs),
                F.expr(f"((_target % _inv) * {N_BUCKETS}) div _inv"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(F.col("source").alias("_mix_src"), "_full", "_thresh")
    )
    joined = docs.join(
        F.broadcast(plan), F.col(group_col) == F.col("_mix_src"), "inner"
    )
    epoch = F.explode(F.sequence(F.lit(0).cast("long"), F.col("_full")))
    b = _bucket_col(id_col, salt)
    return (
        joined.withColumn("epoch", epoch)
        .where((F.col("epoch") < F.col("_full")) | (b < F.col("_thresh")))
        .drop("_mix_src", "_full", "_thresh")
    )


def apply_mixture_sql(
    weights: dict[str, float],
    budget_tokens: int,
    table: str = "documents",
    group_col: str = "source",
    salt: str = "mixapply:v1",
    id_col: str = "doc_id",
    max_epochs: int = 64,
    id_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`apply_mixture`, projected to
    (doc_id, source, epoch). ``//`` floors vs Spark's truncating
    ``div``, but every operand is non-negative here, so they agree."""
    targets = _mixture_targets(weights, budget_tokens)
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    from ocr_spark.schema import WS

    tcase = _target_case_sql(targets)
    rendered_id = id_sql if id_sql is not None else f"CAST(d.{id_col} AS BIGINT)"
    b = _bucket_sql(f"d.{id_col}", salt)
    full_expr = (
        f"CASE WHEN _inv > 0 THEN least(_target // _inv, {max_epochs}) "
        f"ELSE 0 END"
    )
    return f"""
      WITH counted AS (
        SELECT {group_col} AS source,
               coalesce(CAST(len(list_filter(
                 regexp_split_to_array(text, '{WS}+'), x -> x != '')) AS INT), 0)
                 AS _nt
        FROM {table}
      ),
      agg AS (
        SELECT source, CAST(sum(_nt) AS BIGINT) AS _inv
        FROM counted GROUP BY source
      ),
      plan AS (
        SELECT source, CAST({full_expr} AS BIGINT) AS _full,
               CAST(CASE WHEN _inv > 0 AND ({full_expr}) < {max_epochs}
                    THEN ((_target % _inv) * {N_BUCKETS}) // _inv
                    ELSE 0 END AS BIGINT) AS _thresh
        FROM (SELECT source, _inv, {tcase} AS _target FROM agg)
      ),
      exploded AS (
        SELECT {rendered_id} AS doc_id, d.{group_col} AS source,
               gs.epoch AS epoch,
               p._full AS _full, p._thresh AS _thresh, {b} AS _b
        FROM {table} d
        JOIN plan p ON d.{group_col} = p.source,
        LATERAL unnest(generate_series(0, p._full)) AS gs(epoch)
      )
      SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
      FROM exploded WHERE epoch < _full OR _b < _thresh
    """


def dataset_split_by_cluster(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "csplit:v1",
    **cluster_kwargs,
) -> DataFrame:
    """Near-dup-leakage-safe split: every member of a near-duplicate
    CLUSTER co-assigns to one split. A per-doc split puts two 0.9-
    Jaccard near-copies on opposite sides of train/test — the exact
    leak near-dup dedup exists to stop; hashing the cluster label
    (min-id rep from :func:`ocr_spark.functions.dedup.dup_clusters`)
    closes it without dropping anything. Docs in no cluster split by
    their own id (a singleton IS its own cluster).

    ``cluster_kwargs`` pass through to ``dup_clusters`` (w/tau/k/
    bands/max_bucket). Scale shape: the cluster pass is the
    standard LSH-verify-CC composition; the split itself stays a
    scan-stage hash over the coalesced key after one doc_id-keyed
    left join.
    """
    from ocr_spark.functions.dedup import dup_clusters

    if "_split_key" in df.columns or "cluster_rep" in df.columns:
        raise ValueError("input already has a _split_key/cluster_rep column")
    clusters = dup_clusters(df, **cluster_kwargs)
    keyed = df.join(clusters, "doc_id", "left").withColumn(
        "_split_key",
        F.coalesce(
            F.col("cluster_rep").cast("string"), F.col("doc_id").cast("string")
        ),
    )
    return dataset_split(keyed, weights, salt, id_col="_split_key").drop(
        "_split_key", "cluster_rep"
    )


def dataset_split_by_cluster_sql(
    table: str = "documents",
    weights: dict[str, float] | None = None,
    salt: str = "csplit:v1",
    id_sql: str = "CAST(doc_id AS BIGINT)",
    **cluster_kwargs,
) -> str:
    """DuckDB twin of :func:`dataset_split_by_cluster`, projected to
    (doc_id, split). ``id_sql`` reaches the embedded cluster pass too
    (string-id corpora pass ``id_sql="doc_id"``, matching the Spark
    side's id-type-agnostic handling); one ``cluster_kwargs`` dict
    drives both twins."""
    from ocr_spark.functions.dedup import dup_clusters_sql

    inner = f"""(
      SELECT d.*, coalesce(CAST(c.cluster_rep AS VARCHAR),
                           CAST(d.doc_id AS VARCHAR)) AS _split_key
      FROM {table} d
      LEFT JOIN ({dup_clusters_sql(table, id_sql=id_sql.replace("d.", ""), **cluster_kwargs)}) c
        USING (doc_id)
    )"""
    split = dataset_split_sql(inner, weights, salt, id_col="_split_key")
    return f"SELECT {id_sql} AS doc_id, split FROM ({split}) d"
