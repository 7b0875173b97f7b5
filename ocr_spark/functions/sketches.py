"""Fixed-size sketches that compose at 100 TB.

Each sketch shuffles a fixed-size table no matter how large the data
is:

- count-min (``cms_*``): approximate token frequencies, one-sided
  over-estimates;
- HDR histogram (``hist_*``): quantiles with bounded relative error;
- bottom-k (``source_overlap``): pairwise source-overlap estimates.

Count-min and histogram sketches built independently per shard/day
merge (``*_merge``) into exactly the sketch a single pass would have
built, so daily jobs keep running summaries without
reprocessing history. Hashing and binning are integer work, so each
sketch table is deterministic and has an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# count-min sketch (approximate frequencies, mergeable)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # hash rows; error probability decays as (1/2)^depth-ish
CMS_WIDTH = 1024  # cells per row; over-estimate ~ n_items / width

# The exact top-k (text.vocab_topk) shuffles every distinct token;
# the CMS shuffles a FIXED depth*width cell table no matter how large
# the vocabulary is, and sketches built per shard/day merge by cell
# addition into exactly the single-pass sketch. Estimates are
# one-sided: estimate >= true count, over by at most the collision
# mass in the sketch cell. Hashing is the repo's portable salted md5
# fold, so the sketch TABLE itself is deterministic and cross-engine
# oracle-checkable (unlike probabilistic-seed implementations).


def _cms_cells(col_expr, depth: int, width: int, salt: str):
    from ocr_spark.functions.hashing import md5_long

    v = F.coalesce(col_expr.cast("string"), F.lit(""))
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (md5_long(F.concat(F.lit(f"{salt}:{i}:"), v)) % width).alias(
                    "cell"
                ),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = "cms:v1",
) -> DataFrame:
    """(row, cell, n): the count-min sketch table of ``col`` — one
    scan (each value expands to ``depth`` cells in-plan), one shuffle
    of at most depth*width groups with map-side partials."""
    return (
        df.select(F.explode(_cms_cells(F.col(col), depth, width, salt)).alias("c"))
        .select("c.row", "c.cell")
        .groupBy("row", "cell")
        .agg(F.count("*").alias("n"))
    )


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge shard sketch tables by cell addition — equals the
    single-pass sketch EXACTLY (counter addition is associative).

    CALLER CONTRACT: every input sketch must have been built with the
    SAME (depth, width, salt). The cell table carries no parameter
    metadata (unlike HLL, where DataSketches embeds lg_k in the
    binary and the union validates it), so merging incompatible
    sketches returns a well-formed but meaningless table with no
    error. Persist the parameters next to persisted sketches."""
    return sketches.groupBy("row", "cell").agg(F.sum("n").alias("n"))


def cms_estimate(
    sketch: DataFrame,
    df: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = "cms:v1",
) -> DataFrame:
    """(value, estimate): point-query estimates for the distinct
    values of ``df.col`` — min over the value's ``depth`` cells
    (absent cell = 0). Broadcast-friendly: the sketch is at most
    depth*width rows."""
    hashed = (
        df.select(F.col(col).alias("value"))
        .distinct()
        .select(
            "value",
            F.explode(_cms_cells(F.col("value"), depth, width, salt)).alias("c"),
        )
        .select("value", "c.row", "c.cell")
    )
    return (
        hashed.join(F.broadcast(sketch), ["row", "cell"], "left")
        .fillna(0, ["n"])
        .groupBy("value")
        .agg(F.min("n").alias("estimate"))
    )


def cms_build_sql(
    values_source: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = "cms:v1",
) -> str:
    """DuckDB twin of :func:`cms_build`; ``values_source`` must yield
    one column named ``v``."""
    from ocr_spark.functions.hashing import md5_long_sql

    s = salt.replace("'", "''")
    h = md5_long_sql(
        f"'{s}:' || CAST(r.i AS VARCHAR) || ':' || coalesce(CAST(v AS VARCHAR), '')"
    )
    return f"""
      SELECT row, cell, count(*) AS n FROM (
        SELECT r.i AS row, {h} % {width} AS cell
        FROM {values_source} CROSS JOIN range(0, {depth}) r(i)
      ) GROUP BY row, cell
    """


# ---------------------------------------------------------------------------
# mergeable quantile sketch (HDR-histogram binning, integer-exact)
# ---------------------------------------------------------------------------

HIST_SUB_BITS = 5  # sub-buckets per power of two; relative error <= 2^-5


def _hist_bin_expr(v: str, m: int) -> str:
    """Spark SQL: BIGINT -> histogram bin id. NULL and v <= 0 map to
    bin 0; small values 1 <= v < 2^(m+1) get UNIT bins (bin = v,
    exact — the standard HDR small-value regime; naively keeping the
    MSB in the sub-bits here double-counts 2^e in the representative,
    up to 100% error, the session-9 review catch); larger values map
    to ((e << m) | sub) + 1 with e = floor(log2 v) via
    length(bin(v)) - 1 (no libm: the binary-string length IS the
    exponent, identically in both engines) and sub = the m bits below
    the MSB. Bin ids are monotone in v: the first geometric bin
    (e = m + 1) starts at (m+1)·2^m + 1 > 2^(m+1) - 1, the last unit
    bin."""
    e = f"(length(bin({v})) - 1)"
    sub = f"(shiftright({v}, {e} - {m}) & {(1 << m) - 1})"
    return (
        f"CASE WHEN {v} IS NULL OR {v} <= 0 THEN CAST(0 AS BIGINT) "
        f"WHEN {v} < {1 << (m + 1)} THEN CAST({v} AS BIGINT) "
        f"ELSE CAST((({e} * {1 << m}) | {sub}) + 1 AS BIGINT) END"
    )


def _hist_bin_sql(v: str, m: int) -> str:
    """DuckDB twin of :func:`_hist_bin_expr`."""
    e = f"(length(bin({v})) - 1)"
    sub = f"((({v}) >> ({e} - {m})) & {(1 << m) - 1})"
    return (
        f"CASE WHEN {v} IS NULL OR {v} <= 0 THEN CAST(0 AS BIGINT) "
        f"WHEN {v} < {1 << (m + 1)} THEN CAST({v} AS BIGINT) "
        f"ELSE CAST((({e} * {1 << m}) | {sub}) + 1 AS BIGINT) END"
    )


def _hist_rep_expr(bin_col: str, m: int) -> str:
    """Bin id -> representative value (the bin's LOWER bound; exact
    for the unit-bin regime bin < 2^(m+1), where bin == value).
    Dialect-shared pure integer shifts."""
    b = f"({bin_col} - 1)"
    e = f"({b} div {1 << m})"
    sub = f"({b} % {1 << m})"
    return (
        f"CASE WHEN {bin_col} < {1 << (m + 1)} THEN CAST({bin_col} AS BIGINT) "
        f"ELSE CAST(shiftleft(CAST({1 << m} AS BIGINT) + {sub}, CAST({e} - {m} AS INT)) AS BIGINT) END"
    )


def _hist_rep_sql(bin_col: str, m: int) -> str:
    b = f"({bin_col} - 1)"
    e = f"({b} // {1 << m})"
    sub = f"({b} % {1 << m})"
    return (
        f"CASE WHEN {bin_col} < {1 << (m + 1)} THEN CAST({bin_col} AS BIGINT) "
        f"ELSE CAST((CAST({1 << m} AS BIGINT) + {sub}) << CAST({e} - {m} AS INT) AS BIGINT) END"
    )


def hist_sketch_build(
    df: DataFrame, col: str, sub_bits: int = HIST_SUB_BITS
) -> DataFrame:
    """(bin, n): the HDR-histogram quantile sketch of a non-negative
    BIGINT column — geometric bins with ``2^sub_bits`` linear
    sub-buckets per power of two, so any quantile estimate's relative
    error is <= 2^-sub_bits (~3% at the default 5).

    The mergeable complement to an exact nearest-rank percentile,
    which needs the value multiset per group: this sketch is a FIXED
    <= (64 - sub_bits)·2^sub_bits + 1 row table (~1.9k rows) no
    matter the data size, built with one map-side-partial shuffle,
    and per-shard/day sketches merge by bin addition into exactly the
    single-pass sketch. Binning is pure integer work — floor(log2 v)
    is the binary-string length, no libm — so sketch AND estimates are
    engine-exact and oracle-checkable (the CMS discipline).
    NULLs and values <= 0 occupy the dedicated zero bin (rows are
    never dropped); values below 2^(sub_bits+1) get exact unit bins;
    counts/lengths/latencies are the intended domain."""
    return (
        df.selectExpr(
            f"{_hist_bin_expr(f'CAST({col} AS BIGINT)', sub_bits)} AS bin"
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


def hist_sketch_merge(sketches: DataFrame) -> DataFrame:
    """Merge shard sketches by bin addition — equals the single-pass
    sketch EXACTLY. Same caller contract as cms_merge: all inputs
    must share sub_bits (the bin table carries no parameter
    metadata)."""
    return sketches.groupBy("bin").agg(F.sum("n").alias("n"))


def hist_quantiles(
    sketch: DataFrame,
    qs_permille: tuple = (500, 900, 990),
    sub_bits: int = HIST_SUB_BITS,
) -> DataFrame:
    """(q_permille, est): nearest-rank quantile estimates from the
    sketch — the first bin whose cumulative count reaches
    ceil(q·total), reported as the bin's lower-bound representative.

    Quantiles are permille INTEGERS so the rank threshold is the
    exact integer ceil-division ``(q·total + 999) div 1000`` — no
    float crosses the hash-compared path, and the operands stay
    NON-NEGATIVE because Spark's ``div`` truncates toward zero while
    DuckDB's ``//`` floors: the negate-and-divide ceil idiom silently
    disagrees between engines whenever q·total is not a multiple of
    1000 (caught by the error-bound test, not the divisible-total
    contract corpus). The sketch is localCheckpoint'ed
    (its lineage may be a corpus aggregation; cum and total both
    consume it — the fluency_buckets precedent), then everything runs
    at operator scale: the cumulative window and the q-to-bin
    inequality join touch <= ~1.9k bins x |qs| rows (the one
    sanctioned tiny-side nested loop, the contamination precedent)."""
    from pyspark.sql import Window

    for q in qs_permille:
        if not (0 < q <= 1000):
            raise ValueError(f"q_permille must be in (0, 1000], got {q}")
    sk = sketch.localCheckpoint()
    cum = sk.withColumn("cum", F.sum("n").over(Window.orderBy("bin")))
    total = sk.agg(F.sum("n").alias("total"))
    qs_df = sk.sparkSession.createDataFrame(
        [(int(q),) for q in qs_permille], "q_permille int"
    )
    ranks = qs_df.crossJoin(F.broadcast(total)).select(
        "q_permille", F.expr("(q_permille * total + 999) div 1000").alias("rank")
    )
    return (
        ranks.join(F.broadcast(cum), F.col("cum") >= F.col("rank"), "left")
        .groupBy("q_permille")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q_permille",
            F.expr(_hist_rep_expr("bin", sub_bits)).alias("est"),
        )
    )


def hist_sketch_build_sql(
    values_source: str, sub_bits: int = HIST_SUB_BITS
) -> str:
    """DuckDB twin of :func:`hist_sketch_build`; ``values_source``
    must yield one BIGINT column ``v``."""
    return (
        f"SELECT {_hist_bin_sql('v', sub_bits)} AS bin, "
        f"CAST(count(*) AS BIGINT) AS n FROM ({values_source}) GROUP BY 1"
    )


def hist_quantiles_sql(
    sketch_sql: str,
    qs_permille: tuple = (500, 900, 990),
    sub_bits: int = HIST_SUB_BITS,
) -> str:
    """DuckDB twin of :func:`hist_quantiles` over a sketch subquery."""
    parts = []
    for q in qs_permille:
        if not (0 < q <= 1000):
            raise ValueError(f"q_permille must be in (0, 1000], got {q}")
        parts.append(
            f"SELECT CAST({q} AS INT) AS q_permille, "
            f"{_hist_rep_sql('bin', sub_bits)} AS est FROM ("
            f"SELECT min(bin) AS bin FROM cum "
            f"WHERE cum >= ({q} * total + 999) // 1000)"
        )
    union = " UNION ALL ".join(parts)
    return f"""
      WITH sk AS ({sketch_sql}),
      tot AS (SELECT sum(n) AS total FROM sk),
      cum AS (
        SELECT bin, sum(n) OVER (ORDER BY bin) AS cum, total
        FROM sk CROSS JOIN tot
      )
      {union}
    """


# ---------------------------------------------------------------------------
# bottom-k set sketch: pairwise source-overlap estimation
# ---------------------------------------------------------------------------

BOTTOMK_DEFAULT = 64


def source_overlap(
    docs: DataFrame, k: int = BOTTOMK_DEFAULT, group_col: str = "source"
) -> DataFrame:
    """(source_a, source_b, n_common, k_eff, est_jaccard_permille):
    estimated content Jaccard between every pair of sources — the
    "which feeds mirror each other" curation diagnostic (two crawls of
    the same site, a dataset repackaged under a new name) answered
    WITHOUT any cross-source document join.

    Method: bottom-k set sketch (Cohen & Kaplan 2007; the KMV sketch).
    Per source, keep the k smallest distinct 60-bit content hashes.
    For a pair (A, B), take the k smallest hashes of the sketch UNION
    and count how many belong to both sides: J(A, B) ~ n_common /
    k_eff. For a hash inside the union bottom-k, sketch membership
    equals SET membership (if h were in A but past A's k-th minimum,
    k smaller A-hashes would already fill the union bottom-k), so the
    estimator is the textbook one, and every arithmetic step is exact
    integers — engine-identical, oracle-checkable.

    Scale shape: ONE corpus-scale pass — distinct (source, hash) then
    a per-source bottom-k window (map-side WindowGroupLimit truncation,
    uniform hash ordering). Everything after runs on the sketch table
    (n_sources x k rows), which is localCheckpoint'ed once for its two
    plan references; the pair expansion is the sanctioned tiny-side
    self-join. NULL sources sketch normally but are excluded from the
    pair matrix (a '<' on NULL matches nothing, identically in both
    engines).
    """
    from pyspark.sql import Window

    from ocr_spark.functions.hashing import md5_long

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    per = (
        docs.select(
            F.col(group_col).alias("src"),
            md5_long(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("src").orderBy("h")
    sk = (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("src", "h")
        .localCheckpoint()
    )
    srcs = sk.select("src").distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .where(F.col("a.src") < F.col("b.src"))
        .select(F.col("a.src").alias("sa"), F.col("b.src").alias("sb"))
    )
    ea = pairs.join(sk, F.col("src") == F.col("sa")).select(
        "sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    eb = pairs.join(sk, F.col("src") == F.col("sb")).select(
        "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        ea.unionByName(eb)
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w2 = Window.partitionBy("sa", "sb").orderBy("h")
    ub = u.withColumn("rk", F.row_number().over(w2)).where(F.col("rk") <= k)
    return (
        ub.groupBy("sa", "sb")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_common"),
            F.count("*").cast("long").alias("k_eff"),
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_common",
            "k_eff",
            F.expr("(1000 * n_common) div k_eff").alias("est_jaccard_permille"),
        )
    )


def source_overlap_sql(
    table: str = "documents",
    k: int = BOTTOMK_DEFAULT,
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`source_overlap`; ``table`` must carry
    (``group_col``, text)."""
    from ocr_spark.functions.hashing import md5_long_sql

    h = md5_long_sql("coalesce(text, '')")
    return f"""
      WITH per AS (
        SELECT DISTINCT {group_col} AS src, {h} AS h FROM {table}
      ),
      sk AS (
        SELECT src, h FROM (
          SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rk
          FROM per
        ) WHERE rk <= {k}
      ),
      srcs AS (SELECT DISTINCT src FROM sk),
      pairs AS (
        SELECT a.src AS sa, b.src AS sb FROM srcs a
        JOIN srcs b ON a.src < b.src
      ),
      u AS (
        SELECT sa, sb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
          SELECT p.sa, p.sb, s.h, 1 AS in_a, 0 AS in_b
          FROM pairs p JOIN sk s ON s.src = p.sa
          UNION ALL
          SELECT p.sa, p.sb, s.h, 0 AS in_a, 1 AS in_b
          FROM pairs p JOIN sk s ON s.src = p.sb
        ) GROUP BY sa, sb, h
      ),
      ub AS (
        SELECT * FROM (
          SELECT sa, sb, in_a, in_b,
                 row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
          FROM u
        ) WHERE rk <= {k}
      )
      SELECT sa AS source_a, sb AS source_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
             CAST(count(*) AS BIGINT) AS k_eff,
             (1000 * CAST(sum(in_a * in_b) AS BIGINT)) // count(*)
               AS est_jaccard_permille
      FROM ub GROUP BY sa, sb
    """
