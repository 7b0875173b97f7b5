"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline; broadcast the
  (small) query set against the full corpus — one pass, no shuffle on
  the corpus side, per-partition top-k then a tiny global top-k.
- LSH-bucketed ANN (random hyperplanes): the scale path; vectors are
  bucketed by an n_planes-bit sign signature computed per-row in the
  scan stage, the join is an equi-join on the bucket id, and only
  in-bucket candidates get an exact cosine. At 10^12 rows the bucket
  join replaces the O(n * q) cross product with O(candidates).
- embedding near-dup: banded multi-table LSH (n_bands keys of
  planes_per_band bits); pairs agreeing on >= 1 band get an exact
  cosine, filtered at tau. Bits scale the bucket space, bands keep
  recall.

Cross-engine determinism: all dot products / norms are sequential
left folds over the array (Spark ``aggregate``, DuckDB ``list_reduce``)
after casting each float32 element to double — the resulting doubles
are IEEE-identical, so even top-k *ranking* agrees across engines.
Hyperplane components are literal 3-decimal constants baked from a
seeded LCG, identical in both SQL dialects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.text import floor6, floor6_sql

DIM = 64
# Single-table bucket width for top-k PROBING (ann_lsh_topk): 2^n
# buckets. 4 keeps buckets populated at test SFs; parameterized so a
# production deployment raises it with corpus size.
N_PLANES = 4
# Banded signature for PAIR workloads (embedding_near_dups): n_bands
# independent tables of planes_per_band sign bits each. In-bucket pair
# cost is n^2 / 2^planes_per_band per band; raise planes_per_band with
# corpus size (each +1 bit halves in-bucket pairs) — recall survives
# the narrower buckets because a pair only needs to agree on ONE whole
# band (the same pigeonhole structure as simhash_pairs / minhash LSH).
N_BANDS = 4
PLANES_PER_BAND = 8


def hyperplanes(n: int = N_PLANES, dim: int = DIM, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes with exact 3-decimal
    components in [-0.5, 0.5) — literal-embeddable in both engines.
    Drawn from the repo's shared LCG (hashing.lcg_stream)."""
    from ocr_spark.functions.hashing import lcg_stream

    rng = lcg_stream(seed)
    return [
        [((next(rng) >> 17) % 1000) / 1000.0 - 0.5 for _ in range(dim)]
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# fold helpers
# ---------------------------------------------------------------------------


def _dot_expr(a: str, b: str) -> str:
    """Spark: sequential-fold dot product of two double arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB: same sequential fold (list_reduce is left-to-right;
    prepend the 0.0 init so the first element isn't consumed as init)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str, dim: int = DIM) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), (acc, v) -> acc + v))"
    )


def _plane_lit_expr(plane: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"


def _plane_lit_sql(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + "]"


def bucket_expr(vec: str = "embedding", n: int = N_PLANES) -> str:
    """Spark expr: n-bit sign-signature LSH bucket id (2^n buckets)."""
    planes = hyperplanes(n)
    terms = [
        f"CASE WHEN {_dot_expr(vec, _plane_lit_expr(planes[p]))} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def bucket_sql(vec: str = "embedding", n: int = N_PLANES) -> str:
    planes = hyperplanes(n)
    terms = [
        f"CASE WHEN {_dot_sql(vec, _plane_lit_sql(planes[p]))} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def band_keys_expr(
    vec: str = "embedding",
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> str:
    """Spark expr: array of n_bands sign-signature keys, one per LSH
    table, planes_per_band bits each."""
    planes = hyperplanes(n_bands * planes_per_band)
    keys = []
    for b in range(n_bands):
        terms = [
            f"CASE WHEN {_dot_expr(vec, _plane_lit_expr(planes[b * planes_per_band + p]))} > 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(planes_per_band)
        ]
        keys.append("(" + " + ".join(terms) + ")")
    return "array(" + ", ".join(keys) + ")"


def band_keys_sql(
    vec: str = "embedding",
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> str:
    planes = hyperplanes(n_bands * planes_per_band)
    keys = []
    for b in range(n_bands):
        terms = [
            f"CASE WHEN {_dot_sql(vec, _plane_lit_sql(planes[b * planes_per_band + p]))} > 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(planes_per_band)
        ]
        keys.append("(" + " + ".join(terms) + ")")
    return "[" + ", ".join(keys) + "]"


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------


def cosine_topk(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): exact top-k cosine neighbors
    for the query set vec_id < n_queries (self excluded).

    The query side is broadcast (it is tiny by construction); the
    corpus is scanned once, cosines are codegen'd array folds, and the
    top-k is a per-query window. At cluster scale replace the window
    row_number with a per-partition top-k + global merge; semantics
    identical.
    """
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos = F.expr(_dot_expr("q_emb", "embedding")) / (F.col("q_norm") * F.col("norm"))
    pairs = (
        F.broadcast(q)
        .join(base, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", floor6(F.col("cos_raw")).alias("cos"))
    )


def cosine_topk_sql(table: str = "embeddings", n_queries: int = 5, k: int = 10) -> str:
    cos = (
        f"({_dot_sql('q.embedding', 'c.embedding')} / (q.norm * c.norm))"
    )
    return f"""
      WITH base AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm
        FROM {table}
      ),
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_raw
        FROM base q JOIN base c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {n_queries}
      ),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
               cos_raw
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             {floor6_sql('cos_raw')} AS cos
      FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------


def ann_lsh_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 10, n_planes: int = N_PLANES
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket — the join is bucket-equi, not a cross product. ``n_planes``
    sets the bucket space (2^n buckets): scale it with corpus size so
    a probed bucket stays ~O(1000) candidates."""
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
        F.expr(bucket_expr(n=n_planes)).alias("bucket"),
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = F.expr(_dot_expr("q_emb", "embedding")) / (F.col("q_norm") * F.col("norm"))
    pairs = (
        F.broadcast(q)
        .join(base, (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", floor6(F.col("cos_raw")).alias("cos"))
    )


def ann_lsh_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10, n_planes: int = N_PLANES
) -> str:
    cos = f"({_dot_sql('q.embedding', 'c.embedding')} / (q.norm * c.norm))"
    return f"""
      WITH base AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm,
               {bucket_sql('embedding', n_planes)} AS bucket
        FROM {table}
      ),
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_raw
        FROM base q JOIN base c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {n_queries}
      ),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
               cos_raw
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             {floor6_sql('cos_raw')} AS cos
      FROM ranked WHERE rank <= {k}
    """


def ann_multiprobe_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 10, n_planes: int = N_PLANES
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS the
    n_planes buckets at Hamming distance 1 (one sign bit flipped) —
    the standard recall repair when n_planes grows with corpus size
    (wider buckets mean a true neighbor more often lands one bit away;
    probing neighbors recovers it without shrinking the bucket space).
    Probe buckets are distinct, so each candidate appears exactly once
    — no dedup stage. Cost: (n_planes + 1) bucket probes per query,
    still O(candidates), never O(n)."""
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
        F.expr(bucket_expr(n=n_planes)).alias("bucket"),
    )
    probe_arr = "array(bucket, " + ", ".join(
        f"bucket ^ {1 << p}" for p in range(n_planes)
    ) + ")"
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.explode(F.expr(probe_arr)).alias("probe"),
    )
    cos = F.expr(_dot_expr("q_emb", "embedding")) / (F.col("q_norm") * F.col("norm"))
    pairs = (
        F.broadcast(q)
        .join(base, (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", floor6(F.col("cos_raw")).alias("cos"))
    )


def ann_multiprobe_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10, n_planes: int = N_PLANES
) -> str:
    cos = f"({_dot_sql('p.q_emb', 'c.embedding')} / (p.q_norm * c.norm))"
    probes = "[bucket, " + ", ".join(
        f"xor(bucket, {1 << b})" for b in range(n_planes)
    ) + "]"
    return f"""
      WITH base AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm,
               {bucket_sql('embedding', n_planes)} AS bucket
        FROM {table}
      ),
      probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
               unnest({probes}) AS probe
        FROM base WHERE vec_id < {n_queries}
      ),
      pairs AS (
        SELECT p.query_id, c.vec_id AS neighbor_id, {cos} AS cos_raw
        FROM probes p JOIN base c
          ON c.bucket = p.probe AND c.vec_id <> p.query_id
      ),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
               cos_raw
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             {floor6_sql('cos_raw')} AS cos
      FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs
# ---------------------------------------------------------------------------


def embedding_near_dups(
    emb: DataFrame,
    tau: float = 0.9,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> DataFrame:
    """(vec_a, vec_b, cos): near-duplicate pairs with cosine >= tau.

    Banded multi-table LSH (the round-1 single-table 16-bucket
    all-pairs was ~n^2/16 at corpus scale): every vector gets n_bands
    independent sign-signature keys of planes_per_band bits; candidate
    pairs must agree on at least ONE whole band key, and only
    candidates get an exact cosine. Per band the in-bucket pair count
    is ~n^2/2^planes_per_band — each extra bit halves it, so the knob
    scales to any corpus — while multiple bands preserve recall
    exactly like simhash/minhash banding. The join shuffles on
    (band, key): uniform small keys, AQE skew-split for dense
    clusters."""
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
        F.posexplode(F.expr(band_keys_expr("embedding", n_bands, planes_per_band))).alias(
            "band", "key"
        ),
    )
    a = base.alias("a")
    b = base.alias("b")
    cos = F.expr(_dot_expr("a.embedding", "b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_raw"),
        )
        .where(F.col("cos_raw") >= tau)
        .select("vec_a", "vec_b", floor6(F.col("cos_raw")).alias("cos"))
        .distinct()
    )


def embedding_near_dups_sql(
    table: str = "embeddings",
    tau: float = 0.9,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> str:
    cos = f"({_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm))"
    return f"""
      WITH base AS MATERIALIZED (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm,
               {band_keys_sql('embedding', n_bands, planes_per_band)} AS keys
        FROM {table}
      ),
      banded AS MATERIALIZED (
        SELECT vec_id, embedding, norm, r.i AS band, keys[r.i + 1] AS key
        FROM base CROSS JOIN range(0, {n_bands}) r(i)
      )
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {floor6_sql(cos)} AS cos
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau}
    """


def embedding_dup_clusters(
    emb: DataFrame,
    tau: float = 0.9,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> DataFrame:
    """(vec_id, cluster_rep): connected components over the verified
    embedding near-duplicate graph — semantic dedup GROUP selection
    (keep rep = lowest vec_id per cluster, drop the rest).

    The composition mirrors the text-side ``dedup.dup_clusters``:
    edge generation is the banded-LSH + cosine-verify operator
    (``embedding_near_dups`` — candidate-driven, never all-pairs),
    and the component pass is the shared distributed union-find
    (``dedup.connected_components``: min-label propagation with
    pointer jumping).
    Only vectors appearing in >= 1 near-dup pair are emitted —
    singletons are trivially their own cluster.

    Scale shape: near-dup join cost is bounded by band-bucket sizes
    (each +1 plane per band halves in-bucket pairs); the CC loop is
    O(log diameter) doc-keyed shuffles over the (tiny) dup-pair edge
    set, localCheckpoint'ed per round.
    """
    from ocr_spark.functions.dedup import connected_components

    edges = embedding_near_dups(emb, tau, n_bands, planes_per_band).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels, _ = connected_components(edges)
    return labels.select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("cluster_rep")
    )


def embedding_dup_clusters_sql(
    table: str = "embeddings",
    tau: float = 0.9,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> str:
    """DuckDB twin: the near-dup pair SQL + a recursive-CTE reachability
    min-label (same shape as dedup.dup_clusters_sql)."""
    pairs = embedding_near_dups_sql(table, tau, n_bands, planes_per_band)
    return f"""
      WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
      edges AS MATERIALIZED (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
      ),
      verts AS (SELECT DISTINCT src AS vec_id FROM edges),
      reach(vec_id, r) AS (
        SELECT vec_id, vec_id FROM verts
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON reach.vec_id = e.dst
      )
      SELECT vec_id, min(r) AS cluster_rep FROM reach GROUP BY vec_id
    """


# ---------------------------------------------------------------------------
# IVF-style ANN (inverted file over nearest-centroid cells)
# ---------------------------------------------------------------------------

N_CENTROIDS = 16


def kmeans_centroids(
    emb: DataFrame, k: int = N_CENTROIDS, iters: int = 5, dim: int = DIM
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's) for IVF cell centers —
    the real 'offline training' step the ivf_topk docstring defers to.

    Deterministic end to end: init = the first k vectors (by vec_id),
    assignment = argmax cosine against broadcast literal centroids
    (codegen, no shuffle of the corpus beyond the recenter aggregate),
    recenter = per-dimension EXACT INTEGER sums (round(x * 1e9)) so the
    parallel reduction is order-independent — the same centroids come
    back for any partitioning. Per round: one scan + one
    (centroid, dim)-keyed aggregate of k*dim rows; centroids
    (k x dim doubles) ride the driver, which is the right home for
    them at any corpus size."""
    unit = "transform(embedding, x -> CAST(x AS DOUBLE) / " + _norm_expr("embedding") + ")"
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.expr(unit).alias("u")
    ).persist()
    cents = [
        [float(v) for v in r.u]
        for r in base.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    try:
        for _ in range(iters):
            dots = "array(" + ", ".join(
                _dot_expr("u", _plane_lit_expr(c)) for c in cents
            ) + ")"
            # argmax with lowest-index tie-break
            assign = (
                f"CAST(array_position({dots}, array_max({dots})) AS INT) - 1"
            )
            agg = (
                base.select(F.expr(assign).alias("c"), F.posexplode("u").alias("j", "v"))
                .groupBy("c", "j")
                .agg(
                    F.sum(F.round(F.col("v") * 1e9).cast("long")).alias("s"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            sums: dict[int, list[float]] = {}
            counts: dict[int, int] = {}
            for r in agg:
                sums.setdefault(r.c, [0.0] * dim)[r.j] = r.s / 1e9
                counts[r.c] = r.n
            new_cents = []
            for ci in range(len(cents)):
                if ci in sums and counts[ci] > 0:
                    mean = [s / counts[ci] for s in sums[ci]]
                    nrm = sum(x * x for x in mean) ** 0.5
                    new_cents.append([x / nrm for x in mean] if nrm > 0 else cents[ci])
                else:  # empty cell keeps its center (classic Lloyd's rule)
                    new_cents.append(cents[ci])
            cents = new_cents
    finally:
        base.unpersist()
    return cents


def kmeans_inertia(emb: DataFrame, cents: list[list[float]]) -> float:
    """Mean (1 - cosine to the assigned center): the spherical k-means
    objective, for convergence checks."""
    unit = "transform(embedding, x -> CAST(x AS DOUBLE) / " + _norm_expr("embedding") + ")"
    dots = "array(" + ", ".join(_dot_expr("u", _plane_lit_expr(c)) for c in cents) + ")"
    row = (
        emb.select(F.expr(unit).alias("u"))
        .select(F.expr(f"1.0 - array_max({dots})").alias("d"))
        .agg(F.avg("d"))
        .collect()[0]
    )
    return float(row[0])


def _assignments(emb: "DataFrame", n_centroids: int, centroids=None, with_cos: bool = False):
    """(vec_id, embedding, norm, centroid[, cell_cos]): each vector
    assigned to its highest-cosine centroid (ties -> lowest centroid
    id). ``with_cos`` additionally emits the winning cosine
    (``cell_cos``) — opt-in so existing consumers' schemas are
    untouched.

    With ``centroids`` (trained unit vectors from kmeans_centroids)
    the assignment is a pure scan-stage argmax expression — no join at
    all. Without it, the oracle-checkable stand-in applies: the first
    n_centroids vectors serve as cell centers via a broadcast join +
    per-vector rank-1 window (the plan a k-means|| deployment uses).
    """
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
    )
    if centroids is not None:
        # Column-API literals (one Literal node per centroid, not
        # dim rendered CASTs): string-rendered literal arrays blow
        # whole-stage codegen up — same lesson as pq._l2_col. Fold
        # order and values are identical to the string form.
        # The divisor is base's ALREADY-COMPUTED norm column, not a
        # fresh _norm_expr: inlining the norm fold re-evaluates it
        # per element (O(dim^2) interpreted work per row), and join
        # null-safety pushes isnotnull(<this whole expr>) below the
        # repartition into the single-split scan task — the hoist
        # took ivfpq's probe join from ~15 s to sub-second at sf0.1.
        unit = F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("norm"))
        # hoist the unit vector as a real column so each row pays dim
        # divisions once, not k*dim (one re-normalize per dots entry).
        # The k dots come from ONE transform over the whole centroid
        # set bound as a single array<array<double>> literal, not k
        # separately-built folds — identical values and order, but a
        # k-fold smaller expression tree (same build-time/codegen
        # lesson as pq._codes_col).
        dots = F.transform(
            F.lit([list(c) for c in centroids]),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("_u"), c, lambda x, y: x.cast("double") * y.cast("double")
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ),
        )
        assign = (F.array_position(dots, F.array_max(dots))).cast("int") - 1
        out = base.withColumn("_u", unit).withColumn(
            "centroid", assign.cast("long")
        )
        if with_cos:
            # trained centroids and _u are both unit vectors, so the
            # winning dot IS the cosine to the assigned cell
            out = out.withColumn("cell_cos", F.array_max(dots))
        return out.drop("_u")
    cents = base.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos = F.expr(_dot_expr("embedding", "c_emb")) / (F.col("norm") * F.col("c_norm"))
    scored = base.join(F.broadcast(cents)).select(
        "vec_id", "embedding", "norm", "centroid", cos.alias("c_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("centroid"))
    keep = ["vec_id", "embedding", "norm", "centroid"] + (
        [F.col("c_cos").alias("cell_cos")] if with_cos else []
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(*keep)
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    centroids=None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): IVF ANN — candidates are the
    query's own cell (nprobe=1); exact cosine re-rank inside the cell.

    Pass ``centroids=kmeans_centroids(emb)`` for trained cells (the
    production path; assignment becomes a scan-stage expression). At
    corpus scale the cell assignment is a per-row broadcast compare
    (no shuffle of the big side beyond the cell-id grouping) and the
    probe join is centroid-equi — candidate count ~ n/cells, not n.
    """
    assigned = _assignments(emb, n_centroids, centroids)
    q = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("centroid").alias("q_centroid"),
    )
    cos = F.expr(_dot_expr("q_emb", "embedding")) / (F.col("q_norm") * F.col("norm"))
    pairs = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("centroid") == F.col("q_centroid"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", floor6(F.col("cos_raw")).alias("cos"))
    )


def ivf_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS,
) -> str:
    a_cos = f"({_dot_sql('b.embedding', 'c.embedding')} / (b.norm * c.norm))"
    q_cos = f"({_dot_sql('q.q_emb', 'a.embedding')} / (q.q_norm * a.norm))"
    return f"""
      WITH base AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm
        FROM {table}
      ),
      cents AS (
        SELECT vec_id AS centroid, embedding, norm FROM base
        WHERE vec_id < {n_centroids}
      ),
      scored AS (
        SELECT b.vec_id, b.embedding, b.norm, c.centroid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY {a_cos} DESC, c.centroid ASC) AS r
        FROM base b CROSS JOIN cents c
      ),
      assigned AS (
        SELECT vec_id, embedding, norm, centroid FROM scored WHERE r = 1
      ),
      q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
               centroid AS q_centroid
        FROM assigned WHERE vec_id < {n_queries}
      ),
      pairs AS (
        SELECT q.query_id, a.vec_id AS neighbor_id, {q_cos} AS cos_raw
        FROM q JOIN assigned a
          ON a.centroid = q.q_centroid AND a.vec_id <> q.query_id
      ),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
               cos_raw
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             {floor6_sql('cos_raw')} AS cos
      FROM ranked WHERE rank <= {k}
    """


def trained_assigned_sql(
    centroids: list[list[float]], table: str = "embeddings",
    with_cos: bool = False,
) -> str:
    """THE DuckDB rendering of the trained-cell argmax, as a
    self-contained subquery ``(vec_id, embedding, norm, centroid)`` —
    one definition shared by every twin that assigns vectors to
    trained cells (ivf_topk_trained, cluster_balanced_sample,
    semantic_dedup, pq.ivfpq_topk). Cross-engine cell-population
    agreement depends on this staying arithmetic-identical to the
    Spark expression (normalize first, THEN fold the dot product), so
    it must never be re-rendered at call sites."""
    dim = len(centroids[0])
    unit = (
        f"list_transform(range(1, {dim + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) / {_norm_sql('embedding', dim)})"
    )
    dots = "[" + ", ".join(
        _dot_sql("u", _plane_lit_sql(c), dim) for c in centroids
    ) + "]"
    cos_col = ", list_max(dots) AS cell_cos" if with_cos else ""
    return f"""(
      SELECT vec_id, embedding, norm,
             CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS centroid
             {cos_col}
      FROM (
        SELECT vec_id, embedding, norm, {dots} AS dots
        FROM (
          SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
                 {_norm_sql('embedding', dim)} AS norm, {unit} AS u
          FROM {table}
        )
      )
    )"""


def ivf_topk_trained_sql(
    centroids: list[list[float]],
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
) -> str:
    """DuckDB twin of ``ivf_topk(emb, centroids=...)`` — the TRAINED
    path: cell assignment via the shared :func:`trained_assigned_sql`
    argmax."""
    dim = len(centroids[0])
    q_cos = f"({_dot_sql('q.q_emb', 'a.embedding', dim)} / (q.q_norm * a.norm))"
    return f"""
      WITH assigned AS (
        SELECT * FROM {trained_assigned_sql(centroids, table)} t
      ),
      q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
               centroid AS q_centroid
        FROM assigned WHERE vec_id < {n_queries}
      ),
      pairs AS (
        SELECT q.query_id, a.vec_id AS neighbor_id, {q_cos} AS cos_raw
        FROM q JOIN assigned a
          ON a.centroid = q.q_centroid AND a.vec_id <> q.query_id
      ),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
               cos_raw
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
             {floor6_sql('cos_raw')} AS cos
      FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# cluster-balanced sampling (domain balancing over embedding space)
# ---------------------------------------------------------------------------


def cluster_balanced_sample(
    emb: DataFrame,
    centroids: list[list[float]],
    cap: int,
    salt: str = "clustercap:v1",
) -> DataFrame:
    """(vec_id, centroid): keep at most ``cap`` vectors per k-means
    cell — semantic domain balancing (no single content cluster may
    dominate the training mix), the embedding-space analog of
    ``sampling.cap_per_group`` over a source/domain column.

    Cell assignment is the TRAINED scan-stage argmax (no join; pass
    ``kmeans_centroids(emb)`` output), so the only shuffle is the
    cap's rank window on ``centroid`` — and Spark's WindowGroupLimit
    truncates each cell map-side at ~cap rows per input partition
    before the exchange. Which vectors survive is the same
    deterministic content-hash rule as ``cap_per_group``: stable
    under retries/resume, boundary-local under inserts.
    """
    from ocr_spark.functions.sampling import cap_per_group

    assigned = _assignments(emb, len(centroids), centroids).select(
        "vec_id", "centroid"
    )
    return cap_per_group(
        assigned, "centroid", cap, salt=salt, id_col="vec_id"
    ).select("vec_id", "centroid")


def cluster_balanced_sample_sql(
    centroids: list[list[float]],
    table: str = "embeddings",
    cap: int = 10,
    salt: str = "clustercap:v1",
) -> str:
    """DuckDB twin of :func:`cluster_balanced_sample` — cell
    assignment via the shared :func:`trained_assigned_sql` argmax,
    same cap window as ``sampling.cap_per_group_sql``."""
    from ocr_spark.functions.sampling import cap_per_group_sql

    assigned = (
        f"(SELECT vec_id, centroid FROM "
        f"{trained_assigned_sql(centroids, table)} t)"
    )
    return cap_per_group_sql(assigned, "centroid", cap, salt=salt, id_col="vec_id")


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: within-cell cosine pruning)
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.9,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """(vec_id, centroid, kept): SemDeDup-style semantic pruning —
    assign every vector to its trained k-means cell, then WITHIN each
    cell drop a vector iff some lower-id cell-mate sits at cosine >=
    tau (so each tau-neighborhood keeps exactly its minimum id; the
    deterministic stand-in for the paper's keep-one-per-duplicate-set
    rule). Pairs that cross cell boundaries are never compared — the
    accepted recall trade of SemDeDup (Abbas et al. 2023, public)
    that makes semantic dedup subquadratic.

    Scale shape: cell assignment is a pure scan-stage argmax against
    the literal centroid arrays (no join — the production path shared
    with ``ivf_topk(centroids=...)``); the only pair work is the
    within-cell equi-join on ``centroid``, ~n^2/k pairs for k cells.
    k is the knob: at 100 TB you train k large enough that cells hold
    ~10^4-10^5 vectors (k-means cost is linear per Lloyd's round), and
    AQE skew-split handles dense cells. Every row of the input comes
    back with a boolean — callers filter ``kept`` (never silently
    dropped rows).
    """
    # the assignment frame appears three times in this plan (both
    # self-join sides + the kept-flag join); localCheckpoint
    # materializes it ONCE — the lsh_verified_pairs precedent, and
    # the 100 TB shape anyway (the cell-assignment index is a stored
    # artifact, not something you recompute per probe). Also stops
    # join null-safety from pushing isnotnull(<argmax expr>) into
    # single-task scan filters.
    assigned = _assignments(emb, n_centroids, centroids).localCheckpoint()
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = F.expr(_dot_expr("a.embedding", "b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.centroid") == F.col("b.centroid"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .where(cos >= tau)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "centroid", F.col("_dup").isNull().alias("kept")
    )


def semantic_dedup_sql(
    centroids: list[list[float]],
    table: str = "embeddings",
    tau: float = 0.9,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` — cell assignment via the
    shared :func:`trained_assigned_sql` argmax, same ordered cosine
    fold for the within-cell pair verify."""
    dim = len(centroids[0])
    cos = f"({_dot_sql('a.embedding', 'b.embedding', dim)} / (a.norm * b.norm))"
    return f"""
      WITH assigned AS (
        SELECT * FROM {trained_assigned_sql(centroids, table)} t
      ),
      dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.centroid = b.centroid AND b.vec_id < a.vec_id
        WHERE {cos} >= {tau}
      )
      SELECT s.vec_id, s.centroid, (d.vec_id IS NULL) AS kept
      FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    """


# ---------------------------------------------------------------------------
# k-NN graph (banded-LSH candidates, exact-cosine rank)
# ---------------------------------------------------------------------------


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> DataFrame:
    """(vec_id, nbr_id, cos, rank): each vector's top-``k`` approximate
    nearest neighbors by cosine, candidates from banded LSH.

    The all-corpus k-NN graph is the substrate for graph-based corpus
    work — SemDeDup-style pruning, label propagation, connectivity
    audits, diversity sampling — and brute force is n². Here the
    DIRECTED candidate set is every pair agreeing on ≥1 of ``n_bands``
    sign-signature band keys (~n²/2^planes_per_band per band, each
    extra bit halves it — the embedding_near_dups scale argument);
    only candidates get an exact cosine, and per-source ranking is a
    window the optimizer truncates to k map-side (WindowGroupLimit).
    The join shuffles on uniform (band,
    key); the rank shuffles on vec_id. Vectors whose buckets are
    singletons in every band emit no rows (honest LSH recall miss —
    raise planes/bands or fall back to :func:`cosine_topk` for
    guaranteed coverage).

    Ordering is on the floor6-truncated cosine with nbr_id ascending
    tie-break, so ranks are engine- and partition-exact.
    """
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.expr(_norm_expr("embedding")).alias("norm"),
        F.posexplode(
            F.expr(band_keys_expr("embedding", n_bands, planes_per_band))
        ).alias("band", "key"),
    )
    a = base.alias("a")
    b = base.alias("b")
    cos = F.expr(_dot_expr("a.embedding", "b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            floor6(cos).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("nbr_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "nbr_id", "cos", "rank")
    )


def knn_graph_sql(
    table: str = "embeddings",
    k: int = 5,
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
) -> str:
    """DuckDB twin of :func:`knn_graph`."""
    cos = f"({_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm))"
    return f"""
      WITH base AS MATERIALIZED (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               {_norm_sql('embedding')} AS norm,
               {band_keys_sql('embedding', n_bands, planes_per_band)} AS keys
        FROM {table}
      ),
      banded AS MATERIALIZED (
        SELECT vec_id, embedding, norm, r.i AS band, keys[r.i + 1] AS key
        FROM base CROSS JOIN range(0, {n_bands}) r(i)
      ),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id,
               {floor6_sql(cos)} AS cos
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.vec_id <> b.vec_id
      )
      SELECT vec_id, nbr_id, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC
        ) AS INT) AS rank
        FROM cand
      ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# ANN recall evaluation (approximate vs exact top-k)
# ---------------------------------------------------------------------------


def ann_recall_eval(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = N_PLANES,
    method: str = "multiprobe",
) -> DataFrame:
    """(query_id, n_truth, n_approx, n_hit, recall_ppm): per-query
    recall of an ANN top-k list against the exact brute-force cosine
    top-k — the eval an ANN owner runs BEFORE trusting a bucket
    configuration on a new corpus, because LSH recall depends on the
    corpus's similarity distribution, not on the algorithm alone (the
    ``lsh_recall_eval`` discipline, applied to the retrieval side).

    truth  = :func:`cosine_topk` (exact baseline, same queries/k)
    approx = ``method``: "lsh" (:func:`ann_lsh_topk`, own bucket only)
             or "multiprobe" (:func:`ann_multiprobe_topk`, + Hamming-1
             probes — the recall repair this eval quantifies)
    recall_ppm = (n_hit * 10^6) div n_truth   (NULL if no truth rows)

    Integer ppm keeps the row engine-exact (non-negative operands:
    Spark's truncating ``div`` == DuckDB's flooring ``//``). Each
    expensive subtree (exact top-k, ANN top-k) appears exactly once in
    the plan: one flagged full-outer join on (query_id, neighbor_id)
    feeds a single per-query aggregate. The exact side is the
    brute-force scan by definition — this operator is an offline eval
    run on a sample (n_queries bounds it), never a production path.
    """
    methods = {"lsh": ann_lsh_topk, "multiprobe": ann_multiprobe_topk}
    if method not in methods:
        raise ValueError(f"method must be one of {sorted(methods)}")
    truth = cosine_topk(emb, n_queries, k).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_t")
    )
    appr = methods[method](emb, n_queries, k, n_planes).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_a")
    )
    j = truth.join(appr, ["query_id", "neighbor_id"], "full_outer")
    return (
        j.groupBy("query_id")
        .agg(
            F.count("in_t").alias("n_truth"),
            F.count("in_a").alias("n_approx"),
            F.sum(
                F.when(
                    F.col("in_t").isNotNull() & F.col("in_a").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_hit"),
        )
        .selectExpr(
            "query_id",
            "n_truth",
            "n_approx",
            "CAST(n_hit AS BIGINT) AS n_hit",
            "CASE WHEN n_truth > 0 THEN (n_hit * 1000000) div n_truth"
            " ELSE NULL END AS recall_ppm",
        )
    )


def ann_recall_eval_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = N_PLANES,
    method: str = "multiprobe",
) -> str:
    """DuckDB twin of :func:`ann_recall_eval` — composes the exact and
    ANN top-k twins verbatim so the evaluated definitions are the
    contract definitions."""
    methods = {"lsh": ann_lsh_topk_sql, "multiprobe": ann_multiprobe_topk_sql}
    if method not in methods:
        raise ValueError(f"method must be one of {sorted(methods)}")
    truth = cosine_topk_sql(table, n_queries, k)
    appr = methods[method](table, n_queries, k, n_planes)
    return f"""
      WITH truth AS (
        SELECT query_id, neighbor_id FROM ({truth})
      ),
      appr AS (
        SELECT query_id, neighbor_id FROM ({appr})
      ),
      j AS (
        SELECT coalesce(t.query_id, a.query_id) AS query_id,
               t.neighbor_id IS NOT NULL AS in_t,
               a.neighbor_id IS NOT NULL AS in_a
        FROM truth t FULL OUTER JOIN appr a
          ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      )
      SELECT query_id,
             CAST(count(*) FILTER (in_t) AS BIGINT) AS n_truth,
             CAST(count(*) FILTER (in_a) AS BIGINT) AS n_approx,
             CAST(count(*) FILTER (in_t AND in_a) AS BIGINT) AS n_hit,
             CASE WHEN count(*) FILTER (in_t) > 0
                  THEN (count(*) FILTER (in_t AND in_a) * 1000000)
                       // count(*) FILTER (in_t)
                  ELSE NULL END AS recall_ppm
      FROM j GROUP BY query_id
    """


# ---------------------------------------------------------------------------
# IVF cell statistics (index health)
# ---------------------------------------------------------------------------


# THE micro-unit rendering of the winning cosine — a dialect-shared
# SQL fragment (Spark parses it via F.expr, DuckDB verbatim) so the
# scale/rounding of the hash-compared c6 values can never diverge
# between the twins. The outer BIGINT cast is what makes it shared:
# Spark's floor(double) is already BIGINT (cast = no-op), DuckDB's is
# DOUBLE (cast required).
_C6_SQL = "CAST(floor(cell_cos * CAST(1000000.0 AS DOUBLE)) AS BIGINT)"


def ivf_cell_stats(
    emb: DataFrame,
    centroids: list[list[float]] | None = None,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """(centroid, n_vecs, sum_cos6, min_cos6): per-cell population and
    cohesion of an IVF index — the health check an index owner runs
    after (re)training: cell-size skew predicts probe latency (a hot
    cell makes nprobe=1 scans O(hot) instead of O(n/cells)) and low
    cohesion (min/mean cosine-to-centroid) flags cells whose centroid
    no longer represents its members (retrain signal after corpus
    drift).

    Cosines are folded to integer micro-units per row
    (``floor(cos * 1e6)``) BEFORE the group sum, so the aggregate is
    association-independent and engine-exact (the kmeans integer-sum
    discipline); mean cohesion = ``sum_cos6 div (n_vecs * 1e6)``
    downstream. With ``centroids`` (the trained/production path) the
    whole operator is a scan-stage argmax + one k-row aggregate —
    zero joins, one shuffle of k rows.
    """
    assigned = _assignments(emb, n_centroids, centroids, with_cos=True)
    c6 = F.expr(_C6_SQL)
    return (
        assigned.select("centroid", c6.alias("c6"))
        .groupBy("centroid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("c6").alias("sum_cos6"),
            F.min("c6").alias("min_cos6"),
        )
    )


def ivf_cell_stats_sql(
    centroids: list[list[float]], table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`ivf_cell_stats` (trained path; the shared
    :func:`trained_assigned_sql` argmax with the winning cosine)."""
    return f"""
      SELECT centroid,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(c6) AS BIGINT) AS sum_cos6,
             CAST(min(c6) AS BIGINT) AS min_cos6
      FROM (
        SELECT centroid, {_C6_SQL} AS c6
        FROM {trained_assigned_sql(centroids, table, with_cos=True)} t
      ) GROUP BY centroid
    """
