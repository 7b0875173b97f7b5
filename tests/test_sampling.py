"""Deterministic sampling/splitting: semantics, execution-stability
(the whole point vs ``sample()``), cross-engine twins, plan shape."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.sampling import (
    dataset_split,
    shuffle_order,
    shuffle_order_sql,
    dataset_split_sql,
    stratified_sample,
    stratified_sample_sql,
)
from ocr_spark.plans import plan_str as _plan

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_split_partition_invariant(docs):
    """The assignment must be a property of the row: any repartition /
    coalesce (standing in for retries, AQE re-planning, resume) yields
    the identical split per doc."""
    base = dict(
        dataset_split(docs).select("doc_id", "split").collect()
    )
    shuffled = dict(
        dataset_split(docs.repartition(7, "lang"))
        .select("doc_id", "split")
        .collect()
    )
    assert base == shuffled and len(base) == docs.count()


def test_split_fractions_and_exhaustiveness(docs):
    rows = dataset_split(docs).groupBy("split").count().collect()
    by = {r["split"]: r["count"] for r in rows}
    n = sum(by.values())
    assert set(by) == {"train", "val", "test"}
    assert n == docs.count()
    # 10k-bucket hash split at n=500: generous tolerance, fixed seed
    assert abs(by["train"] / n - 0.9) < 0.06
    assert abs(by["val"] / n - 0.05) < 0.04
    assert abs(by["test"] / n - 0.05) < 0.04


def test_split_salt_namespaces_assignment(docs):
    a = dict(dataset_split(docs, salt="v1").select("doc_id", "split").collect())
    b = dict(dataset_split(docs, salt="v2").select("doc_id", "split").collect())
    assert a != b  # different salts → independent splits
    # but each is internally deterministic
    a2 = dict(dataset_split(docs, salt="v1").select("doc_id", "split").collect())
    assert a == a2


def test_split_weight_validation(docs):
    with pytest.raises(ValueError):
        dataset_split(docs, weights={"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError):
        dataset_split(docs, weights={})


def test_split_string_ids_supported(docs):
    """'sha1:<n>' ids split without any long-cast NULL trap."""
    from pyspark.sql import functions as F

    sdocs = docs.withColumn(
        "doc_id", F.concat(F.lit("sha1:"), F.col("doc_id").cast("string"))
    )
    rows = dataset_split(sdocs).where(F.col("split").isNull()).count()
    assert rows == 0


def test_split_is_scan_stage_only(docs):
    """Zero Exchange: assignment runs inside the scan stage."""
    plan = _plan(dataset_split(docs).select("doc_id", "split"), "simple")
    assert "Exchange" not in plan


def test_split_matches_duckdb_twin(docs):
    spark_rows = sorted(
        map(tuple, dataset_split(docs).select("doc_id", "split").collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    sql = "SELECT doc_id, split FROM (" + dataset_split_sql("documents") + ")"
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    assert spark_rows == oracle


def test_stratified_sample_semantics(docs):
    out = stratified_sample(docs, "lang", {"en": 0.5, "de": 0.2}).collect()
    langs = {r["lang"] for r in out}
    assert langs <= {"en", "de"}  # unlisted strata dropped
    # sampled set is a subset of the stratum populations
    n_en = docs.where("lang = 'en'").count()
    got_en = sum(1 for r in out if r["lang"] == "en")
    assert 0 < got_en < n_en


def test_stratified_sample_uniform_fraction(docs):
    n = docs.count()
    got = stratified_sample(docs, "lang", 0.3).count()
    assert abs(got / n - 0.3) < 0.08


def test_stratified_sample_matches_duckdb_twin(docs):
    fr = {"en": 0.5, "de": 0.2, "fr": 0.1}
    spark_rows = sorted(
        map(
            tuple,
            stratified_sample(docs, "lang", fr).select("doc_id", "lang").collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    sql = (
        "SELECT doc_id, lang FROM ("
        + stratified_sample_sql("documents", "lang", fr)
        + ")"
    )
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    assert spark_rows == oracle


def test_sample_disjoint_from_different_salt_split(docs):
    """sample + split compose: sampling for eval inside the 'val' split
    only touches val rows (the practical composition a pipeline runs)."""
    split = dataset_split(docs)
    val_sample = stratified_sample(
        split.where("split = 'val'"), "lang", 0.5, salt="eval:v1"
    )
    assert val_sample.where("split != 'val'").count() == 0


def test_cap_per_group_semantics(docs):
    from ocr_spark.functions.sampling import cap_per_group

    capped = cap_per_group(docs, "source", 10)
    sizes = {r["source"]: r["n"] for r in
             capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    orig = {r["source"]: r["n"] for r in
            docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in sizes.items():
        assert n == min(10, orig[src])
    # deterministic: same survivors under a different partitioning
    a = sorted(r["doc_id"] for r in capped.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in cap_per_group(docs.repartition(13), "source", 10)
        .select("doc_id")
        .collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        cap_per_group(docs, "source", 0)


def test_cap_per_group_matches_duckdb_twin(docs):
    from ocr_spark.functions.sampling import cap_per_group, cap_per_group_sql

    got = sorted(
        map(tuple, cap_per_group(docs, "source", 7).select("doc_id", "source").collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    sql = (
        "SELECT doc_id, source FROM ("
        + cap_per_group_sql("documents", "source", 7)
        + ")"
    )
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == oracle and len(got) > 0


def test_cap_per_group_truncates_map_side(docs):
    from ocr_spark.functions.sampling import cap_per_group
    from ocr_spark.plans import plan_str

    plan = plan_str(cap_per_group(docs, "source", 10), "simple")
    assert "WindowGroupLimit" in plan


def test_null_ids_cross_engine(spark):
    """NULL ids: split/sample hash them as '' (one real deterministic
    bucket, no silent fall-through), and cap's rank order pins NULLS
    FIRST on both engines."""
    import pandas as pd

    from ocr_spark.functions.sampling import (
        cap_per_group,
        cap_per_group_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1.0, 2.0, None, 3.0, None, 4.0, 5.0, 6.0],
            "grp": ["a"] * 8,
            "lang": ["en"] * 8,
        }
    )
    df = spark.createDataFrame(pdf.astype({"doc_id": "Int64"}))
    con = duckdb.connect()
    con.register("t_null_df", pdf)
    con.execute(
        "CREATE OR REPLACE VIEW t_null AS"
        " SELECT CAST(doc_id AS BIGINT) AS doc_id, grp, lang FROM t_null_df"
    )
    nullsafe = lambda rows: sorted(rows, key=lambda t: [(v is None, v) for v in t])
    # split: NULL ids land in exactly one split, same one both engines
    got = nullsafe(
        (r["doc_id"], r["split"])
        for r in dataset_split(df).select("doc_id", "split").collect()
    )
    want = nullsafe(
        map(
            tuple,
            con.execute(
                "SELECT doc_id, split FROM ("
                + dataset_split_sql("t_null")
                + ")"
            ).fetchall(),
        )
    )
    assert got == want
    # cap at the boundary that forces NULL-vs-non-NULL ordering to
    # matter (the two NULL rows share a key; with cap=7 > #NULLs the
    # survivor SET is still deterministic)
    got = nullsafe(
        (r["doc_id"],)
        for r in cap_per_group(df, "grp", 7).select("doc_id").collect()
    )
    want = nullsafe(
        map(
            tuple,
            con.execute(
                "SELECT doc_id FROM ("
                + cap_per_group_sql("t_null", "grp", 7)
                + ")"
            ).fetchall(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------


def test_pack_shards_semantics(spark):
    import pandas as pd

    from ocr_spark.functions.sampling import pack_shards

    # per-source greedy packing: shard = floor(tokens_before / budget)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 10],
            "text": ["a b c", "d e", "f g h i", "j", "k l m"],
            "source": ["s1", "s1", "s1", "s1", "s2"],
        }
    )
    df = spark.createDataFrame(pdf, schema="doc_id long, text string, source string")
    out = {r.doc_id: (r.n_tokens, r.shard_id) for r in pack_shards(df, 5).collect()}
    # s1 ordered by id-string: 1(3),2(2),3(4),4(1) -> before = 0,3,5,9
    assert out[1] == (3, 0) and out[2] == (2, 0)
    assert out[3] == (4, 1) and out[4] == (1, 1)
    assert out[10] == (3, 0)  # s2 packs independently


def test_pack_shards_matches_duckdb_twin(docs):
    from ocr_spark.functions.sampling import pack_shards, pack_shards_sql

    got = sorted(map(tuple, pack_shards(docs, 500).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = sorted(map(tuple, con.execute(pack_shards_sql("documents", 500)).fetchall()))
    assert got == want
    # non-trivial: multiple shards exist in at least one source
    assert max(r[3] for r in got) >= 1


def test_pack_shards_single_uniform_shuffle(docs):
    from ocr_spark.functions.sampling import pack_shards

    plan = _plan(pack_shards(docs, 500), mode="simple")
    # one Exchange, keyed on the group column (uniform), then the sort
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pack_shards_null_text_and_budget_validation(spark):
    import pandas as pd

    from ocr_spark.functions.sampling import pack_shards

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [None], "source": ["s"]}),
        schema="doc_id long, text string, source string",
    )
    row = pack_shards(df, 10).collect()[0]
    assert (row.n_tokens, row.shard_id) == (0, 0)  # NULL text = 0 tokens
    with pytest.raises(ValueError):
        pack_shards(df, 0)


def test_pack_shards_global_distributed_prefix_sum(spark, docs):
    """The range-partition + local-window + offset reconstruction must
    equal a single global running sum — at ANY partition count."""
    from ocr_spark.functions.sampling import (
        pack_shards_global,
        pack_shards_global_sql,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = sorted(map(tuple, con.execute(pack_shards_global_sql("documents", 700)).fetchall()))
    for nparts in (1, 5, 64):
        got = sorted(
            map(tuple, pack_shards_global(docs, 700, partitions=nparts).collect())
        )
        assert got == want, f"partition-count {nparts} diverged"
    spark.catalog.clearCache()
    # packing is genuinely global: one sequence, many shards
    assert max(r[2] for r in want) > 5
    # shard sizes: every shard except the last holds >= budget-minus-
    # one-doc tokens (greedy offset packing never leaves a gap)
    import collections

    sizes = collections.Counter()
    for _, n, s in want:
        sizes[s] += n
    full = [sizes[s] for s in sorted(sizes)[:-1]]
    assert all(sz >= 700 - max(n for _, n, _ in want) + 1 for sz in full)


# ---------------------------------------------------------------------------
# mixture plan
# ---------------------------------------------------------------------------


def test_mixture_plan_semantics(spark):
    import duckdb

    docs = spark.createDataFrame(
        [
            (1, "a b c", "web"),      # 3 tokens
            (2, "d e", "web"),        # 2 tokens
            (3, "f g h i", "code"),   # 4 tokens
            (4, "", "empty_src"),     # 0 tokens, weighted
            (5, "j", "unweighted"),   # 1 token, not in weights
        ],
        "doc_id long, text string, source string",
    )
    from ocr_spark.functions.sampling import mixture_plan, mixture_plan_sql

    weights = {"web": 3.0, "code": 1.0, "empty_src": 1.0, "absent_src": 5.0}
    got = {r.source: r for r in mixture_plan(docs, weights, 100).collect()}
    # normalized: web 0.3 -> 30, code 0.1 -> 10, empty 0.1 -> 10
    assert (got["web"].n_docs, got["web"].n_tokens, got["web"].target_tokens) == (2, 5, 30)
    assert got["web"].epochs == 6.0
    assert (got["code"].target_tokens, got["code"].epochs) == (10, 2.5)
    # weighted source with no inventory: epochs 0, not a crash
    assert (got["empty_src"].n_tokens, got["empty_src"].epochs) == (0, 0.0)
    # corpus source missing from weights: listed with target 0
    assert (got["unweighted"].target_tokens, got["unweighted"].epochs) == (0, 0.0)
    # a weighted source absent from the corpus yields no row (plan is
    # corpus-driven) but still consumed weight mass: web got 30, not 37
    assert "absent_src" not in got


def test_mixture_plan_validation(spark):
    import pytest as _pt

    from ocr_spark.functions.sampling import mixture_plan, mixture_plan_sql

    docs_schema = "doc_id long, text string, source string"
    docs = spark.createDataFrame([(1, "a", "s")], docs_schema)
    for w, b in (({}, 10), ({"s": -1.0}, 10), ({"s": 0.0}, 10), ({"s": 1.0}, -1)):
        with _pt.raises(ValueError):
            mixture_plan(docs, w, b)
        with _pt.raises(ValueError):
            mixture_plan_sql(w, b)


def test_mixture_plan_matches_oracle(spark):
    import duckdb

    from ocr_spark.functions.sampling import mixture_plan, mixture_plan_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    weights = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src17": 0.5}
    got = sorted(map(tuple, mixture_plan(docs, weights, 10_000_000).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = sorted(
        map(tuple, con.execute(mixture_plan_sql(weights, 10_000_000)).fetchall())
    )
    assert got == want
    # both up- and down-sampled sources exist in the plan
    epochs = {r[0]: r[4] for r in got}
    assert any(e > 1 for e in epochs.values()) and any(e < 1 for e in epochs.values())


# ---------------------------------------------------------------------------
# shuffle_order (deterministic global shuffle)
# ---------------------------------------------------------------------------


def test_shuffle_order_is_a_permutation(docs):
    """Every row gets exactly one (shard, pos); positions within a
    shard are 0..count-1 dense; shards stay in range."""
    out = shuffle_order(docs.select("doc_id"), n_shards=5).collect()
    assert len(out) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard"] < 5
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard_positions in by_shard.values():
        assert sorted(shard_positions) == list(range(len(shard_positions)))


def test_shuffle_order_partition_invariant_and_string_null_ids(spark):
    """(shard, pos) is a property of the row — identical under
    repartition — and string / NULL ids are first-class (no silent
    long-cast)."""
    rows = [("sha1:%d" % i,) for i in range(50)] + [(None,)]
    df = spark.createDataFrame(rows, "doc_id string")
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in shuffle_order(df, 4).collect()}
    b = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shuffle_order(df.repartition(9), 4).collect()
    }
    assert a == b and len(a) == 51 and None in a


def test_shuffle_order_salt_rotates_permutation(docs):
    """A different salt (epoch) must yield a different permutation —
    and both must be valid permutations of the same rows."""
    ids = docs.select("doc_id")
    e1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in shuffle_order(ids, 8, salt="shuffle:v1").collect()}
    e2 = {r["doc_id"]: (r["shard"], r["pos"]) for r in shuffle_order(ids, 8, salt="shuffle:v2").collect()}
    assert set(e1) == set(e2)
    assert e1 != e2  # independent epoch order


def test_shuffle_order_matches_duckdb_twin(docs):
    spark_rows = sorted(
        map(tuple, shuffle_order(docs.select("doc_id"), n_shards=8).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    oracle = sorted(
        map(
            tuple,
            con.execute(
                shuffle_order_sql("(SELECT doc_id FROM documents)", n_shards=8)
            ).fetchall(),
        )
    )
    assert spark_rows == oracle


def test_shuffle_order_validation():
    with pytest.raises(ValueError):
        shuffle_order(None, n_shards=0)


# ---------------------------------------------------------------------------
# curriculum_order
# ---------------------------------------------------------------------------


def test_curriculum_order_matches_oracle(spark):
    import duckdb

    from ocr_spark.functions.sampling import (
        curriculum_order,
        curriculum_order_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(map(tuple, curriculum_order(docs, n_shards=8).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(curriculum_order_sql(n_shards=8)).fetchall())
    )
    assert got == want


def test_curriculum_order_invariants(spark):
    from ocr_spark.functions.sampling import curriculum_order

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = curriculum_order(docs, n_shards=4).collect()
    assert len(rows) == docs.count()  # every doc ordered, none dropped
    ranks = {r.bucket: r.bucket_rank for r in rows}
    assert ranks == {"head": 0, "middle": 1, "tail": 2}
    # pos is a dense 0-based rank within each (bucket, shard)
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[(r.bucket, r.shard)].append(r.pos)
    for poss in groups.values():
        assert sorted(poss) == list(range(len(poss)))


def test_curriculum_order_is_retry_stable_and_salt_rotates(spark):
    from ocr_spark.functions.sampling import curriculum_order

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, curriculum_order(docs, n_shards=4).collect()))
    b = sorted(
        map(
            tuple,
            curriculum_order(docs.repartition(13), n_shards=4).collect(),
        )
    )
    assert a == b  # permutation is a property of the rows, not the plan
    c = sorted(
        map(
            tuple,
            curriculum_order(docs, n_shards=4, salt="curriculum:v2").collect(),
        )
    )
    assert a != c  # epoch salt rotation yields a new permutation


# ---------------------------------------------------------------------------
# apply_mixture: mixture-plan execution
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mix_docs(spark):
    rows = (
        [(i, "a b c d e", "srcA") for i in range(20)]          # 100 tokens
        + [(i, "w x y z p q r s t u", "srcB") for i in range(20, 30)]  # 100
        + [(i, "c c c", "srcC") for i in range(30, 35)]        # unweighted
        + [(99, "orphan", None)]                                # NULL group
    )
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_apply_mixture_exact_epochs(mix_docs):
    from ocr_spark.functions.sampling import apply_mixture

    # srcA target 300 = exactly 3.0 epochs of its 100-token inventory;
    # srcB target 100 = exactly 1.0 epoch. No fractional epoch rows.
    out = apply_mixture(mix_docs, {"srcA": 0.75, "srcB": 0.25}, 400)
    rows = [(r.doc_id, r.source, r.epoch) for r in out.collect()]
    by_src = {}
    for _, s, _ in rows:
        by_src[s] = by_src.get(s, 0) + 1
    assert by_src == {"srcA": 60, "srcB": 10}
    # every srcA doc appears at epochs 0,1,2 exactly
    epochs = sorted(e for d, s, e in rows if d == 0 and s == "srcA")
    assert epochs == [0, 1, 2]
    # unweighted + NULL-group rows are dropped (the mixture defines
    # the corpus)
    assert all(s in ("srcA", "srcB") for _, s, _ in rows)


def test_apply_mixture_fractional_and_twin(mix_docs):
    import pandas as pd

    from ocr_spark.functions.sampling import apply_mixture, apply_mixture_sql

    w = {"srcA": 0.75, "srcB": 0.25}
    out = apply_mixture(mix_docs, w, 450)  # srcA 337 tokens = 3.37 epochs
    got = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in out.select("doc_id", "source", "epoch").collect()
    )
    frac = [d for d, s, e in got if s == "srcA" and e == 3]
    assert 0 < len(frac) < 20  # fractional epoch is a strict subsample
    con = duckdb.connect()
    con.register("mix_df", pd.DataFrame(
        [(r.doc_id, r.text, r.source) for r in mix_docs.collect()],
        columns=["doc_id", "text", "source"],
    ))
    con.execute("CREATE VIEW mix AS SELECT * FROM mix_df")
    want = sorted(map(tuple, con.execute(apply_mixture_sql(w, 450, "mix")).fetchall()))
    assert got == want


def test_apply_mixture_clamp_and_validation(mix_docs):
    from ocr_spark.functions.sampling import apply_mixture, apply_mixture_sql

    # absurd budget: srcA would need ~7.5M epochs -> clamped, and a
    # clamped source emits NO fractional epoch
    out = apply_mixture(mix_docs, {"srcA": 1.0}, 10**9, max_epochs=5)
    assert out.count() == 20 * 5
    assert out.agg(F.max("epoch")).collect()[0][0] == 4
    with pytest.raises(ValueError):
        apply_mixture(mix_docs, {"srcA": 1.0}, 100, max_epochs=0)
    with pytest.raises(ValueError):
        apply_mixture_sql({}, 100)
    with pytest.raises(ValueError):
        apply_mixture(mix_docs.withColumn("epoch", F.lit(1)), {"srcA": 1.0}, 1)


def test_apply_mixture_partition_invariant(mix_docs):
    from ocr_spark.functions.sampling import apply_mixture

    w = {"srcA": 0.6, "srcB": 0.4}
    base = sorted(
        (r.doc_id, r.epoch)
        for r in apply_mixture(mix_docs, w, 450).select("doc_id", "epoch").collect()
    )
    for n in (1, 7):
        again = sorted(
            (r.doc_id, r.epoch)
            for r in apply_mixture(mix_docs.repartition(n), w, 450)
            .select("doc_id", "epoch")
            .collect()
        )
        assert again == base


def test_apply_mixture_plan_shape(mix_docs):
    """The plan join must be a broadcast (no SortMergeJoin on the
    corpus), and the only Exchange is the inventory aggregation."""
    from ocr_spark.functions.sampling import apply_mixture

    p = _plan(apply_mixture(mix_docs, {"srcA": 1.0}, 100), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


# ---------------------------------------------------------------------------
# dataset_split_by_group: leakage-safe grouped split
# ---------------------------------------------------------------------------


def test_split_by_group_no_straddle(docs):
    from ocr_spark.functions.sampling import dataset_split_by_group

    out = dataset_split_by_group(docs, "source")
    # every source maps to exactly one split — the leakage guarantee
    multi = (
        out.select("source", "split")
        .distinct()
        .groupBy("source")
        .count()
        .where("count > 1")
        .count()
    )
    assert multi == 0
    # and with >= 2 sources present, the splits are from the default
    # vocabulary
    vals = {r.split for r in out.select("split").distinct().collect()}
    assert vals <= {"train", "val", "test"}


def test_split_by_group_twin(docs):
    from ocr_spark.functions.sampling import (
        dataset_split_by_group,
        dataset_split_by_group_sql,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    got = sorted(
        (r.doc_id, r.split)
        for r in dataset_split_by_group(docs, "source")
        .select("doc_id", "split")
        .collect()
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT doc_id, split FROM ("
                + dataset_split_by_group_sql("documents")
                + ")"
            ).fetchall(),
        )
    )
    assert got == want


def test_split_by_group_null_groups_coassign(spark):
    from ocr_spark.functions.sampling import dataset_split_by_group

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, source string"
    )
    out = {r.doc_id: r.split for r in dataset_split_by_group(df, "source").collect()}
    assert out[1] == out[2]  # all NULL-group rows land together


def test_apply_mixture_check_coverage(mix_docs):
    from ocr_spark.functions.sampling import apply_mixture

    with pytest.raises(ValueError, match="srcA_typo"):
        apply_mixture(
            mix_docs, {"srcA_typo": 0.8, "srcB": 0.2}, 100, check_coverage=True
        )
    # without the check the typo'd share silently vanishes (documented)
    out = apply_mixture(mix_docs, {"srcA_typo": 0.8, "srcB": 0.2}, 1000)
    assert {r.source for r in out.select("source").distinct().collect()} == {"srcB"}


def test_split_by_cluster_coassigns_near_dups(spark):
    import duckdb
    import pandas as pd

    from ocr_spark.functions.sampling import (
        dataset_split_by_cluster,
        dataset_split_by_cluster_sql,
    )

    words = [f"w{i:02d}" for i in range(40)]
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                " ".join(words),
                " ".join(words[:39] + ["CHANGED"]),  # near-dup of 1
                "totally different content here for real",
                "yet another unrelated document body",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = {r.doc_id: r.split for r in dataset_split_by_cluster(df, tau=0.5).collect()}
    assert len(out) == 4  # row-preserving, singletons included
    assert out[1] == out[2]  # the near-dup pair cannot straddle splits
    con = duckdb.connect()
    con.register("t_df", pdf)
    con.execute("CREATE VIEW t AS SELECT * FROM t_df")
    want = dict(
        con.execute(dataset_split_by_cluster_sql("t", tau=0.5)).fetchall()
    )
    assert out == want
    with pytest.raises(ValueError):
        dataset_split_by_cluster(df.withColumn("cluster_rep", F.lit(1)))


def test_split_by_cluster_string_ids_both_engines(spark):
    import duckdb
    import pandas as pd

    from ocr_spark.functions.sampling import (
        dataset_split_by_cluster,
        dataset_split_by_cluster_sql,
    )

    words = [f"w{i:02d}" for i in range(40)]
    pdf = pd.DataFrame(
        {
            "doc_id": [f"sha1:{i}" for i in range(3)],
            "text": [
                " ".join(words),
                " ".join(words[:39] + ["CHANGED"]),
                "something else entirely for contrast",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {r.doc_id: r.split for r in dataset_split_by_cluster(df, tau=0.5).collect()}
    assert got["sha1:0"] == got["sha1:1"]
    con = duckdb.connect()
    con.register("t_df", pdf)
    con.execute("CREATE VIEW t AS SELECT * FROM t_df")
    # id_sql reaches the embedded cluster pass; ONE kwargs dict drives
    # both twins
    want = dict(
        con.execute(
            dataset_split_by_cluster_sql("t", id_sql="doc_id", tau=0.5)
        ).fetchall()
    )
    assert got == want
