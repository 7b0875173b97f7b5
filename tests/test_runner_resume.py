"""T1-T5: checkpoint-resumable runs — crash mid-run, resume, output
identical to a single-shot run with no duplicates."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.pipeline.runner import (
    ExtractionRun,
    RunConfig,
    cleanup_orphan_runs,
    list_runs,
)
from ocr_spark.pipeline.sinks import bucket_col, write_results
from ocr_spark.sources.synth import synthesize_spans


@pytest.fixture()
def docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return synthesize_spans(d)


def _nested_rows(df):
    out = []
    for r in df.collect():
        spans = tuple((s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or []))
        out.append((r.doc_id, spans))
    return sorted(out)


def test_single_shot_run(spark, docs, tmp_path):
    run = ExtractionRun(spark, docs, str(tmp_path / "out"), RunConfig("r1", n_buckets=8))
    s = run.run()
    assert s["buckets_done"] == 8
    assert s["n_docs"] == 500
    assert s["parse_failures"] == 0
    out = run.output()
    assert out.select("doc_id").distinct().count() == 500


def test_crash_and_resume_equals_single_shot(spark, docs, tmp_path):
    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), RunConfig("ref", n_buckets=8))
    ref.run()
    expected = _nested_rows(ref.output().drop("bucket"))

    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("r2", n_buckets=8, buckets_per_commit=2),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(fail_after_groups=2)
    assert len(run.done_buckets()) == 4  # two groups of two committed

    s = run.run()  # resume
    assert s["buckets_done"] == 8
    got = _nested_rows(run.output().drop("bucket"))
    assert got == expected
    # no duplicate docs
    assert run.output().groupBy("doc_id").count().where(F.col("count") > 1).count() == 0


def test_resume_is_noop_when_done(spark, docs, tmp_path):
    run = ExtractionRun(spark, docs, str(tmp_path / "out"), RunConfig("r3", n_buckets=4))
    run.run()
    recs_before = {
        b: json.load(open(run._record_path(b))) for b in run.done_buckets()
    }
    run.run()  # all buckets recorded -> nothing reprocessed
    recs_after = {
        b: json.load(open(run._record_path(b))) for b in run.done_buckets()
    }
    assert recs_before == recs_after


def test_size_weighted_run_matches_default(spark, docs, tmp_path):
    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), RunConfig("sw0", n_buckets=4))
    ref.run()
    sw = ExtractionRun(
        spark, docs, str(tmp_path / "sw"),
        RunConfig("sw1", n_buckets=4, size_weighted_partitions=8),
    )
    s = sw.run()
    assert s["n_docs"] == 500
    assert _nested_rows(ref.output().select("doc_id", "spans")) == _nested_rows(
        sw.output().select("doc_id", "spans")
    )


def test_commit_group_is_single_pass(spark, docs, tmp_path):
    """One commit group = exactly one kernel execution (MapInArrow)
    and no doc_id join — output and metrics come from the same pass."""
    run = ExtractionRun(spark, docs, str(tmp_path / "out"), RunConfig("rp", n_buckets=8))
    plan = run._group_df([0, 1])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Join" not in plan, plan


def test_resume_rejects_config_mismatch(spark, docs, tmp_path):
    """Resuming a run_id with a different bucket function would skip
    buckets that now hold different docs — must fail fast instead."""
    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("cm1", n_buckets=8, buckets_per_commit=4),
    )
    with pytest.raises(RuntimeError):
        run.run(fail_after_groups=1)
    bad = ExtractionRun(
        spark, docs, str(tmp_path / "out"), RunConfig("cm1", n_buckets=16)
    )
    with pytest.raises(ValueError, match="corrupt"):
        bad.run()
    # a different input shaping (gates on/off) is the same hazard:
    # done-bucket records would cover a differently-filtered input
    gated = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("cm1", n_buckets=8, buckets_per_commit=4,
                  input_config={"integrity_gate": True}),
    )
    with pytest.raises(ValueError, match="corrupt"):
        gated.run()
    # same config resumes fine
    assert run.run()["buckets_done"] == 8


def test_empty_commit_groups_do_not_crash(spark, docs, tmp_path):
    """n_buckets >> corpus: groups whose buckets hold zero docs must
    commit cleanly (explicit read schema — no parquet inference over
    zero files)."""
    few = docs.limit(3)
    run = ExtractionRun(
        spark, few, str(tmp_path / "out"),
        RunConfig("e1", n_buckets=32, buckets_per_commit=4),
    )
    s = run.run()
    assert s["buckets_done"] == 32
    assert s["n_docs"] == 3
    assert run.output().select("doc_id").distinct().count() == 3


def test_run_config_rejects_bucket_counts_below_one(spark, docs, tmp_path):
    """Bucket counts below 1 are refused when the config is built:
    such a run would process no bucket yet report itself complete, or
    crash after its manifest pinned the bad value."""
    for i, kw in enumerate(
        [{"n_buckets": 0}, {"n_buckets": -2}, {"buckets_per_commit": 0}]
    ):
        out = tmp_path / f"out{i}"
        with pytest.raises(ValueError, match="must be >= 1"):
            ExtractionRun(spark, docs, str(out), RunConfig(f"bad{i}", **kw)).run()
        assert not (out / "_lineage").exists()


def test_abort_then_resume_equals_single_shot(spark, docs, tmp_path):
    """T6: an aborted run is resumable; output identical to one-shot."""
    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), RunConfig("aref", n_buckets=8))
    ref.run()
    expected = _nested_rows(ref.output().select("doc_id", "spans"))

    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("ab1", n_buckets=8, buckets_per_commit=2),
    )
    with pytest.raises(RuntimeError):
        run.run(fail_after_groups=1)
    run.abort("operator cancel")
    assert run.is_aborted()
    s = run.run()  # resume clears the marker and finishes pending work
    assert not run.is_aborted()
    assert s["buckets_done"] == 8
    assert _nested_rows(run.output().select("doc_id", "spans")) == expected


def test_cleanup_orphan_runs(spark, docs, tmp_path):
    """T6: stale lineage dirs are GC'd; kept runs and output survive."""
    out = str(tmp_path / "out")
    keep = ExtractionRun(spark, docs, out, RunConfig("live", n_buckets=4))
    keep.run()
    stale = ExtractionRun(
        spark, docs, out, RunConfig("stale", n_buckets=4, buckets_per_commit=1)
    )
    with pytest.raises(RuntimeError):
        stale.run(fail_after_groups=1)  # orphaned: partial lineage left behind
    assert set(list_runs(out)) == {"live", "stale"}
    removed = cleanup_orphan_runs(out, keep={"live"})
    assert removed == ["stale"]
    assert list_runs(out) == ["live"]
    # output table untouched; the kept run still resumes as a no-op
    assert keep.output().select("doc_id").distinct().count() == 500
    assert keep.run()["buckets_done"] == 4


def test_lineage_metrics_consistency(spark, docs, tmp_path):
    run = ExtractionRun(spark, docs, str(tmp_path / "out"), RunConfig("r4", n_buckets=4))
    s = run.run()
    out = run.output()
    n_spans_out = out.select(F.explode("spans")).count()
    assert s["n_spans_out"] == n_spans_out
    assert s["n_spans_in"] >= s["n_spans_out"]
    assert os.path.exists(f"{tmp_path}/out/_lineage/r4/manifest.json")


def test_null_doc_id_row_stays_in_its_commit_group(spark, docs, tmp_path):
    """A NULL doc_id row must bucket IDENTICALLY on the input side
    (pre-kernel filter) and the output side (post-kernel recompute,
    where the kernel has rendered the id as ''). With the old
    hash(NULL)=42 input-side bucketing, the row migrated to a foreign
    bucket at write time and the dynamic-partition overwrite clobbered
    that bucket's previously committed data."""
    nullable_doc = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    null_row = spark.createDataFrame(
        [(None, [{"kind": "text", "text": "orphan", "media_ref": "", "offset": 0}])],
        schema=nullable_doc,
    )
    corpus = docs.select("doc_id", "spans").unionByName(null_row)

    # both sides must agree: input-side bucket of the NULL row equals
    # the bucket of the kernel's rendered '' id
    n_buckets = 8
    got = corpus.where(F.col("doc_id").isNull()).select(
        bucket_col("doc_id", n_buckets).alias("b")
    ).collect()
    want = spark.createDataFrame([("",)], schema="doc_id string").select(
        bucket_col("doc_id", n_buckets).alias("b")
    ).collect()
    assert got[0].b == want[0].b

    run = ExtractionRun(
        spark, corpus, str(tmp_path / "out"),
        RunConfig("rnull", n_buckets=n_buckets, buckets_per_commit=2),
    )
    s = run.run()
    out = run.output()
    # the NULL-id row surfaces as exactly one ''-id error row, nothing lost
    assert s["n_docs"] == 501
    assert out.count() == 501
    err = out.where(F.col("doc_id") == "").collect()
    assert len(err) == 1 and err[0].parse_failed == 1
    assert err[0].bucket == want[0].b  # written inside its own group
    # and every real doc committed exactly once (no clobbered buckets)
    assert out.where(F.col("doc_id") != "").select("doc_id").distinct().count() == 500
    assert s["parse_failures"] == 1


def test_write_results_null_key_lands_in_runner_bucket(spark, tmp_path):
    """write_results and ExtractionRun share one bucket function: a
    NULL-key row lands in the same bucket from both producers, so
    per-doc joins across their tables stay bucket-aligned."""
    nullable_doc = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    span = [{"kind": "text", "text": "orphan", "media_ref": "", "offset": 0}]
    corpus = spark.createDataFrame(
        [(None, span), ("a", span), ("b", span)], schema=nullable_doc
    )
    n_buckets = 8
    run = ExtractionRun(
        spark, corpus, str(tmp_path / "run"), RunConfig("rsink", n_buckets=n_buckets)
    )
    run.run()
    (runner_bucket,) = run.output().where(F.col("doc_id") == "").collect()

    write_results(corpus, str(tmp_path / "sink"), n_buckets=n_buckets)
    (sink_row,) = (
        spark.read.parquet(str(tmp_path / "sink"))
        .where(F.col("doc_id").isNull())
        .collect()
    )
    assert sink_row.bucket == runner_bucket.bucket


# ---------------------------------------------------------------------------
# the group's input scan; runs whose input an earlier version staged
# ---------------------------------------------------------------------------


def _rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        (r.doc_id, r.bucket, len(r.spans or [])) for r in df.collect()
    )


def test_group_scan_pushes_the_bucket_filter(spark, tmp_path):
    """A commit group reads only its own docs without a staged copy of
    the input: the bucket predicate sits in the parquet scan's
    DataFilters, below the synthesizer, and the group's plan has one
    Exchange, the pre-write repartition."""
    from ocr_spark.plans import plan_str

    # an input of its own: a frame another test cached would be read
    # from memory, not scanned
    flat = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(flat)
    docs = synthesize_spans(spark.read.parquet(flat))
    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("sp1", n_buckets=8, buckets_per_commit=2),
    )
    plan = plan_str(run._group_df([0, 1]).repartition(2, "bucket"), "simple")
    (scan,) = [line for line in plan.splitlines() if "FileScan" in line]
    filters = scan.split("DataFilters: [", 1)[1].split("], Format:", 1)[0]
    assert "pmod(hash(" in filters and "IN (0,1)" in filters, scan
    assert plan.count("Exchange") == 1, plan


def test_empty_corpus_runs_and_resumes_as_a_noop(spark, docs, tmp_path):
    empty = docs.where("1 = 0")
    out = str(tmp_path / "out")
    cfg = RunConfig("se1", n_buckets=4, buckets_per_commit=2)
    run = ExtractionRun(spark, empty, out, cfg)
    summary = run.run()
    assert summary["buckets_done"] == 4 and summary["n_docs"] == 0
    before = run._records()
    # resume: every bucket recorded, nothing re-runs (wall_ms unchanged)
    again = ExtractionRun(spark, empty, out, cfg)
    assert again.run() == summary
    assert again._records() == before


def test_run_staged_by_an_earlier_version_resumes(spark, docs, tmp_path):
    """Earlier versions could stage a run's input: such a run id has a
    ``staged.json`` marker and some bucket records in its lineage dir,
    and a bucket-partitioned input copy under ``_staging/<run_id>/``.
    It resumes unstaged to the same table and records as a
    single-shot run."""
    ref = ExtractionRun(
        spark, docs, str(tmp_path / "ref"), RunConfig("up", n_buckets=8)
    )
    ref.run()
    out = tmp_path / "out"
    cfg = RunConfig("up", n_buckets=8, buckets_per_commit=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ExtractionRun(spark, docs, str(out), cfg).run(fail_after_groups=2)
    (out / "_lineage" / "up" / "staged.json").write_text(
        json.dumps({"run_id": "up", "n_buckets": 8, "wall_ms": 1234})
    )
    (
        docs.withColumn("bucket", bucket_col("doc_id", 8))
        .write.partitionBy("bucket")
        .parquet(str(out / "_staging" / "up"))
    )

    run = ExtractionRun(spark, docs, str(out), cfg)
    assert run.done_buckets() == {0, 1, 2, 3}
    s = run.run()
    assert s["buckets_done"] == 8 and s["n_docs"] == 500
    assert _rows(spark, str(out)) == _rows(spark, str(tmp_path / "ref"))
    assert _records(run) == _records(ref)


def test_cleanup_orphan_runs_removes_stale_staging(spark, docs, tmp_path):
    """A run whose input an earlier version staged leaves that copy
    under ``_staging/<run_id>/``; the orphan GC removes it with the
    run's lineage."""
    out = str(tmp_path / "out")
    cfg = RunConfig("stale-st", n_buckets=4, buckets_per_commit=1)
    broken = ExtractionRun(spark, docs, out, cfg)
    with pytest.raises(RuntimeError):
        broken.run(fail_after_groups=1)
    bucket_dir = tmp_path / "out" / "_staging" / "stale-st" / "bucket=0"
    bucket_dir.mkdir(parents=True)
    (bucket_dir / "part-00000.parquet").write_bytes(b"PAR1")
    removed = cleanup_orphan_runs(out, keep=frozenset())
    assert "stale-st" in removed
    assert not os.path.exists(f"{out}/_staging/stale-st")
    assert not os.path.exists(f"{out}/_lineage/stale-st")


def test_checksum_lineage_and_verify_output(spark, docs, tmp_path):
    """checksum_output records a per-bucket content checksum; a
    clean table verifies, a tampered bucket is flagged, and the
    checksum is identical between a crash-resume run and a
    single-shot run (order-insensitive: partitioning/attempt
    boundaries can't move it)."""
    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"),
        RunConfig("rc", n_buckets=4, checksum_output=True),
    )
    run.run()
    recs = {}
    for b in range(4):
        with open(f"{tmp_path}/out/_lineage/rc/bucket-{b:05d}.json") as f:
            recs[b] = json.load(f)
    assert all("checksum60" in r for r in recs.values())
    assert all(0 <= r["checksum60"] < (1 << 60) for r in recs.values())
    assert run.verify_output() == []

    # crash-resume run over the same docs: same per-bucket checksums
    run2 = ExtractionRun(
        spark, docs, str(tmp_path / "out2"),
        RunConfig("rc2", n_buckets=4, buckets_per_commit=1, checksum_output=True),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        run2.run(fail_after_groups=2)
    run2.run()
    for b in range(4):
        with open(f"{tmp_path}/out2/_lineage/rc2/bucket-{b:05d}.json") as f:
            assert json.load(f)["checksum60"] == recs[b]["checksum60"]

    # tamper: rewrite one bucket's partition with a doc dropped
    victim = next(b for b, r in recs.items() if r["n_docs"] > 1)
    part = f"{tmp_path}/out/bucket={victim}"
    kept = spark.read.parquet(part)
    drop_id = kept.select("doc_id").orderBy("doc_id").first().doc_id
    tampered = kept.where(F.col("doc_id") != drop_id).collect()
    import shutil

    shutil.rmtree(part)
    spark.createDataFrame(tampered, kept.schema).write.parquet(part)
    assert run.verify_output() == [victim]


def test_verify_output_skips_records_without_checksums(spark, docs, tmp_path):
    run = ExtractionRun(
        spark, docs, str(tmp_path / "out"), RunConfig("rn", n_buckets=4)
    )
    run.run()
    assert run.verify_output() == []  # nothing auditable, not a failure


# ---------------------------------------------------------------------------
# groups in flight: lineage from observed metrics, faults
# ---------------------------------------------------------------------------


def _records(run) -> dict:
    """bucket -> lineage record without its timing/attempt fields."""
    recs = {}
    for b in range(run.cfg.n_buckets):
        p = run._record_path(b)
        if os.path.exists(p):
            with open(p) as f:
                rec = json.load(f)
            recs[b] = {k: v for k, v in rec.items() if k not in ("wall_ms", "attempt")}
    return recs


_RETRY_SCRIPT = r"""
import json, os, sys, uuid

from pyspark import TaskContext

from ocr_spark.pipeline.runner import ExtractionRun, RunConfig
from ocr_spark.pipeline.session import get_spark

out, marks, inputs = sys.argv[1:4]


def fail_first_attempt(batches):
    # identity that fails each task's first attempt AFTER yielding all
    # of its rows, so a double-counted attempt would show in the sums
    yield from batches
    if TaskContext.get().attemptNumber() == 0:
        open(os.path.join(marks, uuid.uuid4().hex), "w").close()
        raise RuntimeError("injected failure on attempt 0")


# local[N, maxFailures]: each task may fail once and is retried
spark = get_spark("local[4,2]", shuffle_partitions=4)
docs = spark.read.parquet(inputs)
result = {}
for name, src in (("clean", docs), ("retried", docs.mapInArrow(fail_first_attempt, docs.schema))):
    cfg = RunConfig("rt", n_buckets=8, buckets_per_commit=2, checksum_output=True)
    run = ExtractionRun(spark, src, f"{out}/{name}", cfg)
    run.run()
    recs = {}
    for b in range(8):
        with open(run._record_path(b)) as f:
            rec = json.load(f)
        recs[b] = {k: v for k, v in rec.items() if k not in ("wall_ms", "attempt")}
    rows = sorted(
        [r.doc_id, r.bucket, r.n_spans_in, r.n_spans_out, r.parse_failed,
         [list(s) for s in (r.spans or [])]]
        for r in run.output().collect()
    )
    result[name] = {"records": recs, "rows": rows, "verify": run.verify_output()}
spark.stop()
print(json.dumps(result))
"""


def test_task_retry_does_not_double_count(docs, tmp_path):
    """Every kernel-input task fails its first attempt after emitting
    all its rows and succeeds on the retry: the observed lineage
    (counts and checksum60) and the table equal a clean run's. Runs in
    its own process: retries need ``local[N, maxFailures]``."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marks = tmp_path / "marks"
    marks.mkdir()
    docs.write.parquet(str(tmp_path / "in"))
    env = {**os.environ, "PYTHONPATH": repo, "OCR_SPARK_DRIVER_MEM": "1g"}
    res = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "out"), str(marks),
         str(tmp_path / "in")],
        capture_output=True, text=True, timeout=900, env=env, cwd=repo,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert len(os.listdir(marks)) > 0  # the injection fired: tasks were retried
    clean, retried = got["clean"], got["retried"]
    assert retried["records"] == clean["records"]
    assert all("checksum60" in r for r in retried["records"].values())
    assert sum(r["n_docs"] for r in retried["records"].values()) == 500
    assert retried["rows"] == clean["rows"]
    assert retried["verify"] == [] and clean["verify"] == []


def test_failing_group_leaves_only_its_buckets_pending(spark, docs, tmp_path, monkeypatch):
    """A group whose kernel input always fails, while the other groups
    are in flight: the others commit (records and rows), the failing
    group's buckets stay pending with no record and no partition,
    run() raises, and a resume on the clean input equals a single-shot
    run."""
    from ocr_spark.pipeline import runner as runner_mod

    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), RunConfig("gf", n_buckets=8))
    ref.run()
    n_buckets, victim = 8, 0  # groups [0,1] [2,3] [4,5] [6,7]
    kernel = runner_mod.extract_documents_with_metrics

    def poisoned(df, cfg):
        def fail_on_victim(batches):
            for batch in batches:
                if victim in batch.column("_b").to_pylist():
                    raise RuntimeError(f"injected failure on bucket {victim}")
                yield batch

        tagged = df.withColumn("_b", bucket_col("doc_id", n_buckets))
        return kernel(tagged.mapInArrow(fail_on_victim, tagged.schema).drop("_b"), cfg)

    out = str(tmp_path / "out")
    cfg = RunConfig("gf", n_buckets=n_buckets, buckets_per_commit=2)
    monkeypatch.setattr(runner_mod, "extract_documents_with_metrics", poisoned)
    run = ExtractionRun(spark, docs, out, cfg)
    with pytest.raises(Exception, match=f"injected failure on bucket {victim}"):
        run.run()
    monkeypatch.undo()

    assert run.done_buckets() == set(range(2, 8))
    want = _records(ref)
    assert _records(run) == {b: want[b] for b in range(2, 8)}
    assert not any(os.path.exists(f"{out}/bucket={b}") for b in (0, 1))
    assert _nested_rows(run.output().select("doc_id", "spans")) == _nested_rows(
        ref.output().where(~F.col("bucket").isin(0, 1)).select("doc_id", "spans")
    )

    resumed = ExtractionRun(spark, docs, out, cfg)
    assert resumed.run()["buckets_done"] == 8
    assert _records(resumed) == want
    assert _nested_rows(resumed.output().select("doc_id", "spans")) == _nested_rows(
        ref.output().select("doc_id", "spans")
    )


def test_run_never_reads_its_own_output(spark, docs, tmp_path, monkeypatch):
    """Lineage counts come from the write itself: a default run
    succeeds with every parquet read of its output table refused,
    and its records equal an unguarded run's."""
    from pyspark.sql.readwriter import DataFrameReader

    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), RunConfig("nr", n_buckets=8))
    ref.run()

    out = str(tmp_path / "out")
    read = DataFrameReader.parquet

    def guarded(self, *paths, **options):
        for p in paths:
            rel = os.path.relpath(str(p), out)
            if not rel.startswith(".."):
                raise AssertionError(f"run read its own output: {p}")
        return read(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", guarded)
    run = ExtractionRun(spark, docs, out, RunConfig("nr", n_buckets=8))
    assert run.run()["n_docs"] == 500
    monkeypatch.undo()
    assert _records(run) == _records(ref)


# ---------------------------------------------------------------------------
# bookkeeping through the storage layer
# ---------------------------------------------------------------------------


def test_file_uri_output_keeps_lineage_beside_the_table(spark, docs, tmp_path, monkeypatch):
    """An output given as a ``file://`` URI: the manifest and the
    bucket records land under the output path, not under a literal
    ``file:`` directory in the working directory, and the same run_id
    started from another directory resumes as a no-op."""
    out = tmp_path / "out"
    lineage = out / "_lineage" / "fu"
    cfg = RunConfig("fu", n_buckets=4)

    def records():
        return {b: json.loads((lineage / f"bucket-{b:05d}.json").read_text()) for b in range(4)}

    first, second = tmp_path / "cwd1", tmp_path / "cwd2"
    first.mkdir()
    second.mkdir()
    monkeypatch.chdir(first)
    ExtractionRun(spark, docs, f"file://{out}", cfg).run()
    assert (lineage / "manifest.json").is_file()
    before = records()
    assert "file:" not in os.listdir(first)

    monkeypatch.chdir(second)
    s = ExtractionRun(spark, docs, f"file://{out}", cfg).run()
    assert s["buckets_done"] == 4 and s["n_docs"] == 500
    assert records() == before  # wall_ms included: nothing re-ran
    assert "file:" not in os.listdir(second)


def test_failed_record_rename_leaves_its_bucket_pending(spark, docs, tmp_path, monkeypatch):
    """Hadoop's rename reports failure by returning False. When the
    rename of one bucket's lineage record does, its group raises, that
    bucket stays pending (its ``.tmp`` leftover is not a record), and
    the next run() completes it."""
    from ocr_spark.pipeline import storage

    rename = storage._rename

    class _RefusingFs:
        def rename(self, src, dst):
            return False

    def flaky(fs, src, dst):
        refuse = src.getName() == "bucket-00001.json.tmp"
        return rename(_RefusingFs() if refuse else fs, src, dst)

    cfg = RunConfig("rf", n_buckets=4, buckets_per_commit=2)
    ref = ExtractionRun(spark, docs, str(tmp_path / "ref"), cfg)
    ref.run()
    run = ExtractionRun(spark, docs, str(tmp_path / "out"), cfg)
    monkeypatch.setattr(storage, "_rename", flaky)
    with pytest.raises(RuntimeError, match="rename"):
        run.run()
    monkeypatch.undo()

    assert run.done_buckets() == {0, 2, 3}
    assert os.path.exists(run._record_path(1) + ".tmp")
    assert not os.path.exists(run._record_path(1))
    assert run.run()["buckets_done"] == 4
    assert _records(run) == _records(ref)
    assert _nested_rows(run.output().select("doc_id", "spans")) == _nested_rows(
        ref.output().select("doc_id", "spans")
    )
