"""The three benchmark workloads.

Each workload owns its inputs (built from the seed, cached per seed
under the work directory), a short warm-up through the same code path,
one timed *job* — the production entry points called exactly as the
jobs in ``jobs/`` call them — and the correctness gate for the job's
committed output. The job is a closed loop of one: the next job starts
when the previous one has committed.

- ``full_extract``: ``ExtractionRun(...).run()`` with the
  ``jobs/extract.py`` defaults (16 buckets, 4 per commit, input through
  ``synthesize_spans``) over the amplified, salted flat corpus.
- ``skewed_extract``: the same call over the skewed nested corpus.
- ``daily_delta``: the day-N loop — ``incremental_extract`` to parquet,
  hash-state republish, ``dedup_against_index`` for the changed and new
  docs, ``merge_band_index`` write.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import traceback
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs, spec

INPUT_FILES = 16
RUN_ID = "bench"


class NoTrace:
    """Stand-in for :class:`perfbench.layers.Tracer` on untraced runs."""

    def span(self, name: str):
        return contextlib.nullcontext()


def write_files(table: pa.Table, path: Path, n_files: int = INPUT_FILES) -> None:
    """Contiguous row ranges of ``table`` as ``n_files`` parquet files."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def _bytes_under(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _pq(path: Path, pattern: str = "*.parquet") -> str:
    return f"read_parquet('{path}/{pattern}')"


def _runner_config():
    from ocr_spark.pipeline.runner import RunConfig

    return RunConfig(run_id=RUN_ID, n_buckets=16, buckets_per_commit=4)


class Workload:
    name = ""
    why = ""
    MIN_JOBS = 3  # timed jobs per run, however long they take

    def __init__(self, inputs_dir: Path, procs: int):
        self.dir = inputs_dir
        self.procs = procs
        self.census: dict = {}

    # -- inputs ------------------------------------------------------------
    def build(self, rng: np.random.Generator) -> None:
        """Write the seeded inputs under ``self.dir``; set the census."""
        raise NotImplementedError

    # -- before timing, and set-up ---------------------------------------------
    def prepare(self, spark, scratch: Path) -> None:
        """Untimed program work before the timed jobs: one full-size job,
        so the JVM's JIT and plan caches fill here and not in them."""
        self.load(spark)
        self.job(spark, scratch)
        shutil.rmtree(scratch, ignore_errors=True)

    def load(self, spark) -> None:
        """Open the input and any prior state (part of set-up)."""
        raise NotImplementedError

    def kernel_input(self, spark, where: str | None = None):
        """The (doc_id, spans) frame this workload's kernel stage sees."""
        raise NotImplementedError

    def kernel_frame(self, spark):
        """The docs that reach the kernel in one job (traced run)."""
        return self.kernel_input(spark)

    def warm(self, spark) -> None:
        """Spawn and warm the Python workers: one kernel stage over a
        few hundred docs (part of set-up)."""
        from ocr_spark.pipeline.extract import extract_documents_with_metrics

        small = self.kernel_input(spark, self.warm_filter)
        extract_documents_with_metrics(small).write.format("noop").mode("overwrite").save()

    # -- timed job -----------------------------------------------------------
    def job(self, spark, out: Path, tr=NoTrace()) -> list[str]:
        """One job; returns problems found by its cheap self-check."""
        raise NotImplementedError

    # -- correctness gate ----------------------------------------------------
    def check(self, out: Path) -> spec.Verdict:
        raise NotImplementedError

    def verdict(self, out: Path) -> spec.Verdict:
        """:meth:`check`, with a gate that crashes counted as failed."""
        try:
            return self.check(out)
        except Exception:
            return spec.Verdict(problems=["correctness gate raised:\n" + traceback.format_exc()])


class _RunnerWorkload(Workload):
    """Shared by full_extract and skewed_extract: one ExtractionRun."""

    def load(self, spark) -> None:
        self.docs = self.kernel_input(spark)

    def job(self, spark, out: Path, tr=NoTrace()) -> list[str]:
        from ocr_spark.pipeline.runner import ExtractionRun

        with tr.span("runner.run"):
            summary = ExtractionRun(spark, self.docs, str(out), _runner_config()).run()
        want = (self.census["docs"], self.census["spans"])
        got = (summary["n_docs"], summary["n_spans_in"])
        return [] if got == want else [f"run summary (docs, spans_in) {got} != {want}"]

    def _nested_out(self, out: Path) -> str:
        return _pq(out, "bucket=*/*.parquet")


class FullExtract(_RunnerWorkload):
    name = "full_extract"
    why = (
        "uniform small synthesized docs, no skew and no joins, so the kernel, "
        "the runner's commit groups and the parquet sink do most of the work"
    )
    N_DOCS = 20_000
    warm_filter = f"doc_id < {inputs.BASE_DOCS // 10}"

    def build(self, rng) -> None:
        flat = inputs.flat_docs(rng, self.N_DOCS)
        write_files(flat, self.dir / "flat")
        self.census = {
            "docs": flat.num_rows,
            "spans": _synth_spans(flat),
            "giant_doc_share": 0.0,
            "bytes": _bytes_under(self.dir / "flat"),
        }

    def kernel_input(self, spark, where=None):
        from ocr_spark.sources.synth import synthesize_spans

        flat = spark.read.parquet(str(self.dir / "flat"))
        return synthesize_spans(flat.where(where) if where else flat)

    def check(self, out: Path) -> spec.Verdict:
        con = spec.connect()
        flat = _pq(self.dir / "flat")
        return spec.compare(
            con,
            spec.nested_doc_hashes_sql(self._nested_out(out)),
            spec.flat_doc_hashes_sql(spec.synth_oracle_sql(flat)),
            f"SELECT doc_id FROM {flat}",
        )


class SkewedExtract(_RunnerWorkload):
    name = "skewed_extract"
    why = (
        "same kernel work as full_extract but log-normal doc sizes, a 1% giant "
        "tail and empty/malformed docs, so batch slicing, partition balance "
        "and the error-row path decide the time"
    )
    TARGET_SPANS = 475_000
    warm_filter = "doc_id < 'doc-00000100'"

    def build(self, rng) -> None:
        table = inputs.skewed_docs(rng, inputs.skewed_n_docs(self.TARGET_SPANS))
        write_files(table, self.dir / "docs")
        self.census = inputs.census(table)
        self.census["bytes"] = _bytes_under(self.dir / "docs")

    def kernel_input(self, spark, where=None):
        docs = spark.read.parquet(str(self.dir / "docs"))
        return docs.where(where) if where else docs

    def check(self, out: Path) -> spec.Verdict:
        con = spec.connect()
        table = pq.read_table(self.dir / "docs")
        con.register("expected", spec.pandas_spec_rows(table, self.procs))
        con.register("ids", table.select(["doc_id"]))
        return spec.compare(
            con,
            spec.nested_doc_hashes_sql(self._nested_out(out)),
            spec.flat_doc_hashes_sql("expected"),
            "SELECT doc_id FROM ids",
        )


class DailyDelta(Workload):
    name = "daily_delta"
    why = (
        "day-N incremental loop: the kernel sees ~7% of docs, so the hash scan, "
        "joins, carry-forward writes and the band-index join decide the time"
    )
    N_DOCS = 10_000
    # the first timed job is the first run of the day-N plans (no
    # separate warm-up job), so the median needs one more
    MIN_JOBS = 4
    warm_filter = f"doc_id < {inputs.BASE_DOCS // 10}"

    def build(self, rng) -> None:
        yesterday = inputs.flat_docs(rng, self.N_DOCS)
        today, ids = inputs.daily_delta(rng, yesterday)
        write_files(yesterday, self.dir / "yesterday")
        write_files(today, self.dir / "today")
        self._write_delta_ids(ids["deleted"])
        self.census = {
            "docs": today.num_rows,
            "spans": _synth_spans(today),
            "giant_doc_share": 0.0,
            "bytes": _bytes_under(self.dir / "today"),
            **self._delta_census(),
        }

    def prepare(self, spark, scratch: Path) -> None:
        """Yesterday's published state, as day N-1's job left it: its
        extraction output, hash state and band index. Building it runs
        the same layers as the timed job, which is warm-up enough: a
        separate warm-up job would cost more than the first, slower
        timed job moves the median."""
        from pyspark.sql import functions as F

        from ocr_spark.functions.dedup import minhash_band_index
        from ocr_spark.pipeline.extract import doc_input_hash, extract_main_content
        from ocr_spark.sources.synth import synthesize_spans

        self.state = scratch
        shutil.rmtree(scratch, ignore_errors=True)
        y = spark.read.parquet(str(self.dir / "yesterday"))
        y_spans = synthesize_spans(y)
        extract_main_content(y_spans).withColumn("recomputed", F.lit(1)).write.parquet(
            str(scratch / "out")
        )
        doc_input_hash(y_spans).write.parquet(str(scratch / "hashes"))
        minhash_band_index(y).write.parquet(str(scratch / "band_index"))
        self.load(spark)

    def _write_delta_ids(self, deleted) -> None:
        """The spec of change detection: today's docs whose synthesized
        span table hashes differently from yesterday's (or is new).
        An edit that lands in a picture span (synthesized with empty
        text) leaves the span table, and so the doc, unchanged."""
        from ocr_spark.pipeline.extract import doc_input_hash_sql
        from ocr_spark.sources.synth import synth_spans_sql

        def hashes(day: str) -> str:
            return doc_input_hash_sql(synth_spans_sql(_pq(self.dir / day)))

        con = spec.connect()
        con.register("deleted", pa.table({"doc_id": pa.array(deleted, pa.int64())}))
        con.execute(
            f"""
            COPY (
              SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                     CASE WHEN y.doc_id IS NULL THEN 'new' ELSE 'changed' END AS what
              FROM ({hashes('today')}) t LEFT JOIN ({hashes('yesterday')}) y USING (doc_id)
              WHERE y.input_hash IS DISTINCT FROM t.input_hash
              UNION ALL SELECT doc_id, 'deleted' FROM deleted
            ) TO '{self.dir / "delta_ids.parquet"}' (FORMAT parquet)
            """
        )

    def _delta_census(self) -> dict:
        rows = spec.connect().execute(
            f"SELECT what, count(*) FROM read_parquet('{self.dir / 'delta_ids.parquet'}') GROUP BY 1"
        ).fetchall()
        counts = dict(rows)
        return {f"{k}_docs": counts.get(k, 0) for k in ("changed", "deleted", "new")}

    def load(self, spark) -> None:
        state = self.state
        self.today = spark.read.parquet(str(self.dir / "today"))
        self.prev_hashes = spark.read.parquet(str(state / "hashes"))
        self.prev_out = spark.read.parquet(str(state / "out")).select(
            "doc_id", "kind", "text", "media_ref", "offset"
        )
        self.index = spark.read.parquet(str(state / "band_index"))

    def kernel_input(self, spark, where=None):
        from ocr_spark.sources.synth import synthesize_spans

        today = spark.read.parquet(str(self.dir / "today"))
        return synthesize_spans(today.where(where) if where else today)

    def delta_batch(self, spark):
        """(doc_id, text) of today's changed and new docs, per the spec."""
        ids = spark.read.parquet(str(self.dir / "delta_ids.parquet"))
        return self.today.select("doc_id", "text").join(
            ids.where("what IN ('changed', 'new')"), "doc_id", "left_semi"
        )

    def kernel_frame(self, spark):
        from ocr_spark.sources.synth import synthesize_spans

        return synthesize_spans(self.delta_batch(spark))

    def job(self, spark, out: Path, tr=NoTrace()) -> list[str]:
        from pyspark.sql import functions as F

        from ocr_spark.functions.dedup import (
            dedup_against_index,
            merge_band_index,
            minhash_band_index,
        )
        from ocr_spark.pipeline.extract import doc_input_hash, incremental_extract
        from ocr_spark.sources.synth import synthesize_spans

        shutil.rmtree(out, ignore_errors=True)
        docs = synthesize_spans(self.today)
        with tr.span("incremental.extract"):
            incremental_extract(docs, self.prev_hashes, self.prev_out).write.parquet(
                str(out / "extracted")
            )
        with tr.span("state.publish"):
            tmp, live = out / "state" / "hashes._tmp", out / "state" / "hashes"
            doc_input_hash(docs).write.parquet(str(tmp))
            os.replace(tmp, live)
        with tr.span("dedup.against_index"):
            delta = (
                spark.read.parquet(str(out / "extracted"))
                .where("recomputed = 1")
                .select(F.col("doc_id").cast("long").alias("doc_id"))
                .distinct()
            )
            batch = self.today.select("doc_id", "text").join(delta, "doc_id", "left_semi")
            dedup_against_index(batch, self.index).write.parquet(str(out / "dedup"))
        with tr.span("dedup.index_merge"):
            hits = spark.read.parquet(str(out / "dedup")).select(
                F.col("new_doc_id").alias("doc_id")
            )
            novel = batch.join(hits, "doc_id", "left_anti")
            merge_band_index(self.index, minhash_band_index(novel)).write.parquet(
                str(out / "band_index")
            )
        return []

    def check(self, out: Path) -> spec.Verdict:
        from ocr_spark.functions.dedup import dedup_against_index_sql
        from ocr_spark.pipeline.extract import doc_input_hash_sql
        from ocr_spark.sources.synth import synth_spans_sql

        con = spec.connect()
        today, yesterday = _pq(self.dir / "today"), _pq(self.dir / "yesterday")
        v = spec.compare(
            con,
            spec.flat_doc_hashes_sql(_pq(out / "extracted")),
            spec.flat_doc_hashes_sql(spec.synth_oracle_sql(today)),
            f"SELECT doc_id FROM {today}",
        )
        # the republished state is today's full hash state
        con.execute(f"CREATE TEMP TABLE want_state AS {doc_input_hash_sql(synth_spans_sql(today))}")
        got_state = f"SELECT doc_id, input_hash FROM {_pq(out / 'state' / 'hashes')}"
        v.problems += spec.compare_sets(con, got_state, "SELECT * FROM want_state", "hash state")
        # near-dup hits of the delta against yesterday's corpus
        ids = f"read_parquet('{self.dir / 'delta_ids.parquet'}')"
        delta = (
            f"(SELECT * FROM {today} WHERE doc_id IN "
            f"(SELECT doc_id FROM {ids} WHERE what IN ('changed', 'new')))"
        )
        con.execute(f"CREATE TEMP TABLE want_hits AS {dedup_against_index_sql(delta, yesterday)}")
        got_hits = f"SELECT new_doc_id, corpus_doc_id, n_match FROM {_pq(out / 'dedup')}"
        v.problems += spec.compare_sets(con, got_hits, "SELECT * FROM want_hits", "dedup pairs")
        # merged index keeps yesterday's rows and adds every novel doc
        merged = _pq(out / "band_index")
        lost, unindexed = con.execute(
            f"""
            SELECT (SELECT count(*) FROM (SELECT band, key, doc_id FROM {_pq(self.state / 'band_index')}
                                          EXCEPT SELECT band, key, doc_id FROM {merged})),
                   (SELECT count(*) FROM (SELECT doc_id FROM {delta}
                                          EXCEPT SELECT new_doc_id FROM want_hits
                                          EXCEPT SELECT doc_id FROM {merged}))
            """
        ).fetchone()
        if lost or unindexed:
            v.problems.append(f"merged band index lost {lost} rows, misses {unindexed} novel docs")
        return v


def _synth_spans(flat: pa.Table) -> int:
    """Spans ``synthesize_spans`` derives from a flat corpus."""
    from ocr_spark.sources.synth import WORDS_PER_SPAN

    words = pc.list_value_length(pc.split_pattern(flat.column("text"), " ")).to_numpy()
    return int(((words + WORDS_PER_SPAN - 1) // WORDS_PER_SPAN).sum())


WORKLOADS = {w.name: w for w in (FullExtract, SkewedExtract, DailyDelta)}
