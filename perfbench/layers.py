"""Traced run: per-layer metrics from spans around each layer's public calls.

Spans (name, start, end, parent) are recorded by :class:`Tracer` from
the benchmark's own code, around the calls into

- ``pipeline.session``   — ``get_spark`` (set-up samples);
- ``pipeline.runner``    — ``ExtractionRun.run`` (+ its lineage records);
- ``pipeline.extract``   — ``extract_documents_with_metrics``,
  ``doc_input_hash``, ``incremental_extract``;
- ``kernel.arrow_extract`` — ``extract_nested_metrics_batch``, called
  directly on the workload's Arrow batches;
- ``functions.dedup``    — ``minhash_band_index``,
  ``dedup_against_index``, ``merge_band_index``;

and Spark's own status store supplies the engine counters (stages,
tasks, shuffle bytes, GC time) of one traced job. Spans stay in memory
and are written to ``.perfbench_work/traces/`` when the run ends.

Every per-layer metric is reported on every workload; a layer that is
not on a workload's path reads 0 (e.g. ``dedup.*`` on full_extract).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

UNITS = {
    "session.start_s": "s",
    "kernel.busy_s": "s",
    "kernel.ns_per_span": "ns",
    "kernel.calls": "count",
    "kernel.spans_in": "count",
    "kernel.spans_out": "count",
    "kernel.keep_ratio": "ratio",
    "kernel.parse_failures": "count",
    "extract.stage_s": "s",
    "extract.overhead_s": "s",
    "extract.task_max_over_median": "ratio",
    "extract.partition_spans_max_over_mean": "ratio",
    "runner.run_s": "s",
    "runner.groups": "count",
    "runner.group_s_max": "s",
    "runner.overhead_s": "s",
    "sink.write_s": "s",
    "sink.bytes": "bytes",
    "sink.files": "count",
    "incremental.hash_s": "s",
    "incremental.s": "s",
    "incremental.recomputed_docs": "count",
    "incremental.recompute_frac": "ratio",
    "incremental.carried_rows": "count",
    "state.publish_s": "s",
    "dedup.sign_s": "s",
    "dedup.join_s": "s",
    "dedup.candidates": "count",
    "dedup.matches": "count",
    "dedup.match_ratio": "ratio",
    "dedup.index_merge_s": "s",
    "dedup.index_rows": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "stages": "count",
    "tasks": "count",
    "gc_s": "s",
    "scaling_eff_1to4": "ratio",
    "trace.overhead_frac": "ratio",
}

TRACE_PAIRS = 2  # untraced/traced job pairs for the tracing overhead


class Tracer:
    """In-memory span recorder: (name, start, end, parent) per span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self.spans[self._open[-1]]["name"] if self._open else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self._t0

    def last(self, name: str) -> float:
        """Duration of the most recent closed span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        return 0.0

    def timed(self, name: str, fn):
        with self.span(name):
            fn()
        return self.last(name)


class StageLog:
    """Stages Spark ran since :meth:`mark`, from its status store."""

    def __init__(self, spark):
        self.spark = spark
        self.mark()

    def _stages(self) -> list:
        jvm = self.spark.sparkContext._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        seq = store.stageList(
            None, False, False,
            self.spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.length())]

    def mark(self) -> None:
        self._seen = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def new(self) -> list:
        return [s for s in self._stages() if (s.stageId(), s.attemptId()) not in self._seen]

    def engine_metrics(self) -> dict:
        stages = self.new()
        return {
            "shuffle.write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "shuffle.read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000,
        }

    def task_skew(self) -> float:
        """max / median task duration of the last (result) stage."""
        stages = self.new()
        if not stages:
            return 0.0
        last = max(stages, key=lambda s: s.stageId())
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tasks = store.taskList(last.stageId(), last.attemptId(), 100_000)
        durs = []
        for i in range(tasks.length()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_metrics(table, tr: Tracer) -> dict:
    """Direct calls of the Arrow kernel on the workload's batches, cut
    as the runner cuts them: ARROW_MAX_RECORDS docs per Arrow batch,
    re-sliced at doc boundaries to at most MAX_SPANS_PER_KERNEL_CALL
    spans per call."""
    import numpy as np
    import pyarrow.compute as pc

    from ocr_spark.kernel.arrow_extract import extract_nested_metrics_batch
    from ocr_spark.pipeline.extract import MAX_SPANS_PER_KERNEL_CALL
    from ocr_spark.pipeline.session import ARROW_MAX_RECORDS

    calls, busy, spans_in, spans_out, failures = 0, 0.0, 0, 0, 0
    with tr.span("kernel.arrow_extract"):
        for batch in table.to_batches(max_chunksize=ARROW_MAX_RECORDS):
            lens = pc.fill_null(pc.list_value_length(batch.column("spans")), 0).to_numpy()
            cut = np.cumsum(lens) // MAX_SPANS_PER_KERNEL_CALL
            bounds = np.flatnonzero(np.diff(cut)) + 1
            for lo, hi in zip([0, *bounds], [*bounds, batch.num_rows]):
                part = batch.slice(lo, hi - lo)
                t0 = time.perf_counter()
                out = extract_nested_metrics_batch(part)
                busy += time.perf_counter() - t0
                calls += 1
                spans_in += pc.sum(out.column("n_spans_in")).as_py() or 0
                spans_out += pc.sum(out.column("n_spans_out")).as_py() or 0
                failures += pc.sum(out.column("parse_failed")).as_py() or 0
    return {
        "kernel.busy_s": busy,
        "kernel.ns_per_span": busy * 1e9 / spans_in if spans_in else 0.0,
        "kernel.calls": calls,
        "kernel.spans_in": spans_in,
        "kernel.spans_out": spans_out,
        "kernel.keep_ratio": spans_out / spans_in if spans_in else 0.0,
        "kernel.parse_failures": failures,
    }


def extract_metrics(spark, frame, busy_s: float, cores: int, tr: Tracer) -> dict:
    """The kernel's Spark stage: wall of a noop materialisation of
    ``extract_documents_with_metrics``, its task skew and the spans
    per input partition."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.extract import extract_documents_with_metrics

    log = StageLog(spark)
    stage_s = tr.timed("extract.stage", lambda: _noop(extract_documents_with_metrics(frame)))
    task_skew = log.task_skew()
    per_part = (
        frame.select(F.spark_partition_id().alias("p"), F.size("spans").alias("n"))
        .groupBy("p").agg(F.sum(F.greatest("n", F.lit(0))).alias("n"))
        .collect()
    )
    total = sum(r.n for r in per_part)
    mean = total / frame.rdd.getNumPartitions() if total else 0
    return {
        "extract.stage_s": stage_s,
        "extract.overhead_s": stage_s - busy_s / cores,
        "extract.task_max_over_median": task_skew,
        "extract.partition_spans_max_over_mean": max(r.n for r in per_part) / mean if mean else 0.0,
    }


def runner_metrics(spark, out: Path, run_s: float, stage_s: float, scratch: Path, tr: Tracer) -> dict:
    """Lineage records and committed files of one ExtractionRun, plus
    the parquet sink's time to write the same rows in the same layout."""
    from perfbench.workloads import RUN_ID, _runner_config

    cfg = _runner_config()
    recs = [json.loads(p.read_text()) for p in (out / "_lineage" / RUN_ID).glob("bucket-*.json")]
    files = list(out.glob("bucket=*/*.parquet"))
    rows = spark.read.parquet(str(out)).localCheckpoint(eager=True)
    write_s = tr.timed(
        "sink.write",
        lambda: rows.repartition(cfg.n_buckets, "bucket")
        .write.partitionBy("bucket").parquet(str(scratch)),
    )
    return {
        "runner.run_s": run_s,
        "runner.groups": -(-cfg.n_buckets // cfg.buckets_per_commit),
        "runner.group_s_max": max((r["wall_ms"] for r in recs), default=0) / 1000,
        "runner.overhead_s": run_s - stage_s - write_s,
        "sink.write_s": write_s,
        "sink.bytes": sum(p.stat().st_size for p in files),
        "sink.files": len(files),
    }


def delta_metrics(spark, wl, out: Path, tr: Tracer) -> dict:
    """incremental_extract, state publish and dedup layers of daily_delta."""
    from ocr_spark.functions.dedup import dedup_against_index, minhash_band_index
    from ocr_spark.pipeline.extract import doc_input_hash

    extracted = spark.read.parquet(str(out / "extracted"))
    recomputed = extracted.where("recomputed = 1").select("doc_id").distinct().count()
    expected = wl.census["changed_docs"] + wl.census["new_docs"]
    batch = wl.delta_batch(spark)
    sign_s = tr.timed("dedup.sign", lambda: _noop(minhash_band_index(batch)))
    with tr.span("dedup.candidates"):
        candidates = dedup_against_index(batch, wl.index, min_match=0).count()
    matches = spark.read.parquet(str(out / "dedup")).count()
    return {
        "incremental.hash_s": tr.timed(
            "incremental.hash", lambda: _noop(doc_input_hash(wl.kernel_input(spark)))
        ),
        "incremental.s": tr.last("incremental.extract"),
        "incremental.recomputed_docs": recomputed,
        "incremental.recompute_frac": recomputed / expected if expected else 0.0,
        "incremental.carried_rows": extracted.where("recomputed = 0").count(),
        "state.publish_s": tr.last("state.publish"),
        "dedup.sign_s": sign_s,
        "dedup.join_s": max(0.0, tr.last("dedup.against_index") - sign_s),
        "dedup.candidates": candidates,
        "dedup.matches": matches,
        "dedup.match_ratio": matches / candidates if candidates else 0.0,
        "dedup.index_merge_s": tr.last("dedup.index_merge"),
        "dedup.index_rows": spark.read.parquet(str(out / "band_index")).count(),
    }


def traced_run(wl, spark, runs_dir: Path, cores, info, start_session, trace_path: Path):
    """-> (metrics, failed, attempted, problems, spark) for --trace 1:
    a fixed set of calls, independent of --seconds."""
    from perfbench.workloads import NoTrace

    tr = Tracer()
    m = dict.fromkeys(UNITS, 0)
    problems: list[str] = []

    # one settling job (daily_delta's first day-N job is its first run
    # of those plans), then untraced/traced jobs in ABBA order so the
    # rest of the warm-up trend cancels: tracing overhead + the traced
    # job's spans and engine counters
    wl.job(spark, runs_dir / "settle")
    walls = {False: [], True: []}
    out = None
    for i in range(TRACE_PAIRS):
        for traced in ((False, True), (True, False))[i % 2]:
            log = StageLog(spark)
            job_out = runs_dir / f"job-{i}-{int(traced)}"
            t0 = time.perf_counter()
            problems += wl.job(spark, job_out, tr if traced else NoTrace())
            walls[traced].append(time.perf_counter() - t0)
            if traced:
                m.update(log.engine_metrics())
                out = job_out
    job_s = statistics.median(walls[True])
    m["trace.overhead_frac"] = job_s / statistics.median(walls[False]) - 1

    t0 = time.perf_counter()
    m.update(kernel_metrics(wl.kernel_frame(spark).toArrow(), tr))
    m.update(extract_metrics(spark, wl.kernel_frame(spark), m["kernel.busy_s"], cores, tr))
    if wl.name == "daily_delta":
        m.update(delta_metrics(spark, wl, out, tr))
    else:
        m.update(
            runner_metrics(spark, out, tr.last("runner.run"), m["extract.stage_s"],
                           runs_dir / "sink", tr)
        )
    info["phase_s"]["layers"] = time.perf_counter() - t0
    verdict = wl.verdict(out)
    problems += verdict.problems

    from perfbench.run import setup

    spark, _, starts = setup(wl, spark, cores)
    m["session.start_s"] = statistics.median(starts)
    # single-core leg of the same job: the N -> 1 scaling diagnostic
    spark.stop()
    spark = start_session(1)
    wl.warm(spark)
    wl.load(spark)
    with tr.span("job.local1"):
        wl.job(spark, runs_dir / "local1")
    m["scaling_eff_1to4"] = tr.last("job.local1") / (cores * job_s)

    trace_path.parent.mkdir(parents=True, exist_ok=True)
    trace_path.write_text(json.dumps(tr.spans, indent=1))
    info["trace_job_s"] = walls
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}
    attempted = 2 * TRACE_PAIRS + 2
    return metrics, int(bool(problems)), attempted, problems, spark
