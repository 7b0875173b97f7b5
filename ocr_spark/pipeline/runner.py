"""Checkpoint-resumable extraction runs with per-partition lineage
(SURVEY.md T1-T5, §4.3; the columnar rewrite of the reference's
split-job cursor protocol, /root/reference/webapp/jobs.py:25-291).

Unit of work = a doc_id hash bucket (the analog of the reference's
per-page cursor). A run:

1. writes a manifest once: (run_id, n_buckets, config snapshot) —
   T1 job creation. Like every record and marker of the run, it is
   written through the output path's Hadoop ``FileSystem``
   (``pipeline.storage``), beside the table on any file system;
2. processes pending buckets in commit groups; each group is ONE Spark
   job that writes ``bucket=<k>/`` parquet partitions (overwrite-by-
   partition discipline -> idempotent re-runs; the Iceberg analog is
   a MERGE/replacePartitions commit) — T3/T4. A few groups are in
   flight at once (submitted from a small driver thread pool), so one
   group's planning, straggler tail and commit overlap the next
   group's tasks. Each group reads the input filtered to its buckets:
   the bucket hash predicate is pushed into the parquet scan, below
   any derivation of the span table (e.g. the synthesizer), so a group
   derives and extracts only its own docs;
3. the write itself collects each bucket's lineage (``observe`` with
   one conditional aggregate per bucket, in the write's result stage —
   no read-back of the output); after the group commits, writes one
   lineage record per bucket:
   (run_id, bucket, status, attempt, n_docs, n_spans_in, n_spans_out,
   parse_failures, wall_ms[, checksum60 with
   ``RunConfig.checksum_output``]) as a single JSON file per bucket —
   the storage layer's write is atomic (tmp + rename; a failed rename
   raises), so a crash mid-group leaves
   those buckets pending and the next invocation redoes exactly them —
   T2/T5 rollback-free retry; a failed group leaves only its own
   buckets pending. ``verify_output()`` byte-audits the table against
   the recorded checksums;
4. resume = skip buckets whose lineage record exists (the anti-join
   against done work): one listing of the lineage directory.

Determinism guarantees idempotence: bucket assignment is a pure hash
of doc_id, the kernel is deterministic, and output files are
overwritten whole per bucket.

At cluster scale the same structure holds with Iceberg: manifest ->
table property, lineage -> ``_lineage`` table appended per commit,
bucket -> ``bucket(N, doc_id)`` partition transform.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ocr_spark.kernel.extract import DEFAULT_CONFIG, ExtractConfig
from ocr_spark.pipeline.extract import extract_documents_with_metrics, weight_partition
from ocr_spark.pipeline.sinks import bucket_col
from ocr_spark.pipeline.storage import FileStore
from ocr_spark.schema import DOC_WITH_METRICS_SCHEMA

# what the runner's parquet table holds: kernel output + the bucket
# partition column. Passed explicitly to verify_output's read (the only
# read of the table) so buckets that hold ZERO rows (possible when
# n_buckets >> corpus) still read back as an empty frame instead of
# failing schema inference.
OUTPUT_SCHEMA = StructType(
    DOC_WITH_METRICS_SCHEMA.fields + [StructField("bucket", IntegerType(), True)]
)

# commit groups in flight at once (one Spark job each)
_GROUPS_IN_FLIGHT = 4


@dataclass(frozen=True)
class RunConfig:
    run_id: str
    n_buckets: int = 16
    buckets_per_commit: int = 4
    kernel: ExtractConfig = DEFAULT_CONFIG
    # size-aware skew handling: pre-spread docs across this many hash
    # partitions with heaviest-first ordering before the kernel (LPT
    # heuristic; see pipeline.extract.weight_partition). None = rely on
    # the input's partitioning.
    size_weighted_partitions: int | None = None
    # record an order-insensitive content checksum per bucket in the
    # lineage (functions/audit.py modular-sum scheme over the full
    # output row incl. spans), summed from the rows as they are
    # written. Turns lineage into a byte-level audit: verify_output()
    # re-derives the sums from the files and flags any bucket whose
    # bytes drifted from what its commit recorded. COST: every written
    # row is hashed, including to_json(spans) (the bulk of the output
    # bytes), during the write — no extra read, no extra shuffle. Off
    # by default for that reason.
    checksum_output: bool = False
    # caller-declared description of how the INPUT frame was derived
    # (synthesis, gates, filters) — pinned in the manifest and
    # verified on resume, because done-bucket records are only valid
    # if later invocations feed the identically-derived input (resuming
    # a half-done run with a different gate would mix gated and
    # ungated buckets in one table). Any JSON-serializable dict;
    # jobs/extract.py passes {"synthesize": ...}.
    input_config: dict | None = None

    def __post_init__(self):
        # checked here, before any manifest pins the value: 0 or
        # negative buckets would commit an empty "complete" run, and a
        # zero group size fails only after the manifest is written
        for name in ("n_buckets", "buckets_per_commit"):
            value = getattr(self, name)
            if value < 1:
                raise ValueError(f"{name} must be >= 1, got {value}")


def _row_checksum60():
    """Per-row 60-bit content hash over the FULL output row, rendered
    the audit.py way (coalesce each part to chr(0), chr(1) separator —
    concat_ws's silent NULL-skip never fires). ``spans`` is rendered
    via to_json: struct field order and span order are fixed by the
    output contract, so the rendering is deterministic. Spark-side
    self-consistency is all a rebuild audit needs (no DuckDB twin —
    the corpus-level twin lives in functions/audit.py)."""
    from ocr_spark.functions.hashing import md5_long

    parts = [
        F.coalesce(F.col("doc_id"), F.lit("\x00")),
        F.coalesce(F.to_json(F.col("spans")), F.lit("\x00")),
        F.coalesce(F.col("n_spans_in").cast("string"), F.lit("\x00")),
        F.coalesce(F.col("n_spans_out").cast("string"), F.lit("\x00")),
        F.coalesce(F.col("parse_failed").cast("string"), F.lit("\x00")),
    ]
    return md5_long(F.concat_ws("\x01", *parts))


# lineage counter -> the output column it sums per bucket (n_docs
# counts the bucket's rows)
_SUMS = {"n_spans_in": "n_spans_in", "n_spans_out": "n_spans_out", "parse_failures": "parse_failed"}


def _lineage_aggs(buckets: list[int], with_checksum: bool) -> list:
    """One conditional aggregate per (counter, bucket), named
    ``<counter>:<bucket>`` — the observed metrics of a commit group.
    ``_checksum60`` is the per-row hash column the writer adds."""
    from ocr_spark.functions.audit import checksum_agg

    aggs = []
    for b in buckets:
        in_b = F.col("bucket") == b
        aggs.append(F.count(F.when(in_b, True)).alias(f"n_docs:{b}"))
        aggs += [F.sum(F.when(in_b, F.col(c))).alias(f"{k}:{b}") for k, c in _SUMS.items()]
        if with_checksum:
            aggs.append(
                checksum_agg(F.when(in_b, F.col("_checksum60"))).alias(f"checksum60:{b}")
            )
    return aggs


class ExtractionRun:
    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        output_dir: str,
        cfg: RunConfig,
    ):
        self.spark = spark
        self.docs = docs
        self.out = output_dir.rstrip("/")
        self.cfg = cfg
        self.lineage_dir = f"{self.out}/_lineage/{cfg.run_id}"
        self._abort_marker = f"{self.lineage_dir}/aborted.json"
        self.store = FileStore(self.out, spark)

    # -- T1: manifest ------------------------------------------------------
    def write_manifest(self) -> None:
        """Write the run snapshot — or, on resume, VERIFY the current
        config against it: done-bucket records are only valid under the
        manifest's bucket function and kernel config, so resuming with
        e.g. a different n_buckets would skip buckets that now hold
        different docs and silently corrupt the table."""
        path = f"{self.lineage_dir}/manifest.json"
        manifest = {
            "run_id": self.cfg.run_id,
            "n_buckets": self.cfg.n_buckets,
            "buckets_per_commit": self.cfg.buckets_per_commit,
            "kernel": asdict(self.cfg.kernel),
            "input_config": self.cfg.input_config,
        }
        if not self.store.exists(path):
            self.store.write_json(path, manifest, indent=2)
            return
        # resume: the manifest is immutable per run_id
        stored = self.store.read_json(path)
        pinned = ("n_buckets", "kernel", "input_config")
        current = {k: manifest[k] for k in pinned}
        recorded = {k: stored.get(k) for k in pinned}
        if current != recorded:
            raise ValueError(
                f"run '{self.cfg.run_id}' was created with {recorded}; "
                f"resuming with {current} would corrupt the output — "
                "use a new run_id (or cleanup_orphan_runs) to reprocess"
            )

    # -- lineage ----------------------------------------------------------
    def _record_path(self, bucket: int) -> str:
        return f"{self.lineage_dir}/bucket-{bucket:05d}.json"

    def _records(self) -> dict[int, dict]:
        """bucket -> record of every done bucket, from one listing (the
        manifest, markers, ``.crc``s and ``.tmp`` leftovers are skipped)."""
        recs = {}
        for name in self.store.list_files(self.lineage_dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                rec = self.store.read_json(f"{self.lineage_dir}/{name}")
                if rec.get("status") == "done":
                    recs[rec["bucket"]] = rec
        return recs

    def done_buckets(self) -> set[int]:
        return set(self._records())

    # -- T3/T4: process + commit ------------------------------------------
    def _group_df(self, buckets: list[int]) -> DataFrame:
        """The commit-group plan: ONE kernel execution, no joins.

        bucket is a pure function of doc_id (sinks.bucket_col), so it is
        filtered on the input and recomputed on the kernel output with
        a withColumn (no doc_id join, no second kernel pass). The input
        filter is pushed into the scan's DataFilters, below any
        derivation of the span table."""
        subset = self.docs.where(bucket_col("doc_id", self.cfg.n_buckets).isin(buckets))
        if self.cfg.size_weighted_partitions:
            subset = weight_partition(subset, self.cfg.size_weighted_partitions)
        # the trailing where() is defense in depth: bucket is the same
        # pure function on both sides, so it filters nothing — but if a
        # future kernel change ever rewrote an id, the dynamic-partition
        # overwrite would otherwise replace a bucket OUTSIDE this commit
        # group and clobber committed data. Dropping such a row instead
        # leaves its true bucket pending for a later (correct) commit.
        return (
            extract_documents_with_metrics(subset, self.cfg.kernel)
            .withColumn("bucket", bucket_col("doc_id", self.cfg.n_buckets))
            .where(F.col("bucket").isin(buckets))
        )

    def _process_group(self, buckets: list[int], attempt: int) -> dict[int, dict]:
        """One Spark job: write the group's ``bucket=<k>/`` partitions
        and collect their lineage counts on the way through
        (``observe``), then write the lineage records. Returns them,
        by bucket."""
        t0 = time.time()
        out = self._group_df(buckets).repartition(len(buckets), "bucket")
        cols = out.columns
        if self.cfg.checksum_output:
            # hashed once per row here; the per-bucket sums pick it up
            out = out.withColumn("_checksum60", _row_checksum60())
        # observe sits after the last exchange, in the write's result
        # stage: Spark applies a result task's accumulator update once
        # per partition, so a retried task cannot double-count
        obs = Observation(f"lineage:{self.cfg.run_id}:{buckets[0]}")
        (
            out.observe(obs, *_lineage_aggs(buckets, self.cfg.checksum_output))
            .select(*cols)
            .write.partitionBy("bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.out)
        )
        m = obs.get
        wall_ms = int((time.time() - t0) * 1000)
        recs = {}
        for b in buckets:
            rec = {"run_id": self.cfg.run_id, "bucket": b, "status": "done", "attempt": attempt}
            # a NULL sum is an empty bucket: 0, also for the checksum
            # (the additive identity, what the modular sum over zero
            # rows yields)
            rec.update({k: int(m[f"{k}:{b}"] or 0) for k in ("n_docs", *_SUMS)})
            rec["wall_ms"] = wall_ms
            if self.cfg.checksum_output:
                rec["checksum60"] = int(m[f"checksum60:{b}"] or 0)
            self.store.write_json(self._record_path(b), rec)
            recs[b] = rec
        return recs

    def verify_output(self) -> list[int]:
        """Byte-audit the written table against its lineage: re-derive
        each done bucket's order-insensitive checksum from the files
        on disk and return the buckets whose content no longer matches
        what their commit recorded (post-hoc edits, partial rewrites,
        a bad compaction). Requires records written with
        ``checksum_output=True``; records without a checksum are
        skipped — they predate the flag and can't be audited. One scan
        of the audited buckets, one partial-agg shuffle."""
        from ocr_spark.functions.audit import checksum_agg

        recorded = {
            b: (rec["checksum60"], rec["n_docs"])
            for b, rec in self._records().items()
            if "checksum60" in rec
        }
        if not recorded:
            return []
        rows = (
            self.spark.read.schema(OUTPUT_SCHEMA).parquet(self.out)
            .where(F.col("bucket").isin(sorted(recorded)))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                checksum_agg(_row_checksum60()).alias("checksum60"),
            )
            .collect()
        )
        actual = {r.bucket: (int(r.checksum60), int(r.n_docs)) for r in rows}
        return sorted(b for b, want in recorded.items() if actual.get(b, (0, 0)) != want)

    # -- T6: cancel / cleanup ---------------------------------------------
    def abort(self, reason: str = "") -> None:
        """T6 run-abort (reference cancel analog,
        /root/reference/webapp/jobs.py:293-321): mark the run aborted.
        Committed buckets keep their lineage (idempotent output is
        already durable); pending buckets stay pending. The next
        ``run()`` on this run_id clears the marker and resumes."""
        self.store.write_json(self._abort_marker, {"run_id": self.cfg.run_id, "reason": reason})

    def is_aborted(self) -> bool:
        return self.store.exists(self._abort_marker)

    # -- T2/T5: run with resume -------------------------------------------
    def run(self, fail_after_groups: int | None = None) -> dict:
        """Process all pending buckets, a few commit groups at a time.
        A failed group leaves its buckets pending; its error is
        re-raised (the first, in group order) once every group has
        finished. ``fail_after_groups`` is a test hook simulating a
        mid-run crash: groups from that index on fail before they
        write. Returns the run summary."""
        self.write_manifest()
        self.store.delete(self._abort_marker)  # resuming an aborted run
        # the lineage is read once: later records are the groups' own
        recs = self._records()
        pending = [b for b in range(self.cfg.n_buckets) if b not in recs]
        attempt = 1 if not recs else 2
        groups = [
            pending[i : i + self.cfg.buckets_per_commit]
            for i in range(0, len(pending), self.cfg.buckets_per_commit)
        ]
        n_ok = len(groups) if fail_after_groups is None else fail_after_groups

        def commit(gi: int, group: list[int]) -> dict[int, dict]:
            if gi >= n_ok:
                raise RuntimeError(f"simulated crash before group {gi}")
            return self._process_group(group, attempt)

        # the default FIFO scheduler runs the earliest group's tasks
        # first; later groups fill the cores its planning, straggler
        # tail and commit leave idle. Each group commits or leaves its
        # buckets pending on its own, so a failure waits for the rest.
        with ThreadPoolExecutor(max_workers=_GROUPS_IN_FLIGHT) as pool:
            futures = [pool.submit(commit, gi, g) for gi, g in enumerate(groups)]
        for f in futures:
            if f.exception() is not None:
                raise f.exception()
            recs.update(f.result())
        return {
            "run_id": self.cfg.run_id,
            "buckets_done": len(recs),
            "n_buckets": self.cfg.n_buckets,
            **{k: sum(r[k] for r in recs.values()) for k in ("n_docs", *_SUMS)},
        }

    def output(self) -> DataFrame:
        return self.spark.read.parquet(self.out)


def list_runs(output_dir: str) -> list[str]:
    """run_ids with lineage state under ``output_dir``."""
    return FileStore(output_dir).list_dirs(f"{output_dir.rstrip('/')}/_lineage")


def cleanup_orphan_runs(output_dir: str, keep: set[str] | frozenset[str]) -> list[str]:
    """T6 orphan GC (reference asset-cleanup analog,
    /root/reference/webapp/state.py:229-302): delete lineage/checkpoint
    state for every run_id NOT in ``keep``. The OUTPUT table is never
    touched — lineage dirs are bookkeeping; output partitions are owned
    by whichever run last committed them (idempotent overwrite-by-
    partition). Returns the removed run_ids."""
    store = FileStore(output_dir)
    removed = []
    root = f"{output_dir.rstrip('/')}/_lineage"
    stg_root = f"{output_dir.rstrip('/')}/_staging"
    for run_id in list_runs(output_dir):
        if run_id not in keep:
            store.delete(f"{root}/{run_id}")
            # runs of earlier versions could stage a bucket-partitioned
            # copy of their input here — scratch space, GC'd with them
            store.delete(f"{stg_root}/{run_id}")
            removed.append(run_id)
    return removed
