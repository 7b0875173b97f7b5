#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload full_extract --seed 1 --seconds 16 --trace 0

Run from the repository root. The run

1. probes machine health (md5 rates, 1 and ``nproc`` processes);
2. builds the seeded inputs (cached per seed under ``.perfbench_work/``),
   starts a ``local[nproc]`` session and runs the program once untimed —
   one full-size job, or for ``daily_delta`` day N-1's run, which leaves
   the prior state — so the JVM's JIT and plan caches are warm;
3. runs the workload's job back to back in that session (closed loop,
   one job in flight) while the next job is expected to end within
   ``--seconds``, at least the workload's ``MIN_JOBS`` times, sampling
   the resident memory of the JVM and its Python workers; each metric
   is the median over the jobs;
4. sets up three times — session restart, a small warm-up kernel
   stage, loading the input and prior state — and reports the median
   as ``setup_s``;
5. checks the last job's committed output per document against the
   spec (``perfbench/spec.py``) — any mismatch fails the run;
6. probes machine health again.

With ``--trace 1`` it instead times each layer's public functions on
the workload's data and reports the per-layer metrics
(``perfbench/layers.py``). Every file it writes stays under
``.perfbench_work/`` in the repository root.

The last stdout line is the result JSON: ``correct``, ``attempted``,
``failed`` (jobs) and ``metrics`` (name -> value, unit). The line before
it carries the input census, machine-health probes and raw job times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
INPUT_VERSION = 1
KEEP_INPUT_SETS = 3  # cached input sets kept per workload
SETUP_SAMPLES = 3
# JVM heap, fixed and pre-touched: how far G1 grows a heap varies from
# run to run by hundreds of MB, which would drown ``peak_rss_mb``; with
# the heap pinned, the metric moves with the JVM's off-heap memory and
# the Python workers
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "span_seq_equal_frac": "ratio",
    "success_frac": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env() -> None:
    """Keep Spark, its workers and temp files inside the work dir."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["OCR_SPARK_LOCAL_DIR"] = str(WORK / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["OCR_SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def spark_conf() -> dict:
    return {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }


def start_session(cores: int):
    from ocr_spark.pipeline.session import get_spark

    return get_spark(f"local[{cores}]", app_name="perfbench", extra_conf=spark_conf())


def _prune_inputs(name: str, keep: Path) -> None:
    sets = sorted(
        (p for p in (WORK / "inputs").glob(f"{name}-*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in sets[: max(0, len(sets) - (KEEP_INPUT_SETS - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def prepare_inputs(wl, seed: int) -> None:
    """Build the workload's inputs for ``seed`` unless already cached."""
    import numpy as np

    marker = wl.dir / "census.json"
    if marker.exists():
        wl.census = json.loads(marker.read_text())
        return
    shutil.rmtree(wl.dir, ignore_errors=True)
    wl.dir.mkdir(parents=True)
    wl.build(np.random.default_rng(seed))
    marker.write_text(json.dumps(wl.census))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    from perfbench.health import descendants, wait_gone

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = descendants(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # a next session relaunches
    wait_gone(workers, timeout_s=60)


def setup(wl, spark, cores: int):
    """SETUP_SAMPLES x (session restart + warm-up + load); the session
    of the last sample stays up. -> (spark, [setup s], [start s])."""
    totals, starts = [], []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores)
        t1 = time.perf_counter()
        wl.warm(spark)
        wl.load(spark)
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, totals, starts


def timed_loop(wl, spark, seconds: float, runs_dir: Path):
    """Closed loop of jobs for ``seconds`` -> (job walls, per-job
    failure flags, last output dir, per-job peak rss bytes, problems)."""
    from perfbench.health import RssSampler

    walls, failed, problems, last, peaks = [], [], [], None, []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        i = 0
        # at least wl.MIN_JOBS jobs; after that, start a job only if a
        # median-length job still ends inside the window
        while (
            len(walls) < wl.MIN_JOBS
            or time.perf_counter() - t_start + statistics.median(walls) <= seconds
        ):
            out = runs_dir / f"job-{i}"
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            try:
                found = wl.job(spark, out)
            except Exception:
                found = ["job raised:\n" + traceback.format_exc()]
            walls.append(time.perf_counter() - t0)
            peaks.append(rss.take_peak())
            failed.append(bool(found))
            problems += found
            if last is not None:
                shutil.rmtree(last, ignore_errors=True)
            last, i = out, i + 1
            rss.take_peak()  # the cleanup above is not part of a job
    return walls, failed, last, peaks, problems


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ocr_spark" / "__init__.py").is_file():
        print(f"error: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    _configure_env()
    from perfbench import health

    cores = nproc()
    info: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    info["health_before"] = health.probe(cores)

    wl = WORKLOADS[args.workload](
        WORK / "inputs" / f"{args.workload}-s{args.seed}-v{INPUT_VERSION}", cores
    )
    runs_dir = WORK / "runs" / args.workload
    shutil.rmtree(runs_dir, ignore_errors=True)
    runs_dir.mkdir(parents=True)
    phase = info["phase_s"] = {}
    t0 = time.perf_counter()
    prepare_inputs(wl, args.seed)
    _prune_inputs(args.workload, wl.dir)
    info["census"] = wl.census
    phase["inputs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_session(cores)
    phase["cold_start"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark, runs_dir / "prepare")
    phase["prepare"] = time.perf_counter() - t0

    if args.trace:
        from perfbench import layers

        metrics, failed, attempted, problems, spark = layers.traced_run(
            wl, spark, runs_dir, cores, info, start_session,
            WORK / "traces" / f"{args.workload}-s{args.seed}.json",
        )
        stop_spark(spark)
    else:
        t0 = time.perf_counter()
        walls, job_failed, last, peaks, problems = timed_loop(wl, spark, args.seconds, runs_dir)
        phase["timed_loop"] = time.perf_counter() - t0
        # set-up is sampled after the timed jobs, so that those run in
        # the session the warm-up job ran in, not in a just-restarted one
        spark, setups, _ = setup(wl, spark, cores)
        info["setup_samples_s"] = setups
        t0 = time.perf_counter()
        stop_spark(spark)
        phase["stop"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        verdict = wl.verdict(last)
        phase["check"] = time.perf_counter() - t0
        job_failed[-1] |= not verdict.ok
        problems += verdict.problems
        attempted, failed = len(walls), sum(job_failed)
        rates = [wl.census["docs"] / w for w in walls]
        info["job_s"] = walls
        info["docs_per_s_quartiles"] = statistics.quantiles(rates, n=4)
        metrics = {
            "docs_per_s": statistics.median(rates),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": statistics.median(peaks) / 2**20,
            "span_seq_equal_frac": verdict.span_seq_equal_frac,
            "success_frac": 1 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    shutil.rmtree(runs_dir, ignore_errors=True)
    info["health_after"] = health.probe(cores)
    info["problems"] = problems
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": not problems and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
