"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched pandas UDFs, AQE for
post-shuffle coalescing and skew-join splitting, capped Arrow batch
sizes so one giant document cannot blow executor memory
(SURVEY.md §4.3 batch sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# A giant doc (20k spans, FIXTURES.md skew tail) must not be batched
# with thousands of siblings; iterator-style mapInArrow streams
# batches of this many *rows* (docs) at a time.
ARROW_MAX_RECORDS = 512


# Upper bound on the default driver heap (MiB).
MAX_DRIVER_MEM_MB = 16 * 1024


def default_driver_memory(
    meminfo: str = "/proc/meminfo",
    cgroup_max: str = "/sys/fs/cgroup/memory.max",
) -> str:
    """Default ``spark.driver.memory``: half the memory this process
    may use (the smaller of the cgroup limit and MemTotal), capped at
    MAX_DRIVER_MEM_MB. In local mode the driver JVM is the whole
    engine, and a heap as large as the machine gets the JVM killed by
    the OOM killer before G1 collects. Falls back to the cap when
    neither file is readable. OCR_SPARK_DRIVER_MEM overrides it."""
    limits = []
    try:
        with open(cgroup_max) as f:
            v = f.read().strip()  # a byte count, or "max"
        if v.isdigit():
            limits.append(int(v))
    except OSError:
        pass
    try:
        with open(meminfo) as f:
            for line in f:
                parts = line.split()
                if len(parts) > 1 and parts[0] == "MemTotal:" and parts[1].isdigit():
                    limits.append(int(parts[1]) * 1024)  # kB
    except OSError:
        pass
    mb = min([MAX_DRIVER_MEM_MB] + [b // 2 >> 20 for b in limits])
    return f"{mb}m"


def _default_local_dir(master: str) -> str | None:
    """Shuffle/spill/checkpoint block-file directory.

    LOCAL mode on this sandbox writes shuffle files to the root disk,
    where noisy-neighbor I/O makes identical queries swing 2-4x
    run-to-run; RAM-backed /dev/shm removes that jitter (measured:
    simhash at sf0.1 went 1.8-4.9 s disk -> a stable 0.95 s tmpfs).
    Applied ONLY for local[...] masters: on a real cluster
    spark.local.dir governs the EXECUTORS, where the right answer is
    the cluster's own local-NVMe dirs, never a driver-side guess — and
    a tmpfs default there would turn any shuffle larger than RAM into
    'No space left on device' instead of a disk spill. The same
    trade exists in local mode: set OCR_SPARK_LOCAL_DIR to a disk path
    (or to the empty string for Spark's default) when a local-mode
    shuffle may exceed free tmpfs space; extra_conf always wins."""
    if "OCR_SPARK_LOCAL_DIR" in os.environ:
        return os.environ["OCR_SPARK_LOCAL_DIR"] or None
    if not master.startswith("local"):
        return None
    shm = "/dev/shm/ocr_spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        if not os.access(shm, os.W_OK):
            return None
        return shm
    except OSError:
        return None


def get_spark(
    master: str | None = None,
    app_name: str = "ocr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # shuffle partitions ~ 2x cores in local mode; a real cluster run
    # would size this to 2-3x total executor cores (or rely on AQE).
    if shuffle_partitions is None:
        # master may be local[N], local[*], local[N,maxFailures], or
        # local-cluster[n,cores,mem] — the first bracketed number is
        # the parallelism hint; anything unparseable falls back to cpus
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        n = n.split(",")[0].strip()
        shuffle_partitions = 2 * (int(n) if n.isdigit() else cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config(
            "spark.driver.memory",
            os.environ.get("OCR_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if not (extra_conf and "spark.local.dir" in extra_conf):
        local_dir = _default_local_dir(master)
        if local_dir:
            b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
