"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched pandas UDFs, AQE for
post-shuffle coalescing and skew-join splitting, capped Arrow batch
sizes so one giant document cannot blow executor memory
(SURVEY.md §4.3 batch sizing). Worker side, settle_python_worker is
the one-time set-up every Python UDF body runs first.
"""

from __future__ import annotations

import gc
import os
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

# A giant doc (20k spans, FIXTURES.md skew tail) must not be batched
# with thousands of siblings; iterator-style mapInArrow streams
# batches of this many *rows* (docs) at a time.
ARROW_MAX_RECORDS = 512


_worker_settled = False


def settle_python_worker() -> None:
    """One-time set-up of a reused Python worker; every UDF body in the
    package calls it first. A no-op outside a Spark task, so the driver
    (and a test process) is never touched.

    A reused worker pays two fixed costs on every task, measured at
    0.2-0.5 s per task on a 4-core VM — more than the kernel and the
    Arrow transfer of a typical task together:

    - the task set-up calls ``importlib.invalidate_caches()``, and on
      CPython < 3.13 each ``zipimporter`` on the path (one per imported
      subpackage of pyspark.zip, the py4j zip, the spark-core jar and
      any ``--py-files`` zip) re-parses its archive's whole central
      directory. :func:`_reread_zip_only_when_changed` makes that
      re-read conditional on the archive's (mtime, size), so a
      rewritten archive is still picked up;
    - the daemon runs ``gc.collect()`` between tasks, which walks the
      whole imported module heap (pandas, pyarrow, numpy). Freezing
      that heap once moves it out of every later collection.

    The first task of each worker still pays both once."""
    global _worker_settled
    if _worker_settled or TaskContext.get() is None:
        return
    _worker_settled = True
    if sys.version_info < (3, 13):  # 3.13's zipimport invalidates lazily
        _reread_zip_only_when_changed()
    gc.collect()
    gc.freeze()


def _reread_zip_only_when_changed() -> None:
    """Replace ``zipimporter.invalidate_caches`` so an archive's
    directory is re-read only when its (st_mtime_ns, st_size) differs
    from the one last read; otherwise the importer adopts the shared
    cached directory, as 3.13 does. Every directory read records the
    stamp, so an importer created later is covered too. A failed stat
    falls through to the original re-read."""
    import zipimport

    stamps: dict[str, tuple[int, int]] = {}

    def stamp(archive):
        st = os.stat(archive)
        return st.st_mtime_ns, st.st_size

    read_directory = zipimport._read_directory

    def read_and_stamp(archive):
        try:
            s = stamp(archive)  # taken first: a racing rewrite re-reads later
        except OSError:
            return read_directory(archive)
        files = read_directory(archive)
        stamps[archive] = s
        return files

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            fresh = stamps.get(self.archive) == stamp(self.archive)
        except OSError:
            fresh = False
        files = zipimport._zip_directory_cache.get(self.archive)
        if fresh and files is not None:
            self._files = files
        else:
            reread(self)

    # the task's set-up has just re-read every cached directory
    for archive in zipimport._zip_directory_cache:
        try:
            stamps[archive] = stamp(archive)
        except OSError:
            pass
    zipimport._read_directory = read_and_stamp
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
