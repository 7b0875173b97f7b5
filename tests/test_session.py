"""pipeline.session: default driver heap sizing, on fake
/proc/meminfo and cgroup memory.max files (no Spark needed), and the
one-time Python worker set-up, checked inside a real Spark task."""

from __future__ import annotations

import gc
import zipimport

from ocr_spark.pipeline.session import (
    MAX_DRIVER_MEM_MB,
    default_driver_memory,
    settle_python_worker,
)

GIB = 1 << 30


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1024 kB\n"
        "MemAvailable:    2048 kB\n"
    )
    return str(p)


def _cgroup(tmp_path, value: str) -> str:
    p = tmp_path / "memory.max"
    p.write_text(value + "\n")
    return str(p)


def test_half_of_memtotal_without_cgroup(tmp_path):
    mi = _meminfo(tmp_path, 15 * GIB // 1024)
    got = default_driver_memory(mi, str(tmp_path / "absent"))
    assert got == f"{15 * 1024 // 2}m"


def test_cgroup_limit_below_memtotal_wins(tmp_path):
    mi = _meminfo(tmp_path, 64 * GIB // 1024)
    cg = _cgroup(tmp_path, str(6 * GIB))
    assert default_driver_memory(mi, cg) == "3072m"


def test_unlimited_cgroup_falls_back_to_memtotal(tmp_path):
    mi = _meminfo(tmp_path, 8 * GIB // 1024)
    cg = _cgroup(tmp_path, "max")
    assert default_driver_memory(mi, cg) == "4096m"


def test_large_machine_is_capped(tmp_path):
    mi = _meminfo(tmp_path, 256 * GIB // 1024)
    cg = _cgroup(tmp_path, "max")
    assert default_driver_memory(mi, cg) == f"{MAX_DRIVER_MEM_MB}m"
    assert MAX_DRIVER_MEM_MB == 16 * 1024


def test_unreadable_files_fall_back_to_cap(tmp_path):
    bad = tmp_path / "garbage"
    bad.write_text("MemFree: 12 kB\nnot a number\n")
    assert default_driver_memory(str(bad), str(bad)) == f"{MAX_DRIVER_MEM_MB}m"
    absent = str(tmp_path / "absent")
    assert default_driver_memory(absent, absent) == f"{MAX_DRIVER_MEM_MB}m"


def test_settle_python_worker_inside_a_task(spark):
    # defined inside the test: cloudpickle ships a nested function by
    # value, while a module-level one would need this test module
    # importable in the worker
    def _settle_checks(batches):
        """mapInArrow body: settles the worker, then checks it from
        inside and returns one (check, ok, detail) row per check."""
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile

        import pyarrow as pa

        settle_python_worker()
        for _ in batches:
            pass
        rows = []

        def check(name, ok, detail=""):
            rows.append((name, bool(ok), str(detail)))

        check("gc frozen", gc.get_freeze_count() > 0, gc.get_freeze_count())
        inv = zipimport.zipimporter.invalidate_caches
        patched = (
            sys.version_info >= (3, 13)
            or inv.__module__ == settle_python_worker.__module__
        )
        check("invalidate_caches replaced below 3.13", patched, inv.__module__)

        name = "_settle_probe_mod"
        d = tempfile.mkdtemp()
        archive = os.path.join(d, "probe.zip")

        def write(src):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{name}.py", src)

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        write("X = 1\n")
        sys.path.insert(0, archive)
        try:
            m = importlib.import_module(name)
            check("import from zip", m.X == 1, m.X)
            zipimport._read_directory = counting
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            check("unchanged archives are not re-read", not reads, reads)
            write("X = 22\n")  # new size
            importlib.invalidate_caches()
            if sys.version_info < (3, 13):
                check("rewritten archive is re-read", reads == [archive], reads)
            x = importlib.reload(m).X
            check("reload sees the rewritten module", x == 22, x)
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop(name, None)
            shutil.rmtree(d, ignore_errors=True)
        names, oks, details = zip(*rows)
        yield pa.RecordBatch.from_pydict(
            {"check": list(names), "ok": list(oks), "detail": list(details)}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_settle_checks, "check string, ok boolean, detail string")
        .collect()
    )
    assert len(rows) >= 5, rows
    assert all(r.ok for r in rows), [tuple(r) for r in rows if not r.ok]


def test_settle_python_worker_is_a_noop_on_the_driver():
    inv = zipimport.zipimporter.invalidate_caches
    read_directory = zipimport._read_directory
    frozen = gc.get_freeze_count()
    settle_python_worker()
    assert zipimport.zipimporter.invalidate_caches is inv
    assert zipimport._read_directory is read_directory
    assert gc.get_freeze_count() == frozen
