"""Default driver heap sizing in pipeline.session, on fake
/proc/meminfo and cgroup memory.max files (no Spark needed)."""

from __future__ import annotations

from ocr_spark.pipeline.session import MAX_DRIVER_MEM_MB, default_driver_memory

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
