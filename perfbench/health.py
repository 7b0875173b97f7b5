"""Machine-health probe and resident-memory sampler.

The probe is a fixed md5-chain loop run in one process and then in
``nproc`` processes at once. Recorded beside every result, it tells a
degraded VM window (both rates far below their usual values) apart
from a regression of the program under test.

The sampler polls ``/proc`` for the resident memory of every process
descended from this one (the Spark JVM and its Python workers) and
keeps the peak of their sum.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

PROBE_CHAIN = 150_000


def _chain_rate_s(procs: int, n: int) -> float:
    """Wall seconds for ``procs`` interpreters, released together, to
    hash ``n`` each (stamped inside the children, so interpreter
    start-up is not timed; CLOCK_MONOTONIC is system-wide)."""
    code = (
        "import hashlib, sys, time\n"
        "sys.stdin.readline()\n"
        "h, t0 = b'x', time.perf_counter()\n"
        f"for _ in range({n}): h = hashlib.md5(h).digest()\n"
        "print(t0, time.perf_counter())"
    )
    children = [
        subprocess.Popen(
            [sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        for _ in range(procs)
    ]
    for c in children:
        c.stdin.write("go\n")
        c.stdin.flush()
    stamps = [tuple(map(float, c.communicate()[0].split())) for c in children]
    return max(e for _, e in stamps) - min(s for s, _ in stamps)


def probe(procs: int, n: int = PROBE_CHAIN) -> dict:
    """-> single- and ``procs``-process md5 rates (M hashes/s)."""
    single = n / _chain_rate_s(1, n) / 1e6
    parallel = procs * n / _chain_rate_s(procs, n) / 1e6
    return {
        "single_mhash_per_s": round(single, 3),
        "parallel_mhash_per_s": round(parallel, 3),
        "parallel_eff": round(parallel / (procs * single), 3),
        "procs": procs,
    }


def _children() -> dict[int, list[int]]:
    """ppid -> pids of its live (not zombie) children."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # state and ppid follow the parenthesised command name
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: self)."""
    kids = _children()
    todo, out = list(kids.get(root or os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is a live process (or time runs out)."""
    deadline = time.monotonic() + timeout_s

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def descendants_rss_bytes(root: int | None = None) -> int:
    """Summed VmRSS of every descendant of ``root`` (default: self)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background peak-RSS sampler; use as a context manager and call
    :meth:`take_peak` at the end of each measured interval."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = descendants_rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take_peak(self) -> int:
        """Peak bytes since the previous call (or the start)."""
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
