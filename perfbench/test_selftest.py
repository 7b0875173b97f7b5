"""Self-tests of the benchmark at tiny scale.

    python -m pytest perfbench/test_selftest.py -q

They start Spark (a few minutes in total) and write only under pytest's
tmp_path.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, run, workloads

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny corpora and a private work dir."""
    monkeypatch.setattr(run, "WORK", tmp_path / "work")
    monkeypatch.setattr(workloads.FullExtract, "N_DOCS", 600)
    monkeypatch.setattr(workloads.DailyDelta, "N_DOCS", 600)
    monkeypatch.setattr(workloads.SkewedExtract, "TARGET_SPANS", 20_000)
    return tmp_path


def _result(capsys, *args: str) -> dict:
    assert run.main(["--seconds", "1", *args]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_metric_printed_with_its_unit(tiny, capsys, workload):
    res = _result(capsys, "--workload", workload, "--seed", "3")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    _assert_metrics(res, SPEC["end_to_end"])
    assert res["metrics"]["span_seq_equal_frac"]["value"] == 1.0

    res = _result(capsys, "--workload", workload, "--seed", "3", "--trace", "1")
    assert res["correct"], res
    _assert_metrics(res, SPEC["per_layer"])


def _drop_one_span(out: Path) -> None:
    path = next(iter(sorted(out.glob("bucket=*/*.parquet"))))
    table = pq.read_table(path)
    rows = table.to_pylist()
    victim = next(r for r in rows if r["spans"])
    victim["spans"] = victim["spans"][:-1]
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)


def test_dropped_span_fails_the_run(tiny, capsys, monkeypatch):
    job = workloads.FullExtract.job

    def lossy_job(self, spark, out, tr=workloads.NoTrace()):
        problems = job(self, spark, out, tr)
        _drop_one_span(out)
        return problems

    monkeypatch.setattr(workloads.FullExtract, "job", lossy_job)
    res = _result(capsys, "--workload", "full_extract", "--seed", "5")
    assert res["metrics"]["span_seq_equal_frac"]["value"] < 1.0
    assert not res["correct"] and res["failed"] >= 1
    assert res["metrics"]["success_frac"]["value"] < 1.0


def _tables(seed: int) -> list[pa.Table]:
    flat = inputs.flat_docs(np.random.default_rng(seed), 700)
    today, _ = inputs.daily_delta(np.random.default_rng(seed), flat)
    skewed = inputs.skewed_docs(np.random.default_rng(seed), 300)
    return [flat, today, skewed]


def test_seed_determines_the_input():
    same, other = _tables(7), _tables(8)
    assert all(a.equals(b) for a, b in zip(_tables(7), same))
    assert not any(a.equals(b) for a, b in zip(same, other))


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark's files: non-zero exit,
    no result line."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
