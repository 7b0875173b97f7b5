"""North-rule submission path: the job runs under real spark-submit
with the package shipped via --py-files."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(dest: str) -> str:
    zpath = os.path.join(dest, "ocr_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "ocr_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.slow
def test_spark_submit_extract_job(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zpath = _build_zip(str(tmp_path))
    out = str(tmp_path / "out")
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "extract.py"),
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--synthesize",
        "--output", out,
        "--run-id", "submit-test",
        "--buckets", "4",
    ]
    env = {**os.environ, "PYTHONPATH": ""}  # package must come from --py-files
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["buckets_done"] == 4
    assert summary["n_docs"] == 500
    assert os.path.isdir(out)
    lineage = os.path.join(out, "_lineage", "submit-test")
    records = sorted(f for f in os.listdir(lineage) if f.startswith("bucket-"))
    assert records == [f"bucket-{b:05d}.json" for b in range(4)]
    with open(os.path.join(lineage, "manifest.json")) as fh:
        assert json.load(fh)["input_config"] == {"synthesize": True}


@pytest.mark.slow
def test_spark_submit_dedup_job(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zpath = _build_zip(str(tmp_path))
    out = str(tmp_path / "keep")
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "dedup.py"),
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--tau", "0.5",
    ]
    env = {**os.environ, "PYTHONPATH": ""}
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["n_input"] == 500
    assert summary["n_keep"] <= summary["n_after_exact"] <= 500
    assert os.path.isdir(out)


@pytest.mark.slow
def test_spark_submit_incremental_extract_job(tmp_path):
    """The daily-delta job under REAL spark-submit --py-files (the
    north-rule submission path), two days in one JVM-pair: day 0 full,
    day 1 delta — carried + recomputed counts prove the state
    round-tripped through the published parquet."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zpath = _build_zip(str(tmp_path))
    state = str(tmp_path / "state")
    env = {**os.environ, "PYTHONPATH": ""}

    def run(inp, out, prev=None):
        cmd = [
            spark_submit, "--master", "local[4]", "--py-files", zpath,
            os.path.join(REPO, "jobs", "incremental_extract.py"),
            "--input", inp, "--synthesize",
            "--output", out, "--state", state,
        ] + (["--prev", prev] if prev else [])
        res = subprocess.run(
            cmd, capture_output=True, text=True, timeout=600, env=env
        )
        assert res.returncode == 0, res.stderr[-3000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    import duckdb

    con = duckdb.connect()
    day0 = str(tmp_path / "day0")
    con.execute(
        "COPY (SELECT * FROM '/root/testdata/sf0.001/documents.parquet' "
        f"WHERE doc_id % 2 = 0) TO '{day0}' (FORMAT PARQUET)"
    )
    out0 = str(tmp_path / "out0")
    s0 = run(day0, out0)
    assert not s0["had_state"] and s0["n_recomputed_docs"] == s0["n_docs"] == 250

    out1 = str(tmp_path / "out1")
    s1 = run("/root/testdata/sf0.001/documents.parquet", out1, prev=out0)
    assert s1["had_state"]
    assert s1["n_docs"] == 500
    assert s1["n_recomputed_docs"] == 250  # the odd half is new
    assert s1["n_carried_docs"] == 250
