"""In-process coverage of jobs/extract.py flags (the spark-submit
path is covered by tests/test_spark_submit.py). Input shaping and the
span-table sidecars are jobs/curate.py's, tested in
tests/test_curate_job.py."""

from __future__ import annotations

import json
import sys
from unittest.mock import patch

from pyspark.sql import SparkSession

_NESTED_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def _run_main(argv):
    import jobs.extract as job

    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    return json.loads(printed[-1])


def test_extract_job_lineage_checksums_audit(spark, tmp_path):
    """--lineage-checksums records per-bucket checksums AND runs the
    byte-audit before reporting: a clean run reports no mismatches."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows = [
        ("d1", [("text", "hello world", "", 0)]),
        ("d2", [("text", "more prose", "", 0), ("text", "tail", "", 1)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    s = _run_main(
        [
            "extract.py",
            "--input", inp,
            "--output", out,
            "--run-id", "chk",
            "--buckets", "2",
            "--lineage-checksums",
        ]
    )
    assert s["checksum_mismatched_buckets"] == []
    rec = json.load(open(f"{out}/_lineage/chk/bucket-00000.json"))
    assert "checksum60" in rec
