"""End-to-end corpus dedup job: exact pass + near-dup cluster pass."""

from __future__ import annotations

import json
import os
import sys
from unittest.mock import patch

import pandas as pd
from pyspark.sql import SparkSession

JOBS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
)


def test_dedup_job(spark, tmp_path, capsys):
    words = [f"w{i:02d}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(words[:39] + ["CHANGED"])
    distinct = " ".join(f"z{i:02d}" for i in range(40))
    df = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [base, base, near, distinct, distinct],
        }
    )
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "keep")
    spark.createDataFrame(df).write.parquet(inp)

    sys.path.insert(0, JOBS)
    import dedup as job

    argv = ["dedup.py", "--input", inp, "--output", out, "--tau", "0.5"]
    # the CLI stops its session on exit; keep the shared test session alive
    with patch.object(sys, "argv", argv), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # exact: 2 (dup of 1) and 5 (dup of 4) removed; near: 3 clusters
    # with 1 (jaccard ~0.91) -> removed; keep = {1, 4}
    assert summary["n_input"] == 5
    assert summary["n_after_exact"] == 3
    assert summary["n_keep"] == 2

    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    keep = sorted(r.doc_id for r in s.read.parquet(out).collect())
    assert keep == [1, 4]


def test_dedup_job_string_ids(spark, tmp_path, capsys):
    """'sha1:...' ids must survive the whole job — the round-2 long
    cast NULLed them and printed a silently-empty keep-list."""
    words = [f"w{i:02d}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(words[:39] + ["CHANGED"])
    distinct = " ".join(f"z{i:02d}" for i in range(40))
    ids = [f"sha1:{i:040x}" for i in range(1, 6)]
    df = pd.DataFrame({"doc_id": ids, "text": [base, base, near, distinct, distinct]})
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "keep")
    spark.createDataFrame(df).write.parquet(inp)

    sys.path.insert(0, JOBS)
    import dedup as job

    argv = ["dedup.py", "--input", inp, "--output", out, "--tau", "0.5"]
    with patch.object(sys, "argv", argv), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_input"] == 5
    assert summary["n_after_exact"] == 3
    assert summary["n_keep"] == 2

    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    keep = sorted(r.doc_id for r in s.read.parquet(out).collect())
    assert keep == [ids[0], ids[3]]


def test_dedup_job_incremental_index(spark, tmp_path, capsys):
    """Two-day recurring-ingest flow: day 1 builds the corpus and saves
    its MinHash band index; day 2's batch is deduped AGAINST that index
    (re-crawled and near-dup docs dropped without rescanning day-1
    text) and the merged index is written for day 3."""
    words = [f"w{i:02d}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(words[:36] + [f"X{i:02d}" for i in range(4)])
    novel = " ".join(f"n{i:02d}" for i in range(40))
    d1 = str(tmp_path / "day1")
    d2 = str(tmp_path / "day2")
    keep1, keep2 = str(tmp_path / "keep1"), str(tmp_path / "keep2")
    idx1, idx2 = str(tmp_path / "idx1"), str(tmp_path / "idx2")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [base]})
    ).write.parquet(d1)
    # day 2: 10 = re-crawl of 1 (exact), 11 = near-dup of 1, 12 = novel
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12], "text": [base, near, novel]})
    ).write.parquet(d2)

    sys.path.insert(0, JOBS)
    import dedup as job

    argv1 = ["dedup.py", "--input", d1, "--output", keep1, "--save-index", idx1]
    with patch.object(sys, "argv", argv1), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    day1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day1["n_keep"] == 1

    argv2 = [
        "dedup.py", "--input", d2, "--output", keep2,
        "--against-index", idx1, "--save-index", idx2,
    ]
    with patch.object(sys, "argv", argv2), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    day2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day2["n_input"] == 3
    assert day2["index_dups_removed"] == 2  # the re-crawl AND the near-dup
    assert day2["n_keep"] == 1

    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    assert [r.doc_id for r in s.read.parquet(keep2).collect()] == [12]
    # merged index covers both days' kept docs
    idx_docs = {r.doc_id for r in s.read.parquet(idx2).select("doc_id").distinct().collect()}
    assert idx_docs == {1, 12}


def test_dedup_job_rejects_inplace_index(spark, tmp_path):
    sys.path.insert(0, JOBS)
    import dedup as job
    import pytest

    argv = [
        "dedup.py", "--input", "x", "--output", "y",
        "--against-index", str(tmp_path / "i"), "--save-index", str(tmp_path / "i"),
    ]
    with patch.object(sys, "argv", argv), pytest.raises(SystemExit):
        job.main()


def test_dedup_job_rejects_inplace_index_named_as_uri(spark, tmp_path, capsys):
    """One directory named two ways (a plain path and a ``file://``
    URI; a URI with a trailing slash through a symlink and the plain
    target) is still one directory: the job refuses to overwrite the
    index or bloom it is reading."""
    sys.path.insert(0, JOBS)
    import dedup as job
    import pytest

    (tmp_path / "b").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "b")
    pairs = [
        ("index", str(tmp_path / "i"), f"file://{tmp_path}/i"),
        ("bloom", str(tmp_path / "b"), f"file://{tmp_path}/link/"),
    ]
    for kind, saved, against in pairs:
        argv = [
            "dedup.py", "--input", "x", "--output", "y",
            f"--against-{kind}", against, f"--save-{kind}", saved,
        ]
        with patch.object(sys, "argv", argv), pytest.raises(SystemExit):
            job.main()
        assert f"--save-{kind} must differ from --against-{kind}" in capsys.readouterr().err


def test_batch_cli_job(spark, tmp_path, capsys):
    import shutil

    src = str(tmp_path / "tree" / "nested")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        100
    ).write.parquet(src)
    out = str(tmp_path / "out")

    sys.path.insert(0, JOBS)
    import batch_cli as job

    argv = ["batch_cli.py", "--input", str(tmp_path / "tree"), "--glob",
            "*.parquet", "--output", out, "--synthesize"]
    with patch.object(sys, "argv", argv), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["total_files"] == 100
    assert meta["parse_failures"] == 0
    assert 0.0 < meta["strip_ratio"] < 1.0

    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    assert s.read.parquet(f"{out}/spans").count() == meta["n_spans_out"]
    env = json.load(open(f"{out}/parsing_results.json"))
    assert env["meta"]["total_files"] == 100
    assert len(env["documents"]) == 100


def test_dedup_job_bloom_two_day_flow(spark, tmp_path, capsys):
    """Day 1 saves a bloom seen-set of the kept docs; day 2's batch is
    gated against it — re-crawled texts drop at stage 0.5 without ever
    rescanning day-1 data."""
    sys.path.insert(0, JOBS)
    import dedup as job

    day1 = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["alpha beta gamma", "delta epsilon zeta"]}
    )
    day2 = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": [
                "alpha beta gamma",        # exact re-crawl -> bloom drop
                "totally fresh content",   # novel
                None,                      # NULL text is never "seen"
            ],
        }
    )
    in1, in2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    out1, out2 = str(tmp_path / "k1"), str(tmp_path / "k2")
    bl1, bl2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame(day1).write.parquet(in1)
    spark.createDataFrame(day2).write.parquet(in2)

    argv1 = ["dedup.py", "--input", in1, "--output", out1, "--save-bloom", bl1]
    with patch.object(sys, "argv", argv1), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["n_keep"] == 2 and s1["bloom_dups_removed"] == 0

    argv2 = [
        "dedup.py", "--input", in2, "--output", out2,
        "--against-bloom", bl1, "--save-bloom", bl2,
    ]
    with patch.object(sys, "argv", argv2), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["bloom_dups_removed"] == 1  # the re-crawl
    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    keep2 = sorted(r.doc_id for r in s.read.parquet(out2).collect())
    assert keep2 == [11, 12]
    # the merged day-2 filter knows BOTH days' texts
    merged = s.read.parquet(bl2)
    assert {r.m_bits for r in merged.select("m_bits").distinct().collect()} == {1 << 20}
    from ocr_spark.functions.dedup import bloom_novel

    probe = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "totally fresh content"), (3, "never seen")],
        "doc_id long, text string",
    )
    verdicts = {
        r.doc_id: r.maybe_seen
        for r in bloom_novel(probe, merged.select("word_idx", "word")).collect()
    }
    assert verdicts[1] and verdicts[2] and not verdicts[3]


def test_dedup_job_bloom_guards(spark, tmp_path):
    sys.path.insert(0, JOBS)
    import dedup as job
    import pytest

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "x")], "doc_id long, text string"
    ).write.parquet(inp)
    bl = str(tmp_path / "b")
    # in-place overwrite rejected at argparse time
    argv = [
        "dedup.py", "--input", inp, "--output", str(tmp_path / "k"),
        "--against-bloom", bl, "--save-bloom", bl,
    ]
    with patch.object(sys, "argv", argv), pytest.raises(SystemExit):
        job.main()
    # size-mismatch detected from the persisted metadata, not trusted
    argv1 = [
        "dedup.py", "--input", inp, "--output", str(tmp_path / "k1"),
        "--save-bloom", bl, "--bloom-bits", "12",
    ]
    with patch.object(sys, "argv", argv1), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    argv2 = [
        "dedup.py", "--input", inp, "--output", str(tmp_path / "k2"),
        "--against-bloom", bl, "--bloom-bits", "16",
    ]
    with patch.object(sys, "argv", argv2), patch.object(
        SparkSession, "stop", lambda self: None
    ), pytest.raises(SystemExit, match="m_bits"):
        job.main()


def test_dedup_job_canonical_exact(spark, tmp_path, capsys):
    """--canonical-exact merges case/punct/whitespace variants in the
    exact pass; without it they all survive."""
    sys.path.insert(0, JOBS)
    import dedup as job

    df = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["Hello, World!", "hello   world", "other doc entirely"],
        }
    )
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "keep")
    spark.createDataFrame(df).write.parquet(inp)
    argv = [
        "dedup.py", "--input", inp, "--output", out, "--canonical-exact",
    ]
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_after_exact"] == 2 and summary["n_keep"] == 2
    from ocr_spark.pipeline.session import get_spark

    s = get_spark("local[4]")
    assert sorted(r.doc_id for r in s.read.parquet(out).collect()) == [1, 3]


def test_dedup_job_empty_bloom_reloads_as_nothing_seen(spark, tmp_path, capsys):
    """A day-1 batch whose kept docs all have NULL text writes a
    zero-row filter; day 2 must treat it as 'nothing seen', not trip
    the size guard."""
    sys.path.insert(0, JOBS)
    import dedup as job

    in1, in2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    out1, out2 = str(tmp_path / "k1"), str(tmp_path / "k2")
    bl = str(tmp_path / "b")
    spark.createDataFrame(
        [(1, None)], "doc_id long, text string"
    ).write.parquet(in1)
    spark.createDataFrame(
        [(2, "fresh text")], "doc_id long, text string"
    ).write.parquet(in2)
    argv1 = ["dedup.py", "--input", in1, "--output", out1, "--save-bloom", bl]
    with patch.object(sys, "argv", argv1), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    capsys.readouterr()
    argv2 = [
        "dedup.py", "--input", in2, "--output", out2, "--against-bloom", bl,
    ]
    with patch.object(sys, "argv", argv2), patch.object(
        SparkSession, "stop", lambda self: None
    ):
        job.main()
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["bloom_dups_removed"] == 0 and s2["n_keep"] == 1


def test_batch_cli_outputs_equal_the_kernel_surfaces(spark, tmp_path, capsys):
    """batch_cli runs the kernel once: its span table equals
    extract_main_content and its CSV equals extraction_metrics on the
    same input, error rows (empty docs, malformed spans) included."""
    from ocr_spark.fixtures import generate_corpus
    from ocr_spark.pipeline.extract import extract_main_content, extraction_metrics
    from ocr_spark.pipeline.sinks import read_csv_table
    from ocr_spark.schema import DOC_SCHEMA

    tree = str(tmp_path / "tree")
    spark.createDataFrame(
        generate_corpus(n_docs=80, seed=3, giant_frac=0.0), schema=DOC_SCHEMA
    ).write.parquet(tree)
    out = str(tmp_path / "out")

    sys.path.insert(0, JOBS)
    import batch_cli as job

    argv = ["batch_cli.py", "--input", tree, "--output", out]
    with patch.object(sys, "argv", argv), patch.object(SparkSession, "stop", lambda self: None):
        job.main()
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    docs = spark.read.parquet(tree)
    want_spans = sorted(map(tuple, extract_main_content(docs).collect()))
    got_spans = sorted(map(tuple, spark.read.parquet(f"{out}/spans").collect()))
    assert got_spans == want_spans

    # the CSV carries every column as a string
    want = sorted(
        tuple("" if v is None else str(v) for v in r)
        for r in extraction_metrics(docs).collect()
    )
    got = sorted(
        tuple("" if v is None else v for v in r)
        for r in read_csv_table(spark, f"{out}/results_csv").collect()
    )
    assert got == want
    assert meta["parse_failures"] == sum(int(r[3]) for r in want) > 0
