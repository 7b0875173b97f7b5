"""End-to-end curation pipeline job: extract -> quality/lang gates ->
exact + near dedup -> curated bucketed table + summary."""

from __future__ import annotations

import json
import os
import sys
from unittest.mock import patch

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _run(spark, tmp_path, extra_args=()):
    import jobs.curate as job

    out = str(tmp_path / "curated")
    argv = [
        "curate.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--synthesize",
        "--output", out,
        "--tau", "0.5",
        *extra_args,
    ]
    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    return out, json.loads(printed[-1])


def test_curate_pipeline_end_to_end(spark, tmp_path):
    out, s = _run(spark, tmp_path, ("--min-quality", "0.2"))
    # monotone funnel with every stage accounted for
    assert s["n_extracted"] >= s["n_after_quality_lang"] >= s["n_after_exact_dedup"] >= s["n_curated"] > 0
    assert s["dropped_quality_lang"] + s["dropped_exact"] + s["dropped_near_dup"] == (
        s["n_extracted"] - s["n_curated"]
    )
    # curated table: bucketed layout, unique doc_ids, non-empty text
    assert any(d.startswith("bucket=") for d in os.listdir(out))
    t = spark.read.parquet(out)
    assert t.count() == s["n_curated"]
    assert t.select("doc_id").distinct().count() == s["n_curated"]
    assert t.where(F.length("text") == 0).count() == 0


def test_curate_handles_non_numeric_doc_ids(spark, tmp_path):
    """Production ids like 'sha1:...' must flow through every stage —
    a long-cast would NULL the keys and silently empty the corpus."""
    import pandas as pd

    from ocr_spark.schema import DOC_SCHEMA

    span = lambda i, t: {"kind": "text", "text": t, "media_ref": "", "offset": i}
    words = " ".join(f"w{i} the a of and to in is" for i in range(6))
    rows = pd.DataFrame(
        {
            "doc_id": [f"sha1:{i:04x}" for i in range(8)],
            "spans": [[span(0, words), span(1, f"unique tail {i}")] for i in range(8)],
        }
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=DOC_SCHEMA).write.parquet(inp)
    import jobs.curate as job

    out = str(tmp_path / "curated")
    argv = ["curate.py", "--input", inp, "--output", out, "--min-quality", "0.0", "--tau", "0.9"]
    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    s = json.loads(printed[-1])
    assert s["n_extracted"] == 8 and s["n_curated"] > 0
    t = spark.read.parquet(out)
    ids = {r.doc_id for r in t.select("doc_id").collect()}
    assert ids <= {f"sha1:{i:04x}" for i in range(8)} and len(ids) == s["n_curated"]


def test_curate_interleave_gate_and_boilerplate_strip(spark, tmp_path):
    """Stage 0.5 (structural gate on the nested table) and stage 1.2
    (corpus-frequency span strip) both shrink the funnel, and the
    funnel identity still balances from the extraction base."""
    _, s_off = _run(spark, tmp_path / "off", ("--min-quality", "0.0"))
    assert s_off["n_input"] is None and s_off["dropped_structural"] is None
    out, s = _run(
        spark,
        tmp_path / "on",
        ("--min-quality", "0.0", "--interleave-gate", "--strip-boilerplate", "3"),
    )
    assert s["n_input"] == 500  # sf0.001 documents table
    assert 0 < s["n_after_interleave_gate"] < s["n_input"]
    assert s["dropped_structural"] == s["n_input"] - s["n_after_interleave_gate"]
    # gated extraction base can't exceed the surviving doc count
    assert s["n_extracted"] <= s["n_after_interleave_gate"]
    assert s["interleave_gate"] is True and s["strip_boilerplate"] == 3
    # frequency strip removes repeated synthetic boilerplate -> fewer
    # or equal docs (all-boilerplate docs lose every span) and the
    # funnel identity still holds
    assert s["dropped_quality_lang"] + s["dropped_exact"] + s["dropped_near_dup"] == (
        s["n_extracted"] - s["n_curated"]
    )
    t = spark.read.parquet(out)
    assert t.count() == s["n_curated"] > 0


def test_curate_temperature_mix_stage(spark, tmp_path):
    out, s = _run(
        spark,
        tmp_path,
        ("--min-quality", "0.0", "--temperature-mix", "0.5"),
    )
    assert s["temperature_mix"] == 0.5
    assert 0 < s["n_after_temperature_mix"] < s["n_after_cap"]
    assert s["dropped_temperature_mix"] == (
        s["n_after_cap"] - s["n_after_temperature_mix"]
    )
    t = spark.read.parquet(out)
    assert t.count() == s["n_after_temperature_mix"]
    assert "source" in t.columns  # the mix joins the source column in


def test_curate_strip_boilerplate_one_rejected_at_parse_time(spark, tmp_path):
    """--strip-boilerplate 1 must die in argparse (exit 2), not
    mid-job after the gate scans already ran."""
    import jobs.curate as job

    argv = ["curate.py", "--input", "x", "--output", "y",
            "--strip-boilerplate", "1"]
    with patch.object(sys, "argv", argv):
        with pytest.raises(SystemExit) as e:
            job.main()
    assert e.value.code == 2


def test_curate_nfc_stage_makes_decomposed_docs_dedup(spark, tmp_path):
    """With --nfc, a composed and a decomposed spelling of the same
    text are one document after exact dedup; without it they survive
    as two. (Strings built with chr() so no tool can pre-normalize
    the source file.)"""
    import pandas as pd

    from ocr_spark.schema import DOC_SCHEMA

    base = "the quick brown fox caf" + chr(0xE9) + " jumps over it all day"
    decomposed = base.replace(chr(0xE9), "e" + chr(0x301))
    span = lambda t: [{"kind": "text", "text": t, "media_ref": "", "offset": 0},
                      {"kind": "text", "text": "tail words here", "media_ref": "", "offset": 1}]
    rows = pd.DataFrame(
        {"doc_id": [1, 2], "spans": [span(base), span(decomposed)]}
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=DOC_SCHEMA).write.parquet(inp)
    import jobs.curate as job

    def run(extra):
        out = str(tmp_path / ("out" + str(len(extra))))
        argv = ["curate.py", "--input", inp, "--output", out,
                "--min-quality", "0.0", "--tau", "0.99", *extra]
        printed = []
        with patch.object(sys, "argv", argv), patch.object(
            SparkSession, "stop", lambda self: None
        ), patch("builtins.print", lambda s: printed.append(s)):
            job.main()
        return json.loads(printed[-1])

    s_off = run(())
    s_on = run(("--nfc",))
    assert s_off["n_after_exact_dedup"] == 2 and s_off["nfc"] is False
    assert s_on["n_after_exact_dedup"] == 1 and s_on["nfc"] is True


def test_curate_lang_gate(spark, tmp_path):
    _, s_all = _run(spark, tmp_path / "a", ("--min-quality", "0.0"))
    _, s_en = _run(spark, tmp_path / "b", ("--min-quality", "0.0", "--langs", "en"))
    assert s_en["n_after_quality_lang"] <= s_all["n_after_quality_lang"]
    assert s_en["langs"] == ["en"]


def test_curate_cap_and_split_stages(spark, tmp_path):
    out, s = _run(
        spark,
        tmp_path,
        (
            "--min-quality", "0.0",
            "--cap-per-source", "3",
            "--split", "train=0.8,val=0.1,test=0.1",
            "--shard-budget", "300",
        ),
    )
    assert s["n_after_cap"] <= s["n_curated"]
    assert s["dropped_cap"] == s["n_curated"] - s["n_after_cap"]
    t = spark.read.parquet(out)
    assert set(t.columns) >= {"doc_id", "text", "source", "split", "shard_id"}
    # shard ids form a contiguous 0..max range (global packing)
    shard_ids = sorted({r.shard_id for r in t.select("shard_id").collect()})
    assert shard_ids == list(range(len(shard_ids))) and len(shard_ids) > 1
    assert t.count() == s["n_after_cap"]
    sizes = [r["n"] for r in t.groupBy("source").agg(F.count("*").alias("n")).collect()]
    assert sizes and max(sizes) <= 3
    assert {r["split"] for r in t.select("split").distinct().collect()} <= {
        "train", "val", "test",
    }


def test_curate_novelty_gate_short_circuits_rerun(spark, tmp_path):
    """Curating the same batch twice with --against the first output
    drops everything at the novelty gate."""
    out1, s1 = _run(spark, tmp_path, ("--min-quality", "0.0"))
    out2 = str(tmp_path / "curated2")
    import jobs.curate as job

    argv = [
        "curate.py",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--synthesize",
        "--output", out2,
        "--against", out1,
        "--min-quality", "0.0",
    ]
    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    s2 = json.loads(printed[-1])
    # the first run's curated texts are all dups now. Exact-dup losers
    # share text byte-for-byte with their curated representative, so
    # they are (correctly) not novel either; only near-dup losers —
    # similar but not identical text — survive the gate.
    assert s2["n_novel"] == s1["dropped_near_dup"]
    assert s2["dropped_not_novel"] == s2["n_extracted"] - s1["dropped_near_dup"]


def test_curate_scrub_stages(spark, tmp_path):
    """--line-dedup / --pii-scrub rewrite text BEFORE dedup; --gopher
    gates. Scrubbed text must be what the output table carries."""
    import pandas as pd

    # two docs identical except for the PII — scrubbing must collapse
    # them into ONE curated doc (the whole point of scrub-before-dedup).
    # ids 1 and 18 are congruent mod 17, so the span synthesizer drops
    # the SAME furniture chunks from both and the extracted texts
    # differ only in the email.
    body = " ".join(f"word{i} the of and to be that have with" for i in range(8))
    rows = pd.DataFrame(
        {
            "doc_id": [1, 18, 3],
            "text": [
                body + " mail alice@example.com",
                body + " mail bob@example.com",
                "tiny doc",  # fails the Gopher word-count floor
            ],
        }
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(inp)

    import jobs.curate as job

    out = str(tmp_path / "curated")
    argv = [
        "curate.py", "--input", inp, "--synthesize", "--output", out,
        "--min-quality", "0.0", "--pii-scrub", "--gopher",
    ]
    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    s = json.loads(printed[-1])
    t = spark.read.parquet(out)
    texts = [r.text for r in t.collect()]
    assert len(texts) == 1, (s, texts)  # PII-only difference deduped away
    assert "<EMAIL>" in texts[0] and "@example.com" not in texts[0]
    assert s["pii_scrub"] is True and s["gopher"] is True


def test_curate_benchmark_decontamination(spark, tmp_path):
    """--benchmark drops docs sharing w-grams with the eval set."""
    import pandas as pd

    body = " ".join(f"word{i} the of and to be that have with" for i in range(8))
    # no 5-gram shared with body (different filler AND different frame)
    other = " ".join(f"tok{i} zig zag foo bar baz qux quux" for i in range(8))
    inp, bench = str(tmp_path / "in"), str(tmp_path / "bench")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [body, other]}),
        schema="doc_id long, text string",
    ).write.parquet(inp)
    # benchmark = doc 1's text verbatim (the classic eval-leak case)
    spark.createDataFrame(
        pd.DataFrame({"text": [body]}), schema="text string"
    ).write.parquet(bench)

    import jobs.curate as job

    out = str(tmp_path / "curated")
    argv = [
        "curate.py", "--input", inp, "--synthesize", "--output", out,
        "--min-quality", "0.0", "--benchmark", bench, "--contam-w", "5",
    ]
    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    s = json.loads(printed[-1])
    assert s["dropped_contaminated"] == 1, s
    kept = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert kept == ["2"]  # synthesize path casts ids to string


def test_curate_scrub_runs_before_novelty_gate(spark, tmp_path):
    """Re-crawling PII-bearing docs with --against a scrubbed curated
    table must short-circuit at the novelty gate: the gate's md5 is
    computed over SCRUBBED text, matching what the table stores."""
    import pandas as pd

    body = " ".join(f"word{i} the of and to be that have with" for i in range(8))
    rows = pd.DataFrame(
        {
            "doc_id": [1, 18],
            "text": [body + " mail alice@example.com", body + " mail bob@example.com"],
        }
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(inp)

    import jobs.curate as job

    def run(out, extra):
        argv = [
            "curate.py", "--input", inp, "--synthesize", "--output", out,
            "--min-quality", "0.0", "--pii-scrub", *extra,
        ]
        printed = []
        with patch.object(sys, "argv", argv), patch.object(
            SparkSession, "stop", lambda self: None
        ), patch("builtins.print", lambda s: printed.append(s)):
            job.main()
        return json.loads(printed[-1])

    out1 = str(tmp_path / "c1")
    s1 = run(out1, ())
    assert s1["n_curated"] == 1  # the PII-only pair collapsed
    # identical re-crawl: every doc's scrubbed text is already curated
    s2 = run(str(tmp_path / "c2"), ("--against", out1))
    assert s2["n_novel"] == 0, s2
    assert s2["dropped_not_novel"] == 2


def test_curate_quality_sample_stage(spark, tmp_path):
    # factor large enough that high-quality docs are certain keeps
    # (p clamps to 1) while some low-quality docs drop; funnel stays
    # exact and the stage is deterministic across reruns
    out1, s1 = _run(spark, tmp_path / "a", ("--quality-sample", "1.5"))
    assert 0 < s1["n_after_quality_sample"] <= s1["n_after_cap"]
    assert (
        s1["dropped_quality_sample"]
        == s1["n_after_cap"] - s1["n_after_quality_sample"]
    )
    out2, s2 = _run(spark, tmp_path / "b", ("--quality-sample", "1.5"))
    assert s2["n_after_quality_sample"] == s1["n_after_quality_sample"]
    a = sorted(r.doc_id for r in spark.read.parquet(out1).collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out2).collect())
    assert a == b  # content-hash decision -> identical selection


def test_curate_quality_sample_off_by_default(spark, tmp_path):
    _, s = _run(spark, tmp_path)
    assert s["dropped_quality_sample"] == 0
    assert s["n_after_quality_sample"] == s["n_after_cap"]


def test_curate_lm_fluency_gate(spark, tmp_path):
    # threshold 1 keeps any doc with at least one corpus-seen
    # transition (self-LM: all of them) — only <2-word docs drop;
    # an absurd threshold (above 1e6 = certain) drops everything
    _, s_lo = _run(spark, tmp_path / "lo", ("--min-lm-fluency", "1"))
    assert s_lo["n_after_quality_lang"] > 0
    _, s_hi = _run(
        spark, tmp_path / "hi", ("--min-lm-fluency", str(2_000_000))
    )
    assert s_hi["n_after_quality_lang"] == 0
    assert s_hi["min_lm_fluency"] == 2_000_000


def test_curate_dsir_gate(spark, tmp_path):
    """DSIR gate against an alien-vocabulary target: every doc feature
    has zero target mass, so all mean scores are <= 0 — a threshold of
    1 drops everything, and a threshold below the -1e6 fixed-point
    floor keeps exactly what the ungated run keeps."""
    import pandas as pd

    tgt = str(tmp_path / "target")
    spark.createDataFrame(
        pd.DataFrame({"text": ["zebraword quxword zebraword quxword"]})
    ).write.parquet(tgt)

    _, s_base = _run(spark, tmp_path / "base")
    _, s_all = _run(
        spark, tmp_path / "all",
        ("--dsir-target", tgt, "--min-dsir-score", "-2000000"),
    )
    assert s_all["n_after_quality_lang"] == s_base["n_after_quality_lang"]
    assert s_all["dsir_target"] is True
    _, s_none = _run(
        spark, tmp_path / "none",
        ("--dsir-target", tgt, "--min-dsir-score", "1"),
    )
    assert s_none["n_after_quality_lang"] == 0


def test_curate_pack_stage(spark, tmp_path):
    out, s = _run(
        spark,
        tmp_path,
        ("--pack-seq-len", "96", "--pack-chunk-tokens", "64",
         "--pack-chunk-overlap", "16", "--pack-shards", "4"),
    )
    chunks = spark.read.parquet(out + "_chunks")
    idx = spark.read.parquet(out + "_pack_index")
    assert s["n_chunks"] == chunks.count() > 0
    assert s["n_packs"] == idx.select("shard", "pack_id").distinct().count() > 0
    # the index covers every chunk fully and references nothing else
    cov = idx.groupBy("doc_id", "chunk_id").agg(
        F.sum(F.col("end_tok") - F.col("begin_tok")).alias("cov")
    )
    mismatched = (
        chunks.select("doc_id", "chunk_id", "n_tokens")
        .join(cov, ["doc_id", "chunk_id"], "full")
        .where(
            F.col("cov").isNull()
            | F.col("n_tokens").isNull()
            | (F.col("cov") != F.col("n_tokens"))
        )
    )
    assert mismatched.count() == 0
    # both sidecars share one shard partitioning (co-located reads)
    shard_dirs = lambda p: sorted(
        d for d in os.listdir(p) if d.startswith("shard=")
    )
    assert shard_dirs(out + "_chunks") == shard_dirs(out + "_pack_index") != []


def test_curate_pack_knobs_rejected_at_parse_time(spark, tmp_path):
    # overlap >= chunk tokens must die before any Spark stage runs
    with pytest.raises(SystemExit):
        _run(
            spark,
            tmp_path,
            ("--pack-seq-len", "96", "--pack-chunk-tokens", "16",
             "--pack-chunk-overlap", "16"),
        )
    with pytest.raises(SystemExit):
        _run(spark, tmp_path, ("--pack-seq-len", "-1"))


def test_curate_classifier_gate(spark, tmp_path):
    """--classifier-gate drops exactly the docs the baked model marks
    keep=false among the otherwise-gated survivors (subset of the
    ungated run; result non-empty on the training corpus)."""
    from ocr_spark.functions.classifier import quality_classifier

    out_plain, s_plain = _run(spark, tmp_path / "a", ("--min-quality", "0.0"))
    out_clf, s_clf = _run(
        spark, tmp_path / "b", ("--min-quality", "0.0", "--classifier-gate")
    )
    plain_ids = {r.doc_id for r in spark.read.parquet(out_plain).collect()}
    clf_ids = {r.doc_id for r in spark.read.parquet(out_clf).collect()}
    assert 0 < len(clf_ids) < len(plain_ids)
    # every kept doc passes the model on its curated text
    kept = quality_classifier(
        spark.read.parquet(out_clf).select("doc_id", "text")
    )
    assert kept.where(~F.col("keep")).count() == 0


def test_curate_strip_passages_stage(spark, tmp_path):
    """--strip-passages N runs the ExactSubstr cut pass in the scrub
    chain: a banner shared by 3 docs survives in exactly ONE curated
    doc (the corpus-canonical occurrence); with the flag off, all
    three keep it."""
    import pandas as pd

    # a LONG banner: the span synthesizer drops whole chunks, so only
    # contiguous surviving runs >= ~w+gap chars are detectable — 24
    # banner words guarantee long identical runs survive extraction.
    # ids congruent mod 17 -> the synthesizer treats all three texts
    # identically; same word count -> same span chunking, so the
    # banner reaches extraction at the same relative positions.
    banner = " ".join(f"SUBSCRIBE{i:02d}" for i in range(24))
    rows = pd.DataFrame(
        {
            "doc_id": [1, 18, 35],
            "text": [
                " ".join(f"a{i:02d}" for i in range(20))
                + " " + banner + " "
                + " ".join(f"x{i:02d}" for i in range(20)),
                " ".join(f"b{i:02d}" for i in range(20))
                + " " + banner + " "
                + " ".join(f"y{i:02d}" for i in range(20)),
                " ".join(f"c{i:02d}" for i in range(20))
                + " " + banner + " "
                + " ".join(f"z{i:02d}" for i in range(20)),
            ],
        }
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(inp)

    import jobs.curate as job

    def run(out, *extra):
        argv = [
            "curate.py", "--input", inp, "--synthesize", "--output", out,
            "--min-quality", "0.0", *extra,
        ]
        printed = []
        with patch.object(sys, "argv", argv), patch.object(
            SparkSession, "stop", lambda self: None
        ), patch("builtins.print", lambda s: printed.append(s)):
            job.main()
        return json.loads(printed[-1])

    s_off = run(str(tmp_path / "off"))
    texts_off = [r.text for r in spark.read.parquet(str(tmp_path / "off")).collect()]
    # the longest banner run that survived extraction in ALL docs —
    # the synthesizer may drop whole chunks, but identically for the
    # mod-17-congruent ids, so a long shared run always remains
    import re

    def runs(t):
        return re.findall(r"(?:SUBSCRIBE[0-9]{2} ?)+", t)

    shared = set(runs(texts_off[0]))
    for t in texts_off[1:]:
        shared &= set(runs(t))
    probe = max(shared, key=len).strip()
    assert len(probe) >= 60, (probe, texts_off)
    assert sum(probe in t for t in texts_off) == 3

    s_on = run(str(tmp_path / "on"), "--strip-passages", "2")
    assert s_on["strip_passages"] == 2 and s_off["strip_passages"] == 0
    texts_on = [r.text for r in spark.read.parquet(str(tmp_path / "on")).collect()]
    assert len(texts_on) == 3  # a cut pass, not a filter
    # the canonical occurrence survives; the other two lost the run
    assert sum(probe in t for t in texts_on) == 1, (probe, texts_on)
    assert sum(map(len, texts_on)) < sum(map(len, texts_off))


def test_curate_encoding_gate(spark, tmp_path):
    """--encoding-gate drops mojibake/replacement-damaged docs and
    nothing else; off by default."""
    import pandas as pd

    body = " ".join(f"word{i} the of and to be that have with" for i in range(8))
    damaged = body.replace("word3", "w" + chr(0xFFFD) + "rd3")
    rows = pd.DataFrame(
        {"doc_id": [1, 2], "text": [body, damaged]}
    )
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema="doc_id long, text string").write.parquet(inp)

    import jobs.curate as job

    def run(extra):
        out = str(tmp_path / ("curated_" + str(len(extra))))
        argv = [
            "curate.py", "--input", inp, "--synthesize", "--output", out,
            "--min-quality", "0.0", "--tau", "0.99", *extra,
        ]
        printed = []
        with patch.object(sys, "argv", argv), patch.object(
            SparkSession, "stop", lambda self: None
        ), patch("builtins.print", lambda s: printed.append(s)):
            job.main()
        return out, json.loads(printed[-1])

    out_on, s_on = run(["--encoding-gate"])
    kept_on = {r.doc_id for r in spark.read.parquet(out_on).collect()}
    assert s_on["encoding_gate"] is True
    assert "2" not in kept_on and len(kept_on) >= 1  # damaged doc dropped

    out_off, s_off = run([])
    kept_off = {r.doc_id for r in spark.read.parquet(out_off).collect()}
    assert s_off["encoding_gate"] is False
    assert len(kept_off) > len(kept_on)  # damaged doc survives without the gate


def test_curate_mixture_sidecar(spark, tmp_path):
    out, s = _run(
        spark,
        tmp_path,
        (
            "--min-quality", "0.0",
            "--mixture-weights", '{"src0": 0.7, "src1": 0.3}',
            "--mixture-budget", "2000",
        ),
    )
    mix = spark.read.parquet(out + "_mix")
    assert set(mix.columns) == {"doc_id", "source", "epoch"}
    assert s["n_mix_rows"] == mix.count() > 0
    srcs = {r.source for r in mix.select("source").distinct().collect()}
    assert srcs <= {"src0", "src1"}
    # every kept (doc, epoch) pair references a curated doc
    curated_ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert {r.doc_id for r in mix.select("doc_id").distinct().collect()} <= curated_ids


def test_curate_mixture_missing_source_fails_loudly(spark, tmp_path):
    with pytest.raises(ValueError, match="no_such_src"):
        _run(
            spark,
            tmp_path,
            (
                "--min-quality", "0.0",
                "--mixture-weights", '{"no_such_src": 1.0}',
                "--mixture-budget", "1000",
            ),
        )


def test_curate_mixture_knobs_rejected_at_parse_time(tmp_path):
    import jobs.curate as job

    for extra in (
        ("--mixture-weights", '{"a": 1.0}'),            # no budget
        ("--mixture-budget", "100"),                      # no weights
        ("--mixture-weights", "not json", "--mixture-budget", "1"),
        ("--mixture-weights", '{"a": -1.0}', "--mixture-budget", "1"),
        ("--mixture-weights", '{"a": "x"}', "--mixture-budget", "1"),
        ("--mixture-weights", '{"a": null}', "--mixture-budget", "1"),
        ("--mixture-weights", "[]", "--mixture-budget", "1"),
    ):
        argv = ["curate.py", "--input", "x", "--output", "y", *extra]
        with patch.object(sys, "argv", argv), pytest.raises(SystemExit):
            job.main()


def test_curate_mixture_fails_fast_without_source_column(spark, tmp_path):
    """A mixture-only run on a source-less input dies at job START
    (metadata schema check), not after the whole funnel ran."""
    import pandas as pd

    from ocr_spark.schema import DOC_SCHEMA

    span = lambda i, t: {"kind": "text", "text": t, "media_ref": "", "offset": i}
    rows = pd.DataFrame(
        {"doc_id": [1], "spans": [[span(0, "some words the a of")]]}
    )
    inp = str(tmp_path / "spans")
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(inp)
    import jobs.curate as job

    argv = [
        "curate.py", "--input", inp, "--output", str(tmp_path / "out"),
        "--mixture-weights", '{"a": 1.0}', "--mixture-budget", "10",
    ]
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), pytest.raises(SystemExit, match="--mixture-weights"):
        job.main()


# ---- stage 0.5 shaping and stage 9.7 span-table sidecars, over tiny
# nested span tables (no --synthesize)

_NESTED_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def _run_main(argv):
    import jobs.curate as job

    printed = []
    with patch.object(sys, "argv", argv), patch.object(
        SparkSession, "stop", lambda self: None
    ), patch("builtins.print", lambda s: printed.append(s)):
        job.main()
    return json.loads(printed[-1])


def test_curate_integrity_gate_and_sidecars(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    q = str(tmp_path / "quarantine")
    struct = str(tmp_path / "structure")
    rows = [
        ("good1", [("text", "hello world", "", 0), ("picture", "", "img-a", 1)]),
        ("good2", [("text", "more prose", "", 0), ("text", "tail", "", 1)]),
        # duplicate offsets: violates the span-table contract
        ("dup_off", [("text", "a", "", 1), ("text", "b", "", 1)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    summary = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--integrity-gate", q,
            "--emit-structure", struct,
        ]
    )
    assert summary["n_quarantined"] == 1
    quarantined = spark.read.parquet(q)
    assert [r.doc_id for r in quarantined.collect()] == ["dup_off"]
    # the quarantined rows are the FULL original rows (re-parseable)
    assert set(quarantined.columns) == {"doc_id", "spans"}
    curated = spark.read.parquet(out)
    assert {r.doc_id for r in curated.select("doc_id").distinct().collect()} == {
        "good1",
        "good2",
    }
    # sidecars: every media span yields a caption_pairs row (NULL
    # caption allowed) and a media_context row
    assert summary["n_caption_pairs"] == 1
    assert summary["n_media_context"] == 1
    assert summary["n_section_paths"] > 0
    mc = spark.read.parquet(f"{struct}/media_context").collect()
    assert mc[0].media_ref == "img-a" and mc[0].text_before == "hello world"
    # template census + media-pair sidecars exist (gated corpus: two
    # structurally-distinct docs -> two fingerprints, no re-posts)
    assert summary["n_templates"] == 2
    assert summary["n_media_pairs"] == 0
    assert summary["n_tables"] == 0  # no table spans in this corpus
    ts = spark.read.parquet(f"{struct}/templates").collect()
    assert all(not r.is_template for r in ts)  # nothing repeats


def test_curate_emit_rendered(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rend = str(tmp_path / "rendered")
    rows = [
        ("r1", [("text", "hello world", "", 0), ("picture", "", "img-a", 1),
                ("caption", "a cat", "", 2)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    summary = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--emit-rendered", rend,
        ]
    )
    assert summary["n_rendered_docs"] == 1
    r = spark.read.parquet(f"{rend}/rendered").collect()[0]
    assert r.rendered_text == "hello world\n<|image|>\na cat"
    assert (r.n_rendered, r.n_media) == (3, 1)


def test_curate_integrity_gate_clean_corpus_is_noop(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    q = str(tmp_path / "quarantine")
    rows = [("d1", [("text", "prose", "", 0)])]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    summary = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--integrity-gate", q,
        ]
    )
    assert summary["n_quarantined"] == 0
    assert spark.read.parquet(q).count() == 0
    assert spark.read.parquet(out).count() > 0


def test_curate_emit_chunks(spark, tmp_path, monkeypatch):
    """--emit-chunks writes the chunk_interleaved sidecar over the
    input span table, equal to the operator applied directly, and its
    chunks_meta.json beside it — also when the directory is given as
    a file:// URI."""
    from ocr_spark.functions.interleave import chunk_interleaved

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chunks_dir = str(tmp_path / "chunks")
    rows = [
        ("d1", [("text", "a b c d e", "", 0), ("picture", "", "img", 1)]),
        ("d2", [("text", "one two", "", 0)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    s = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--emit-chunks", f"file://{chunks_dir}",
            "--chunk-tokens", "4",
            "--media-token-cost", "3",
        ]
    )
    got = sorted(map(tuple, spark.read.parquet(f"{chunks_dir}/chunks").collect()))
    want = sorted(map(tuple, chunk_interleaved(
        spark.read.parquet(inp), max_tokens=4, media_token_cost=3
    ).collect()))
    assert got == want and s["n_span_chunks"] == len(got)
    with open(f"{chunks_dir}/chunks_meta.json") as fh:
        assert json.load(fh) == {
            "chunk_cost": "ws", "chunk_tokens": 4, "media_token_cost": 3
        }
    assert os.listdir(cwd) == []


def test_curate_pack_slots(spark, tmp_path):
    """--pack-slots slot-packs the written chunk table; requires
    --emit-chunks."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chunks_dir = str(tmp_path / "chunks")
    rows = [
        ("d1", [("text", "a b c d e", "", 0), ("picture", "", "img", 1)]),
        ("d2", [("text", "one two", "", 0)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    s = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--emit-chunks", chunks_dir,
            "--chunk-tokens", "4",
            "--media-token-cost", "3",
            "--pack-slots", "2",
        ]
    )
    packs = spark.read.parquet(f"{chunks_dir}/packs")
    assert s["n_pack_rows"] == packs.count() > 0
    # every chunk row packed exactly once
    assert packs.count() == spark.read.parquet(
        f"{chunks_dir}/chunks"
    ).where("n_tokens > 0").count()
    # misuse is rejected at argparse time (exit 2) — see
    # test_curate_pack_slots_validated_before_any_work
    with pytest.raises(SystemExit) as e:
        _run_main(
            ["curate.py", "--input", inp, "--output", str(tmp_path / "o2"),
             "--pack-slots", "2"]
        )
    assert e.value.code == 2


def test_curate_interleave_gate_drops_gallery(spark, tmp_path):
    """--interleave-gate drops structurally bad docs (gallery runs /
    prose-free) before the kernel and accounts for them."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows = [
        # passes: two text spans, no media
        ("ok", [("text", "hello world", "", 0), ("text", "more", "", 1)]),
        # fails: media-only gallery (no text spans, run of 4)
        ("gallery", [("picture", "", f"img-{i}", i) for i in range(4)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    s = _run_main(
        [
            "curate.py",
            "--input", inp,
            "--output", out,
            "--min-quality", "0",
            "--interleave-gate",
        ]
    )
    assert s["n_extracted"] == 1 and s["dropped_structural"] == 1
    ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {"ok"}


def test_curate_pack_slots_validated_before_any_work(spark, tmp_path):
    """Flag misuse fails at argparse time (exit 2), before the job
    touches the input — not after an hours-long run."""
    with pytest.raises(SystemExit) as e:
        _run_main(
            ["curate.py", "--input", "/nonexistent", "--output", "/tmp/x",
             "--pack-slots", "2"]
        )
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e2:
        _run_main(
            ["curate.py", "--input", "/nonexistent", "--output", "/tmp/x",
             "--emit-chunks", "/tmp/c", "--pack-slots", "0"]
        )
    assert e2.value.code == 2


def test_curate_verify_chunks(spark, tmp_path):
    """--verify-chunks audits the WRITTEN chunk sidecar against the
    shaped span table (happy path: zero bad docs, key in the summary);
    the flag without --emit-chunks is rejected at argparse time. The
    failure path (a sidecar that does not conserve spans) cannot be
    reached through the CLI — the job always writes fresh chunks
    immediately before auditing — and is falsification-tested at the
    operator level (test_chunk_integrity_catches_corruption)."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chunks_dir = str(tmp_path / "chunks")
    rows = [
        ("d1", [("text", "a b c d e", "", 0), ("picture", "", "img", 1)]),
        ("d2", [("text", "one two", "", 0)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    s = _run_main(
        [
            "curate.py",
            "--input", inp, "--output", out, "--min-quality", "0",
            "--emit-chunks", chunks_dir,
            "--chunk-tokens", "4", "--media-token-cost", "3",
            "--verify-chunks",
        ]
    )
    assert s["chunk_integrity_bad_docs"] == 0
    assert s["n_span_chunks"] > 0
    with pytest.raises(SystemExit) as e:
        _run_main(
            ["curate.py", "--input", inp,
             "--output", str(tmp_path / "o2"), "--verify-chunks"]
        )
    assert e.value.code == 2


def test_curate_template_cap_and_media_dedup(spark, tmp_path):
    """--template-cap bounds template-farm mass; --media-dedup-tau
    drops gallery re-posts keeping one representative; both are
    accounted in the summary."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")

    def farm(i):
        return (f"farm{i:02d}",
                [("text", f"unique prose {i} alpha", "", 0),
                 ("picture", "", f"img-{i}", 1),
                 ("caption", f"cap {i}", "", 2),
                 ("text", f"tail {i} words", "", 3)])

    rows = [farm(i) for i in range(8)]                 # one template x8
    # gallery re-posts: same asset set, distinct structures (one has
    # an extra text span so the template family differs)
    rows += [
        ("post_a", [("text", "story one here", "", 0),
                    ("picture", "", "g1", 1),
                    ("text", "middle text", "", 2),
                    ("picture", "", "g2", 3)]),
        ("post_b", [("picture", "", "g1", 0), ("picture", "", "g2", 1),
                    ("text", "rewritten story", "", 2),
                    ("text", "extra paragraph", "", 3)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    s = _run_main(
        [
            "curate.py",
            "--input", inp, "--output", out, "--min-quality", "0",
            "--interleave-gate",
            "--template-cap", "3",
            "--media-dedup-tau", "0.9",
        ]
    )
    # 8 farm docs capped to 3 -> 5 dropped; one of post_a/post_b
    # dropped as a media dup (rep = min doc_id = post_a survives).
    # Every doc passes the structural gate, and the gate accounting
    # must NOT absorb the later stages' drops
    assert s["dropped_structural"] == 0
    assert s["n_template_dropped"] == 5
    assert s["n_media_dup_dropped"] == 1
    kept = {r.doc_id for r in spark.read.parquet(out).select(
        "doc_id").distinct().collect()}
    assert "post_a" in kept and "post_b" not in kept
    assert sum(k.startswith("farm") for k in kept) == 3


def test_curate_pii_scrub_spans_and_sidecars(spark, tmp_path):
    """--pii-scrub redacts the curated text AND the span table the
    sidecars read: no address survives in either."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rend = str(tmp_path / "rendered")
    rows = [
        ("d1", [("text", "mail bob@x.co today please do", "", 0),
                ("text", "more prose here", "", 1),
                ("text", "tail words", "", 2)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)
    _run_main(
        ["curate.py", "--input", inp, "--output", out, "--min-quality", "0",
         "--pii-scrub", "--emit-rendered", rend]
    )
    texts = [r.text for r in spark.read.parquet(out).collect()]
    texts += [
        r.rendered_text for r in spark.read.parquet(f"{rend}/rendered").collect()
    ]
    assert len(texts) == 2
    assert all("<EMAIL>" in t for t in texts)
    assert not any("bob@x.co" in t for t in texts)


def test_curate_chunk_cost_bpe(spark, tmp_path):
    """--chunk-cost bpe cuts and AUDITS under the trained tokenizer's
    budget (one cost expression drives both); boundaries differ from
    the ws default on subword-heavy text."""
    inp = str(tmp_path / "in")
    rows = [
        ("d1", [("text", "information understanding transformation "
                         "considering", "", 0),
                ("text", "quarterly international organizations "
                         "repeatedly", "", 1)]),
    ]
    spark.createDataFrame(rows, _NESTED_SCHEMA).write.parquet(inp)

    def run(tag, cost):
        return _run_main(
            ["curate.py", "--input", inp,
             "--output", str(tmp_path / f"out{tag}"), "--min-quality", "0",
             "--emit-chunks", str(tmp_path / f"ch{tag}"),
             "--chunk-tokens", "8", "--media-token-cost", "4",
             "--chunk-cost", cost, "--verify-chunks"]
        )

    s_bpe = run("bpe", "bpe")
    s_ws = run("ws", "ws")
    assert s_bpe["chunk_integrity_bad_docs"] == 0
    assert s_ws["chunk_integrity_bad_docs"] == 0
    bpe = spark.read.parquet(str(tmp_path / "chbpe/chunks")).collect()
    ws = spark.read.parquet(str(tmp_path / "chws/chunks")).collect()
    assert sorted(map(tuple, bpe)) != sorted(map(tuple, ws))
