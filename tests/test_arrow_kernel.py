"""Spark extraction (the Arrow kernel) vs the pandas executable spec
(ocr_spark.kernel.extract) applied to the same input: identical
outputs on every surface, including the hostile corpus (empty docs,
malformed spans, giant skew-tail docs, unordered offsets)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ocr_spark.fixtures import generate_corpus
from ocr_spark.kernel.extract import (
    DEFAULT_CONFIG,
    PARITY_CONFIG,
    WARN_EMPTY,
    WARN_MALFORMED,
    extract_flat,
    extract_nested_metrics,
)
from ocr_spark.pipeline.extract import (
    classify_spans,
    extract_documents_with_metrics,
    extract_main_content,
    extraction_metrics,
)
from ocr_spark.schema import DOC_SCHEMA, KIND_ERROR
from ocr_spark.sources.synth import synthesize_spans


@pytest.fixture(scope="module")
def synth_docs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return synthesize_spans(docs).cache()

@pytest.fixture(scope="module")
def hostile_docs(spark):
    rows = generate_corpus(n_docs=300, seed=7, giant_frac=0.03)
    return spark.createDataFrame(rows, schema=DOC_SCHEMA).cache()


def _rows(df):
    return sorted(
        tuple(x if not isinstance(x, list) else tuple(map(tuple, x)) for x in r)
        for r in df.collect()
    )


def _nested(df, cfg=DEFAULT_CONFIG):
    """The nested kernel output projected to (doc_id, spans)."""
    return extract_documents_with_metrics(df, cfg).select("doc_id", "spans")


def _nested_rows(df):
    out = []
    for r in df.collect():
        spans = tuple((s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or []))
        out.append((r.doc_id, spans))
    return sorted(out)


def _main_content(pdf, cfg=DEFAULT_CONFIG):
    """Spec of extract_main_content: extract_flat minus error rows."""
    flat = extract_flat(pdf, cfg)
    return flat[flat["kind"] != KIND_ERROR]


def _metrics_spec(pdf, cfg=DEFAULT_CONFIG):
    """Spec of extraction_metrics: the nested spec's counts, and a
    failed row's warning — EMPTY when the row has no spans, else
    MALFORMED (row-specific: an empty row of a duplicated doc reports
    EMPTY while its sibling reports MALFORMED)."""
    m = extract_nested_metrics(pdf, cfg).drop(columns="spans")
    failed = m["parse_failed"].to_numpy() == 1
    empty = m["n_spans_in"].to_numpy() == 0
    m["warning"] = np.where(
        failed, np.where(empty, WARN_EMPTY, WARN_MALFORMED), ""
    )
    return m


def _table_rows(t: pa.Table):
    def freeze(v):
        return tuple(tuple(x.values()) for x in v) if isinstance(v, list) else v

    return sorted((tuple(freeze(v) for v in r.values()) for r in t.to_pylist()), key=repr)


def assert_matches_spec(out, spec_fn, df, cfg=DEFAULT_CONFIG):
    """Spark output ``out`` == the pandas spec ``spec_fn`` run on the
    content of ``df`` as one batch, compared row-for-row in ``out``'s
    Arrow schema (the spec's NaN becomes NULL there, as it would on
    the wire)."""
    got = out.toArrow()
    pdf = spec_fn(df.toArrow().to_pandas(), cfg)
    want = pa.Table.from_pandas(pdf[out.columns], schema=got.schema, preserve_index=False)
    assert _table_rows(got) == _table_rows(want)


@pytest.mark.parametrize("corpus", ["synth_docs", "hostile_docs"])
def test_flat_equivalence(request, corpus):
    df = request.getfixturevalue(corpus)
    assert_matches_spec(extract_main_content(df), _main_content, df)


@pytest.mark.parametrize("corpus", ["synth_docs", "hostile_docs"])
def test_classify_equivalence(request, corpus):
    df = request.getfixturevalue(corpus)
    assert_matches_spec(classify_spans(df), extract_flat, df, PARITY_CONFIG)


@pytest.mark.parametrize("corpus", ["synth_docs", "hostile_docs"])
def test_nested_equivalence(request, corpus):
    df = request.getfixturevalue(corpus)
    assert_matches_spec(_nested(df), extract_nested_metrics, df)


@pytest.mark.parametrize("corpus", ["synth_docs", "hostile_docs"])
def test_metrics_equivalence(request, corpus):
    df = request.getfixturevalue(corpus)
    assert_matches_spec(extraction_metrics(df), _metrics_spec, df)


@pytest.mark.parametrize("corpus", ["synth_docs", "hostile_docs"])
def test_nested_metrics_equivalence(request, corpus):
    # the runner's single-pass commit shape: equal to the pandas spec,
    # and extraction_metrics reports the same counts
    df = request.getfixturevalue(corpus)
    assert_matches_spec(extract_documents_with_metrics(df), extract_nested_metrics, df)
    combined = {
        r.doc_id: (r.n_spans_in, r.n_spans_out, r.parse_failed)
        for r in extract_documents_with_metrics(df).collect()
    }
    separate = {
        r.doc_id: (r.n_spans_in, r.n_spans_out, r.parse_failed)
        for r in extraction_metrics(df).collect()
    }
    assert combined == separate


def test_duplicate_doc_id_rows_become_errors(spark):
    """A doc_id on two input rows of one batch violates the
    one-row-per-document contract: the kernel and the pandas spec
    both turn every such row into an error row (one per input row,
    spans=[]) instead of a silent merge. (The check is necessarily
    batch-local — rows split across partitions extract independently,
    which is likewise consistent.)"""
    import pandas as pd

    from ocr_spark.kernel.extract import WARN_MALFORMED

    span = lambda off: {"kind": "text", "text": f"s{off}", "media_ref": "", "offset": off}
    pdf = pd.DataFrame(
        {
            "doc_id": ["dup", "ok", "dup"],
            "spans": [[span(0), span(1)], [span(0)], [span(2), span(3)]],
        }
    )
    df = spark.createDataFrame(pdf, schema=DOC_SCHEMA).coalesce(1)
    rows = _nested(df).collect()
    got = [(r.doc_id, len(r.spans)) for r in rows]
    assert sorted(got) == [("dup", 0), ("dup", 0), ("ok", 1)], got
    m = {
        (r.doc_id, r.n_spans_in): r.parse_failed
        for r in extract_documents_with_metrics(df).collect()
    }
    assert m == {("dup", 2): 1, ("ok", 1): 0}, m
    assert_matches_spec(_nested(df), extract_nested_metrics, df)
    # the pandas spec's flat view carries one MALFORMED error row per
    # duplicate input row
    flat = extract_flat(pdf)
    errs = flat[flat["kind"] == "__error__"]
    assert list(errs["doc_id"]) == ["dup", "dup"]
    assert set(errs["text"]) == {WARN_MALFORMED}
    # and the kernel agrees with the spec row-for-row on the combined shape
    assert_matches_spec(extract_documents_with_metrics(df), extract_nested_metrics, df)


def test_null_doc_id_rows_become_errors(spark):
    """A NULL doc_id violates the input contract like a duplicate:
    the kernel and the pandas spec both error the row (spans dropped,
    parse_failed)."""
    import pandas as pd

    span = lambda off: {"kind": "text", "text": f"s{off}", "media_ref": "", "offset": off}
    pdf = pd.DataFrame(
        {"doc_id": [None, "ok"], "spans": [[span(0), span(1)], [span(0)]]}
    )
    df = spark.createDataFrame(pdf, schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>").coalesce(1)
    m = {r.doc_id: (r.n_spans_out, r.parse_failed) for r in
         extract_documents_with_metrics(df).collect()}
    # the non-nullable output schema renders the NULL id as ''
    assert m[""] == (0, 1), m
    assert m["ok"] == (1, 0), m
    assert_matches_spec(extract_documents_with_metrics(df), extract_nested_metrics, df)


def _span(off, kind="text", text=None):
    return {"kind": kind, "text": f"s{off}" if text is None else text,
            "media_ref": "", "offset": off}


# extraction_metrics rows of _HOSTILE_ROWS, pinned: the kernel's
# per-row failure rules on an empty row, a NULL spans row, a malformed
# span, a duplicated doc_id (one row with spans, one without) and a
# NULL doc_id (rendered as '').
_HOSTILE_ROWS = [
    ("ok", [_span(0), _span(1, "page_header", "h"), _span(2, "link", "http://x")]),
    ("empty", []),
    ("nullspans", None),
    ("malformed", [_span(0), {"kind": None, "text": "x", "media_ref": "", "offset": 1}]),
    ("dup", [_span(0), _span(1)]),
    ("dup", []),
    (None, [_span(0)]),
]
_HOSTILE_METRICS = [
    ("", 1, 0, 1, "PROCESSING_ERROR: malformed spans"),
    ("dup", 0, 0, 1, "OCR_EMPTY_OR_FAILED"),
    ("dup", 2, 0, 1, "PROCESSING_ERROR: malformed spans"),
    ("empty", 0, 0, 1, "OCR_EMPTY_OR_FAILED"),
    ("malformed", 2, 0, 1, "PROCESSING_ERROR: malformed spans"),
    ("nullspans", 0, 0, 1, "OCR_EMPTY_OR_FAILED"),
    ("ok", 3, 1, 0, ""),
]


def test_extraction_metrics_hostile_rows_are_pinned(spark):
    df = spark.createDataFrame(
        _HOSTILE_ROWS,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1)
    got = sorted(map(tuple, extraction_metrics(df).collect()), key=repr)
    assert got == _HOSTILE_METRICS
    assert_matches_spec(extraction_metrics(df), _metrics_spec, df)


def test_null_spans_row(spark):
    df = spark.createDataFrame(
        [("d1", None), ("d2", [])], schema=DOC_SCHEMA
    )
    rows = _rows(extraction_metrics(df))
    assert all(r[3] == 1 for r in rows)  # parse_failed for both
    nested = _nested_rows(_nested(df))
    assert nested == [("d1", ()), ("d2", ())]


def test_truncation_equivalence(spark):
    # one doc over the 50k budget: 600 spans x ~100 chars
    spans = [
        {"kind": "text" if i % 7 else "section_header_level_1",
         "text": "x" * 95 + f"-{i:03d}", "media_ref": "", "offset": i}
        for i in range(600)
    ]
    df = spark.createDataFrame([("big", spans), ("small", spans[:3])], schema=DOC_SCHEMA)
    assert_matches_spec(extract_main_content(df), _main_content, df)
    assert any(r[1] == "__truncated__" for r in _rows(extract_main_content(df)))


def test_weight_partition_preserves_content(spark, hostile_docs):
    from ocr_spark.pipeline.extract import weight_partition

    wp = weight_partition(hostile_docs, 8)
    assert wp.columns == hostile_docs.columns
    assert _nested_rows(wp) == _nested_rows(hostile_docs)
    # heaviest-first within each partition
    from pyspark.sql import functions as F

    sizes = wp.select(
        F.spark_partition_id().alias("pid"), F.size("spans").alias("n")
    ).collect()
    by_pid: dict = {}
    for r in sizes:
        by_pid.setdefault(r.pid, []).append(r.n)
    for pid, ns in by_pid.items():
        assert ns == sorted(ns, reverse=True), f"partition {pid} not heaviest-first"


def test_weight_partition_bounds_skew(spark):
    """Giant-doc tail (FIXTURES.md: ~1% docs at 2k-20k spans): after
    size-weighted partitioning no partition hoards the span mass, and
    docs run heaviest-first inside each partition (LPT-style — the
    straggler starts at t=0, not last)."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.extract import weight_partition

    rows = generate_corpus(n_docs=400, seed=11, giant_frac=0.02)
    df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    wp = weight_partition(df, 8)
    pairs = wp.select(
        F.spark_partition_id().alias("pid"), F.size("spans").alias("w")
    ).collect()
    loads: dict[int, int] = {}
    last_w: dict[int, int] = {}
    for r in pairs:
        loads[r.pid] = loads.get(r.pid, 0) + r.w
        assert r.w <= last_w.get(r.pid, 1 << 60)  # non-increasing per pid
        last_w[r.pid] = r.w
    mean = sum(loads.values()) / len(loads)
    assert max(loads.values()) <= 3 * mean, loads


def test_subslice_batches_identical_results(spark, hostile_docs):
    """Memory-bounding sub-slices must not change any output — incl.
    sliced-ListArray flatten handling inside the kernel."""
    from unittest.mock import patch

    import ocr_spark.pipeline.extract as px

    full = _nested_rows(_nested(hostile_docs))
    with patch.object(px, "MAX_SPANS_PER_KERNEL_CALL", 64):
        sliced = _nested_rows(_nested(hostile_docs))
    assert sliced == full

    flat_full = _rows(classify_spans(hostile_docs, ))
    with patch.object(px, "MAX_SPANS_PER_KERNEL_CALL", 64):
        flat_sliced = _rows(classify_spans(hostile_docs, ))
    assert flat_sliced == flat_full


def _subslice_loop_oracle(batches, max_spans: int):
    """The per-document greedy loop _subslice_batches replaced."""
    import pyarrow.compute as pc

    for b in batches:
        if b.num_rows == 0:
            continue
        lens = pc.fill_null(pc.list_value_length(b.column("spans")), 0).to_numpy(
            zero_copy_only=False
        )
        if lens.sum() <= max_spans:
            yield b
            continue
        start, acc = 0, 0
        for i, n in enumerate(lens):
            if acc + n > max_spans and i > start:
                yield b.slice(start, i - start)
                start, acc = i, 0
            acc += int(n)
        if start < b.num_rows:
            yield b.slice(start, b.num_rows - start)


def test_subslice_batches_match_the_loop_oracle():
    """Same slice boundaries as the per-document loop: empty and NULL
    span arrays, docs over the cap (alone), batches at or under the
    cap (whole)."""
    import numpy as np

    from ocr_spark.pipeline.extract import _subslice_batches

    def bounds(slices):
        return [(s.column("i")[0].as_py(), s.num_rows) for s in slices]

    rng = np.random.default_rng(11)
    batches = []
    for n_rows in (0, 1, 2, 7, 64, 300):
        lens = rng.integers(0, 12, n_rows)
        lens[rng.random(n_rows) < 0.2] = 0
        lens[rng.random(n_rows) < 0.05] = 90  # over every cap below
        spans = [
            None if (n == 0 and k % 3 == 0) else [{"offset": j} for j in range(n)]
            for k, n in enumerate(lens)
        ]
        batches.append(
            pa.RecordBatch.from_pydict({"i": list(range(n_rows)), "spans": spans})
        )
    n_sliced = 0
    for cap in (1, 5, 16, 40, 89, 90, 10**6):
        for b in batches:
            want = bounds(_subslice_loop_oracle([b], cap))
            assert bounds(_subslice_batches([b], cap)) == want, (cap, b.num_rows)
            n_sliced += len(want) > 1
    assert n_sliced > 10


def test_block_density_filter(spark):
    """min_block_chars drops sparse body blocks whole; headers/media
    survive; the kernel agrees with the pandas spec."""
    import dataclasses

    import pandas as pd

    from ocr_spark.kernel.extract import DEFAULT_CONFIG

    cfg = dataclasses.replace(DEFAULT_CONFIG, min_block_chars=30)
    spans = [
        {"kind": "section_header_level_1", "text": "Title", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "tiny", "media_ref": "", "offset": 1},  # sparse block
        {"kind": "picture", "text": "", "media_ref": "img-1", "offset": 2},
        {"kind": "text", "text": "this block has plenty of characters in it",
         "media_ref": "", "offset": 3},
        {"kind": "text", "text": "x", "media_ref": "", "offset": 4},  # same dense block
    ]
    df = spark.createDataFrame(
        pd.DataFrame([{"doc_id": "d1", "spans": spans}]), schema=DOC_SCHEMA
    )
    out = {r.offset: r.kind for r in extract_main_content(df, cfg=cfg).collect()}
    assert 0 in out and 2 in out  # header + media exempt
    assert 1 not in out  # sparse body block dropped whole
    assert 3 in out and 4 in out  # dense block survives entirely
    assert_matches_spec(extract_main_content(df, cfg), _main_content, df, cfg)
