"""Property-based kernel invariants (SURVEY.md §5.2(4)), run on BOTH
kernels via hypothesis-generated random span corpora:

- output span order strictly increasing in offset per doc
- media spans that survive keep their media_ref
- strip is monotone: stripped output is a subset of the input spans
- parity mode (no strip/truncate) reproduces the input sequence
  exactly (the north-rule invariant)
- idempotence: re-extracting the extracted output is a fixpoint
- pandas and arrow kernels agree on everything
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from ocr_spark.kernel.arrow_extract import extract_flat_batch, extract_nested_metrics_batch
from ocr_spark.kernel.extract import (
    DEFAULT_CONFIG,
    PARITY_CONFIG,
    extract_flat,
    extract_nested_metrics,
)
from ocr_spark.schema import KIND_ERROR

KINDS = [
    "text", "section_header_level_1", "page_header", "page_footer",
    "list_item", "picture", "caption", "link",
]
WORDS = ["alpha", "beta", "gamma", "https://x.io", "www.z.vn", "ngày", "bảo", "hiểm"]

span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(KINDS),
        "text": st.lists(st.sampled_from(WORDS), max_size=6).map(" ".join),
        "media_ref": st.just(""),
        "offset": st.integers(0, 10_000),
    }
)


@st.composite
def corpus_st(draw):
    n_docs = draw(st.integers(1, 12))
    rows = []
    for i in range(n_docs):
        spans = draw(st.lists(span_st, max_size=20))
        # unique offsets (duplicates are the malformed case, tested
        # separately); picture spans get refs and empty text
        seen = set()
        fixed = []
        for s in spans:
            if s["offset"] in seen:
                continue
            seen.add(s["offset"])
            s = dict(s)
            if s["kind"] == "picture":
                s["text"] = ""
                s["media_ref"] = f"img-{i}-{s['offset']}"
            fixed.append(s)
        rows.append({"doc_id": f"d{i:04d}", "spans": fixed})
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def _to_batch(pdf: pd.DataFrame) -> pa.RecordBatch:
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    spans = pa.array(
        [[(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row]
         for row in pdf["spans"]],
        type=pa.list_(span_t),
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(pdf["doc_id"].tolist(), pa.string()), spans],
        names=["doc_id", "spans"],
    )


def _nested(pdf: pd.DataFrame, cfg) -> pd.DataFrame:
    """The pandas spec's nested output projected to (doc_id, spans)."""
    return extract_nested_metrics(pdf, cfg)[["doc_id", "spans"]]


@settings(max_examples=60, deadline=None)
@given(corpus_st())
def test_kernel_invariants(pdf):
    out = extract_flat(pdf, DEFAULT_CONFIG)
    content = out[out["kind"] != KIND_ERROR]
    # strictly increasing offsets per doc
    for _, g in content.groupby("doc_id", sort=False):
        offs = g["offset"].tolist()
        assert offs == sorted(offs) and len(offs) == len(set(offs))
    # monotone strip: every output span exists in the input
    inputs = {
        (r["doc_id"], s["kind"], s["text"], s["offset"])
        for _, r in pdf.iterrows()
        for s in r["spans"]
    }
    for t in content.itertuples():
        assert (t.doc_id, t.kind, t.text, t.offset) in inputs
    # media refs preserved on surviving pictures
    for t in content[content["kind"] == "picture"].itertuples():
        assert t.media_ref.startswith("img-")


@settings(max_examples=60, deadline=None)
@given(corpus_st())
def test_parity_reproduces_input(pdf):
    out = _nested(pdf, PARITY_CONFIG)
    got = {r["doc_id"]: r["spans"] for _, r in out.iterrows()}
    for _, r in pdf.iterrows():
        expect = sorted(
            ({**s} for s in r["spans"]), key=lambda s: s["offset"]
        )
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[r["doc_id"]]
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in expect]


@settings(max_examples=40, deadline=None)
@given(corpus_st())
def test_idempotence(pdf):
    once = _nested(pdf, DEFAULT_CONFIG)
    twice = _nested(once, DEFAULT_CONFIG)
    # empty docs become error rows with spans=[] after the first pass;
    # the second pass sees them as empty again — compare non-empty only
    o = {r["doc_id"]: r["spans"] for _, r in once.iterrows() if r["spans"]}
    t = {r["doc_id"]: r["spans"] for _, r in twice.iterrows() if r["spans"]}
    assert o == t


@settings(max_examples=60, deadline=None)
@given(corpus_st())
def test_arrow_pandas_agree(pdf):
    batch = _to_batch(pdf)
    a_flat = extract_flat_batch(batch, DEFAULT_CONFIG).to_pandas()
    p_flat = extract_flat(pdf, DEFAULT_CONFIG)
    key = ["doc_id", "offset", "kind", "text", "media_ref", "kept", "block_id"]
    a = a_flat[key + ["link_density"]].sort_values(key).reset_index(drop=True)
    p = p_flat[key + ["link_density"]].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, p, check_dtype=False)

    a_n = extract_nested_metrics_batch(batch, DEFAULT_CONFIG).to_pandas()[["doc_id", "spans"]]
    p_n = _nested(pdf, DEFAULT_CONFIG)
    an = {
        r["doc_id"]: [tuple(s.values()) for s in r["spans"]] for _, r in a_n.iterrows()
    }
    pn = {
        r["doc_id"]: [tuple(s.values()) for s in r["spans"]] for _, r in p_n.iterrows()
    }
    assert an == pn


def test_malformed_duplicate_offsets():
    pdf = pd.DataFrame(
        [
            {"doc_id": "bad", "spans": [
                {"kind": "text", "text": "a", "media_ref": "", "offset": 1},
                {"kind": "text", "text": "b", "media_ref": "", "offset": 1},
            ]},
            {"doc_id": "ok", "spans": [
                {"kind": "text", "text": "c", "media_ref": "", "offset": 0},
            ]},
        ]
    )
    out = extract_flat(pdf, DEFAULT_CONFIG)
    assert (out[out["doc_id"] == "bad"]["kind"] == KIND_ERROR).all()
    assert (out[out["doc_id"] == "ok"]["kind"] == "text").all()
    a = extract_flat_batch(_to_batch(pdf), DEFAULT_CONFIG).to_pandas()
    assert (a[a["doc_id"] == "bad"]["kind"] == KIND_ERROR).all()


def test_truncate_doc_matches_sequential_spec():
    """The arrow kernel's closed-form truncation must match the pandas
    spec's sequential loop on randomized (lens, headers) inputs."""
    import numpy as np

    from ocr_spark.kernel.arrow_extract import _truncate_doc

    rng = np.random.default_rng(123)
    for trial in range(500):
        m = int(rng.integers(1, 120))
        lens = rng.integers(0, 400, size=m).astype(np.int64)
        is_header = rng.random(m) < 0.15
        budget = int(rng.integers(200, 4000))
        body_cap = budget * 0.9

        # sequential spec (kernel.extract._truncate inner loop)
        keep_ref = np.ones(m, dtype=bool)
        cc = 0
        for j in range(m):
            if cc + lens[j] > budget:
                keep_ref[j:] = False
                break
            if is_header[j]:
                cc += lens[j] + 1
            elif cc < body_cap:
                cc += lens[j] + 1
            else:
                keep_ref[j] = False

        got = _truncate_doc(lens, is_header, budget, body_cap)
        assert (got == keep_ref).all(), (trial, lens.tolist(), is_header.tolist(), budget)


def test_unicode_space_agreement():
    """\\xa0 (NBSP) is NOT ASCII whitespace: the pandas spec, the arrow
    kernel, and the Spark/DuckDB split semantics must all treat it as a
    word character (link-density denominators stay aligned)."""
    pdf = pd.DataFrame(
        [
            {"doc_id": "u1", "spans": [
                {"kind": "link", "text": "www.x.vn\xa0www.y.vn", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "a\xa0b c", "media_ref": "", "offset": 1},
            ]}
        ]
    )
    p = extract_flat(pdf, DEFAULT_CONFIG)
    a = extract_flat_batch(_to_batch(pdf), DEFAULT_CONFIG).to_pandas()
    key = ["doc_id", "offset"]
    pa_ = a.sort_values(key).reset_index(drop=True)
    pp_ = p.sort_values(key).reset_index(drop=True)
    assert pa_["link_density"].tolist() == pp_["link_density"].tolist()
    assert pa_["kept"].tolist() == pp_["kept"].tolist()
