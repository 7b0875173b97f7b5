"""Kernel unit tests — pure pandas (SURVEY.md §5.2.1), except
test_doc_metrics, which checks the Spark metrics projection."""

import numpy as np
import pandas as pd
import pytest

from ocr_spark.kernel.extract import (
    DEFAULT_CONFIG,
    PARITY_CONFIG,
    ExtractConfig,
    TRUNCATION_NOTE,
    WARN_EMPTY,
    WARN_MALFORMED,
    extract_flat,
    extract_nested_metrics,
)
from ocr_spark.schema import KIND_ERROR, KIND_TRUNCATION_MARKER


def mkdoc(doc_id, kinds_texts):
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(kinds_texts)
        ],
    }


def to_pdf(docs):
    return pd.DataFrame({"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]})


def test_strip_furniture_and_links():
    docs = [
        mkdoc(
            "d1",
            [
                ("page_header", "Liên số 2", ""),
                ("section_header_level_1", "GIẤY RA VIỆN", ""),
                ("text", "body content here", ""),
                ("link", "http://x.vn", ""),
                ("page_footer", "page 1 of 2", ""),
                ("picture", "", "img-0"),
                ("caption", "hình 1", ""),
            ],
        )
    ]
    out = extract_flat(to_pdf(docs))
    kinds = out["kind"].tolist()
    assert "page_header" not in kinds
    assert "page_footer" not in kinds
    assert "link" not in kinds
    assert kinds == ["section_header_level_1", "text", "picture", "caption"]
    # order preserved, media ref intact
    assert out["offset"].tolist() == sorted(out["offset"].tolist())
    assert out.loc[out["kind"] == "picture", "media_ref"].iloc[0] == "img-0"


def test_parity_mode_keeps_everything():
    docs = [
        mkdoc("d1", [("page_header", "x", ""), ("text", "y", ""), ("link", "http://a", "")])
    ]
    out = extract_flat(to_pdf(docs), PARITY_CONFIG)
    assert len(out) == 3
    assert out["kind"].tolist() == ["page_header", "text", "link"]
    assert out["kept"].tolist() == [0, 1, 0]  # annotations still say what *would* strip


def test_out_of_order_offsets_resorted():
    d = {
        "doc_id": "d1",
        "spans": [
            {"kind": "text", "text": "b", "media_ref": "", "offset": 2},
            {"kind": "text", "text": "a", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "m", "media_ref": "", "offset": 1},
        ],
    }
    out = extract_flat(to_pdf([d]))
    assert out["text"].tolist() == ["a", "m", "b"]


def test_empty_doc_yields_error_row():
    out = extract_flat(to_pdf([{"doc_id": "e1", "spans": []}]))
    assert len(out) == 1
    assert out["kind"].iloc[0] == KIND_ERROR
    assert out["text"].iloc[0] == WARN_EMPTY
    assert out["offset"].iloc[0] == -1


def test_malformed_null_text_yields_error_row():
    d = {
        "doc_id": "m1",
        "spans": [
            {"kind": "text", "text": None, "media_ref": "", "offset": 0},
            {"kind": "text", "text": "ok", "media_ref": "", "offset": 1},
        ],
    }
    out = extract_flat(to_pdf([d]))
    assert out["kind"].tolist() == [KIND_ERROR]
    assert out["text"].iloc[0] == WARN_MALFORMED


def test_malformed_duplicate_offsets_yields_error_row():
    d = {
        "doc_id": "m2",
        "spans": [
            {"kind": "text", "text": "a", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "b", "media_ref": "", "offset": 0},
        ],
    }
    out = extract_flat(to_pdf([d]))
    assert out["kind"].tolist() == [KIND_ERROR]


def test_picture_null_text_is_legal():
    d = {
        "doc_id": "p1",
        "spans": [{"kind": "picture", "text": None, "media_ref": "img-1", "offset": 0}],
    }
    out = extract_flat(to_pdf([d]))
    assert out["kind"].tolist() == ["picture"]
    assert out["text"].iloc[0] == ""


def reference_truncate(lines, max_chars, keep_prefixes=("section_header_level_1", "page_header")):
    """Straight reimplementation of /root/reference/pipeline.py:97-126
    mapped to (kind, text) spans — the oracle for our vectorized path."""
    total = sum(len(t) for _, t in lines) + len(lines) - 1
    if total <= max_chars:
        return lines, False
    out = []
    cc = 0
    for kind, text in lines:
        if cc + len(text) > max_chars:
            break
        if kind in keep_prefixes:
            out.append((kind, text))
            cc += len(text) + 1
        elif cc < max_chars * 0.9:
            out.append((kind, text))
            cc += len(text) + 1
    return out, True


@pytest.mark.parametrize("max_chars", [20, 50, 100, 240])
def test_truncation_matches_reference_semantics(max_chars):
    rng = np.random.default_rng(7)
    kinds = ["text", "section_header_level_1", "page_header", "list_item"]
    lines = [
        (str(rng.choice(kinds)), "x" * int(rng.integers(1, 30))) for _ in range(40)
    ]
    cfg = ExtractConfig(max_chars=max_chars, strip=False, truncate=True)
    docs = [mkdoc("t1", [(k, t, "") for k, t in lines])]
    out = extract_flat(to_pdf(docs), cfg)
    got = [(r.kind, r.text) for r in out.itertuples() if r.kind != KIND_TRUNCATION_MARKER]
    expected, truncated = reference_truncate(lines, max_chars)
    assert got == expected
    if truncated:
        assert out["kind"].iloc[-1] == KIND_TRUNCATION_MARKER
        assert out["text"].iloc[-1] == TRUNCATION_NOTE


def test_truncation_skipped_under_budget():
    docs = [mkdoc("t2", [("text", "short", "")])]
    out = extract_flat(to_pdf(docs), ExtractConfig(strip=False))
    assert KIND_TRUNCATION_MARKER not in out["kind"].tolist()


def test_block_ids_tag_transitions():
    docs = [
        mkdoc(
            "b1",
            [
                ("section_header_level_1", "H", ""),
                ("text", "a", ""),
                ("text", "b", ""),
                ("list_item", "c", ""),
                ("list_item", "d", ""),
                ("picture", "", "i"),
                ("caption", "cap", ""),
                ("text", "e", ""),
            ],
        )
    ]
    out = extract_flat(to_pdf(docs), PARITY_CONFIG)
    blocks = out["block_id"].tolist()
    # header | text,text | list,list | picture,caption | text
    assert blocks[1] == blocks[2]
    assert blocks[3] == blocks[4]
    assert blocks[5] == blocks[6]
    assert len({blocks[0], blocks[1], blocks[3], blocks[5], blocks[7]}) == 5


def test_block_ids_restart_per_doc():
    docs = [
        mkdoc("a", [("text", "x", ""), ("list_item", "y", "")]),
        mkdoc("b", [("text", "z", "")]),
    ]
    out = extract_flat(to_pdf(docs), PARITY_CONFIG)
    assert out.loc[out["doc_id"] == "b", "block_id"].iloc[0] == out.loc[
        out["doc_id"] == "a", "block_id"
    ].iloc[0]


def test_nested_roundtrip_and_stability():
    docs = [
        mkdoc("d1", [("text", "a", ""), ("page_header", "h", ""), ("text", "b", "")]),
        {"doc_id": "d2", "spans": []},
    ]
    out = extract_nested_metrics(to_pdf(docs))[["doc_id", "spans"]]
    assert out["doc_id"].tolist() == ["d1", "d2"]
    d1 = out["spans"].iloc[0]
    assert [s["text"] for s in d1] == ["a", "b"]
    assert out["spans"].iloc[1] == []
    # idempotence on pass-through kinds: extracting the extracted
    # output changes nothing (strip is a fixpoint)
    again = extract_nested_metrics(out)
    assert [s["text"] for s in again["spans"].iloc[0]] == ["a", "b"]


def test_doc_metrics(spark):
    # the per-doc metrics surface is the Spark projection
    # extraction_metrics of the nested kernel output
    from ocr_spark.pipeline.extract import extraction_metrics
    from ocr_spark.schema import DOC_SCHEMA

    docs = [
        mkdoc("d1", [("text", "a", ""), ("page_header", "h", ""), ("link", "http://x", "")]),
        {"doc_id": "d2", "spans": []},
    ]
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], schema=DOC_SCHEMA
    )
    m = extraction_metrics(df).toPandas().set_index("doc_id")
    assert m.loc["d1", "n_spans_in"] == 3
    assert m.loc["d1", "n_spans_out"] == 1
    assert m.loc["d1", "parse_failed"] == 0
    assert m.loc["d1", "warning"] == ""
    assert m.loc["d2", "parse_failed"] == 1
    assert m.loc["d2", "warning"] == WARN_EMPTY
