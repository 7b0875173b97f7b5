"""The span-extraction kernel: pure pandas/NumPy, no SparkSession.

This is where the reference's extraction semantics live
(SURVEY.md §7.0). One batch = one pandas DataFrame with columns
(doc_id: str, spans: sequence of {kind,text,media_ref,offset} dicts);
a document never straddles two batches, so span order is preserved
without any shuffle (SURVEY.md §7.3).

Stages per batch (all vectorized over the flattened span table):
1. flatten      — explode span arrays into one flat frame
2. sanitize     — malformed docs (null kind/text/offset, duplicate
                  offsets) become failure rows, never crashes
                  (/root/reference/pipeline.py:411-424, abort_on_error
                  False at /root/reference/document_loader_api.py:19)
3. order        — stable sort by (doc, offset): reading order (O2)
4. truncate     — reference-exact char-budget rule
                  (/root/reference/pipeline.py:97-126)
5. classify     — features: link density, furniture flag; tag-transition
                  state machine assigns content block ids
6. strip        — boilerplate removal (main-content scoring, P7)
7. reassemble   — ordered (kind,text,media_ref,offset) per doc
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from itertools import chain

import numpy as np
import pandas as pd

from ocr_spark.schema import (
    WS,
    FURNITURE_KINDS,
    KIND_ERROR,
    KIND_LINK,
    KIND_PICTURE,
    KIND_TEXT,
    KIND_TRUNCATION_MARKER,
    TABLE_KINDS,
    TRUNCATION_KEEP_KINDS,
)

TRUNCATION_NOTE = "[... content truncated ...]"
WARN_EMPTY = "OCR_EMPTY_OR_FAILED"  # /root/reference/pipeline.py:392
WARN_MALFORMED = "PROCESSING_ERROR: malformed spans"  # analog of /root/reference/webapp/state.py:366-376


@dataclass(frozen=True)
class ExtractConfig:
    # Char budget before truncation kicks in; mirrors max_doctags_chars
    # (/root/reference/pipeline.py:33).
    max_chars: int = 50_000
    # Body lines are kept only below this fraction of the budget
    # (/root/reference/pipeline.py:122).
    body_budget_frac: float = 0.9
    # Spans with link density above this are boilerplate (P7).
    link_density_threshold: float = 0.5
    # Drop page furniture kinds (page_header/page_footer)?
    strip_furniture: bool = True
    # Minimum chars for a bare text span to count as content.
    min_text_chars: int = 0
    # Block-level text-density floor (the DOM-heuristic main-content
    # scoring pass): after classification, a content BLOCK whose kept
    # body text totals fewer chars than this is boilerplate fragment
    # noise and is dropped whole. 0 disables. Headers/media blocks are
    # exempt (structure, not prose).
    min_block_chars: int = 0
    # If False: annotate only (kept flag), drop nothing — parity mode
    # for the north-rule span-sequence-equality fixtures.
    strip: bool = True
    # Apply the truncation budget at all.
    truncate: bool = True


DEFAULT_CONFIG = ExtractConfig()
PARITY_CONFIG = ExtractConfig(strip=False, truncate=False)

_FLAT_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]
_LINK_TOKENS = ("http://", "https://", "www.", "<a ")
_KIND_CATEGORY = {
    "section_header_level_1": "header",
    "page_header": "furniture",
    "page_footer": "furniture",
    "list_item": "list",
    "picture": "media",
    "caption": "media",
    # OTSL table cells flow together as one block and are exempt from
    # the body-text density floor (structure, not prose)
    **{k: "table" for k in TABLE_KINDS},
}


def _render_id(d):
    """NULL doc_id (contract violation, row already an error) renders
    as '' — the output schema's doc_id is non-nullable, matching the
    arrow kernel's fill_null."""
    return "" if d is None or (isinstance(d, float) and pd.isna(d)) else d


def _flatten(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Explode (doc_id, spans[list-of-dict]) into a flat span frame.

    Returns (flat, docs) where docs carries per-doc bookkeeping
    (doc_id, n_spans_in). Empty-span docs appear in docs only.
    """
    spans_lists = [s if s is not None and len(s) else [] for s in pdf["spans"]]
    lens = np.fromiter((len(s) for s in spans_lists), dtype=np.int64, count=len(spans_lists))
    docs = pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "n_spans_in": lens})
    if lens.sum() == 0:
        flat = pd.DataFrame(columns=_FLAT_COLS)
    else:
        flat = pd.DataFrame.from_records(list(chain.from_iterable(spans_lists)))
        flat = flat.reindex(columns=["kind", "text", "media_ref", "offset"])
        flat.insert(0, "doc_id", np.repeat(docs["doc_id"].to_numpy(), lens))
    return flat, docs


def _find_malformed(flat: pd.DataFrame) -> pd.Index:
    """doc_ids whose span set is malformed (FIXTURES.md §1)."""
    bad_kind = flat["kind"].isna()
    bad_offset = flat["offset"].isna()
    # picture spans legitimately carry empty text; null text elsewhere
    # is malformed.
    bad_text = flat["text"].isna() & (flat["kind"] != KIND_PICTURE)
    bad = flat.loc[bad_kind | bad_offset | bad_text, "doc_id"]
    dup = flat.loc[flat.duplicated(subset=["doc_id", "offset"], keep=False), "doc_id"]
    return pd.Index(bad).union(pd.Index(dup)).unique()


def _truncate(flat: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Reference-exact truncation (/root/reference/pipeline.py:97-126),
    mapped line->span with len = len(text) (+1 joiner).

    Sequential by construction (each keep decision feeds the running
    counter), but it only runs on the rare docs whose serialized length
    exceeds the budget — all other docs pass through untouched, exactly
    like the reference's early return (pipeline.py:107).
    """
    tlen = pd.to_numeric(flat["text"].str.len(), errors="coerce").fillna(0).astype(np.int64)
    doc_key = flat["doc_id"]
    doc_total = tlen.groupby(doc_key, sort=False).transform("sum") + tlen.groupby(
        doc_key, sort=False
    ).transform("size") - 1
    over = (doc_total > cfg.max_chars).to_numpy()
    if not over.any():
        return flat
    keep_mask = np.ones(len(flat), dtype=bool)
    is_header = flat["kind"].isin(TRUNCATION_KEEP_KINDS).to_numpy()
    lengths = tlen.to_numpy()
    offsets = flat["offset"].to_numpy()
    body_cap = cfg.max_chars * cfg.body_budget_frac
    marker_rows: list[tuple] = []
    doc_col = flat["doc_id"].to_numpy()
    for did in pd.unique(doc_col[over]):
        idx = np.flatnonzero(doc_col == did)
        cc = 0
        for j in idx:
            if cc + lengths[j] > cfg.max_chars:
                keep_mask[idx[idx >= j]] = False
                break
            if is_header[j]:
                cc += lengths[j] + 1
            elif cc < body_cap:
                cc += lengths[j] + 1
            else:
                keep_mask[j] = False
        marker_rows.append(
            (did, KIND_TRUNCATION_MARKER, TRUNCATION_NOTE, "", int(offsets[idx[-1]]) + 1)
        )
    out = flat[keep_mask]
    markers = pd.DataFrame(marker_rows, columns=_FLAT_COLS)
    out = pd.concat([out, markers], ignore_index=True)
    # restore reading order after the concat
    return out.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)


def _classify(flat: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Features + keep decision + tag-transition block segmentation."""
    text = flat["text"].fillna("")
    kind = flat["kind"]
    n_chars = text.str.len().to_numpy(dtype=np.float64)
    # the shared explicit whitespace class (schema.WS): Python's
    # unicode \s and RE2's no-\x0b \s both diverge from it
    n_words = text.str.count(WS + "+").to_numpy(dtype=np.float64) + (n_chars > 0)
    # link density: anchor-ish token mass over word mass; kind=link is
    # anchor-dense by definition (DOM-heuristic main-content scoring).
    link_hits = np.zeros(len(flat), dtype=np.float64)
    for tok in _LINK_TOKENS:
        link_hits += text.str.count(re.escape(tok)).to_numpy(dtype=np.float64)
    link_density = np.where(
        kind.to_numpy() == KIND_LINK, 1.0, np.minimum(1.0, link_hits / np.maximum(n_words, 1.0))
    )
    furniture = kind.isin(FURNITURE_KINDS).to_numpy()
    marker = (kind == KIND_TRUNCATION_MARKER).to_numpy()
    short_text = (kind.to_numpy() == KIND_TEXT) & (n_chars < cfg.min_text_chars)
    kept = ~(
        (furniture & cfg.strip_furniture)
        | (link_density > cfg.link_density_threshold)
        | short_text
    ) | marker
    # Tag-transition state machine: a new content block starts on doc
    # change, on a kind-category transition, or at a section header.
    # Categories group kinds that flow together (list runs,
    # picture+caption media blocks).
    cat = kind.map(_KIND_CATEGORY).fillna("body")
    doc_change = flat["doc_id"].ne(flat["doc_id"].shift()).to_numpy()
    cat_change = cat.ne(cat.shift()).to_numpy()
    new_block = doc_change | cat_change | (cat == "header").to_numpy()
    block_id = np.cumsum(new_block)
    # block-density floor: body/list blocks whose kept text totals
    # fewer than min_block_chars are fragment boilerplate -> dropped
    # whole (block_id is globally monotone here, so bincount segments
    # blocks exactly)
    if cfg.min_block_chars > 0 and len(flat):
        body_like = cat.isin(("body", "list")).to_numpy()
        kept_chars = np.where(kept & body_like & ~marker, n_chars, 0.0)
        block_sums = np.bincount(block_id, weights=kept_chars)
        sparse = body_like & (block_sums[block_id] < cfg.min_block_chars)
        kept = (kept & ~sparse) | marker
    # block ids restart per doc
    first_of_doc = np.zeros(len(flat), dtype=np.int64)
    first_of_doc[doc_change] = block_id[doc_change]
    block_base = np.maximum.accumulate(first_of_doc)
    out = flat.copy()
    out["kept"] = kept.astype(np.int32)
    out["block_id"] = (block_id - block_base).astype(np.int32)
    out["link_density"] = link_density
    return out


def extract_flat(pdf: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """(doc_id, spans) batch -> flat annotated span rows.

    Output columns: doc_id, kind, text, media_ref, offset, kept,
    block_id, link_density. Error rows use kind='__error__', offset=-1,
    text = warning message (errors become data, E1/E2/E4).

    A doc_id appearing in MORE THAN ONE input row violates the input
    contract (one row per document); all its rows become error rows
    (one per input row, empty-spans rows keeping the EMPTY warning) —
    never a silent merge. The arrow kernel applies the identical rule.
    (The check is batch-local by construction; contract-violating rows
    split across partitions extract independently in both kernels.)
    """
    flat, docs = _flatten(pdf)
    dup_ids = set(docs.loc[docs["doc_id"].duplicated(keep=False), "doc_id"])
    malformed_ids = set(dup_ids)
    if len(flat):
        malformed_ids |= set(_find_malformed(flat))
    err_rows: list[tuple] = []
    for did, n_in in zip(docs["doc_id"], docs["n_spans_in"]):
        if n_in == 0:
            err_rows.append((_render_id(did), KIND_ERROR, WARN_EMPTY, "", -1))
        elif (did is None or pd.isna(did)) or did in malformed_ids:
            # NULL doc_id is a contract violation like a duplicate —
            # same rule in the arrow kernel (_dup_doc_rows)
            err_rows.append((_render_id(did), KIND_ERROR, WARN_MALFORMED, "", -1))
    if len(flat):
        if malformed_ids:
            flat = flat[~flat["doc_id"].isin(malformed_ids)]
        flat = flat[~flat["doc_id"].isna()]
        flat = flat.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)
        if cfg.truncate:
            flat = _truncate(flat, cfg)
        flat = _classify(flat, cfg)
        if cfg.strip:
            flat = flat[flat["kept"] == 1]
    else:
        flat = pd.DataFrame(columns=_FLAT_COLS + ["kept", "block_id", "link_density"])
    if err_rows:
        errs = pd.DataFrame(err_rows, columns=_FLAT_COLS)
        errs["kept"] = np.int32(0)
        errs["block_id"] = np.int32(-1)
        errs["link_density"] = 0.0
        flat = errs if not len(flat) else pd.concat([flat, errs], ignore_index=True)
    flat["offset"] = flat["offset"].astype(np.int32)
    flat["kept"] = flat["kept"].astype(np.int32)
    flat["block_id"] = flat["block_id"].astype(np.int32)
    flat["text"] = flat["text"].fillna("")
    flat["media_ref"] = flat["media_ref"].fillna("")
    return flat.reset_index(drop=True)


def _group_spans(flat: pd.DataFrame, out_ids: list) -> list[list]:
    """Content rows of an extract_flat result -> one ordered span list
    per requested doc_id (docs that produced no content get []).
    Well-defined even for duplicate out_ids: duplicates are always
    error docs (input-contract violation) and carry no content."""
    content = flat[flat["kind"] != KIND_ERROR]
    records = content[["kind", "text", "media_ref", "offset"]].to_dict("records")
    doc_col = content["doc_id"].to_numpy()
    groups: dict[str, list] = {}
    if len(records):
        bounds = list(np.flatnonzero(doc_col[1:] != doc_col[:-1]) + 1) + [len(records)]
        start = 0
        for end in bounds:
            groups[doc_col[start]] = records[start:end]
            start = end
    return [groups.get(d, []) for d in out_ids]


def extract_nested_metrics(
    pdf: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> pd.DataFrame:
    """Nested output + per-doc metrics from ONE kernel execution (the
    pandas spec of arrow_extract.extract_nested_metrics_batch):
    columns doc_id, spans, n_spans_in, n_spans_out, parse_failed.

    Reassembly happens inside the batch (docs are batch-local), so the
    emitted span order is deterministic — no post-shuffle collect_list
    (SURVEY.md §7.3). Docs that reduce to nothing (or error) come back
    with spans=[] so rows are never silently dropped."""
    flat = extract_flat(pdf, cfg)
    out_ids = pdf["doc_id"].tolist()
    spans = _group_spans(flat, out_ids)
    failed_ids = set(flat.loc[flat["kind"] == KIND_ERROR, "doc_id"])
    n_in = [len(s) if s is not None else 0 for s in pdf["spans"]]
    return pd.DataFrame(
        {
            "doc_id": [_render_id(d) for d in out_ids],
            "spans": spans,
            "n_spans_in": np.asarray(n_in, dtype=np.int64),
            "n_spans_out": np.fromiter(
                (len(s) for s in spans), dtype=np.int64, count=len(spans)
            ),
            "parse_failed": np.asarray(
                [
                    (d is None or pd.isna(d) or d in failed_ids)
                    for d in out_ids
                ],
                dtype=np.int32,
            ),
        }
    )
