"""Seeded input generators for the extraction benchmark.

Every generator is vectorized numpy/Arrow (no per-row Python), takes
an ``np.random.Generator`` built from the run's ``--seed`` and returns
Arrow tables, so the same seed always yields byte-identical inputs.

- :func:`flat_docs` — the flat ``documents`` shape (doc_id int64,
  text) that ``ocr_spark.sources.synth.synthesize_spans`` turns into a
  span table: a 5000-doc base corpus (10-80 words per doc, 32-word
  vocabulary, like the sf0.1 ``documents`` table) amplified into
  disjoint doc_id ranges with every word salted by its copy index, so
  copies share no text.
- :func:`skewed_docs` — the ``ocr_spark.fixtures.generate_corpus``
  distribution (log-normal doc sizes around 40 spans, a 1% giant tail
  of 2k-20k spans, 10% empty and 2% malformed docs, vi+en text)
  written straight into the nested span schema.
- :func:`daily_delta` — day N from day N-1: 5% of docs edited, 1%
  deleted, 2% new (half near-copies of existing docs, half fresh).

Class counts (giant, empty, malformed, changed, ...) are exact and the
size draws are rescaled to a fixed total, so the amount of work is the
same for every seed while the content differs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

BASE_DOCS = 5000
COPY_STRIDE = 10_000_000  # doc_id = base_id + copy * COPY_STRIDE
VOCAB = np.array(
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join plan task stage shuffle cache".split()
)

# skewed corpus: the generate_corpus distribution
KINDS = np.array(
    ["text", "list_item", "section_header_level_1", "picture",
     "page_header", "page_footer", "link", "caption"]
)
KIND_P = np.array([0.60, 0.10, 0.08, 0.06, 0.05, 0.04, 0.04, 0.03])
EN_WORDS = (
    "the patient was admitted for treatment and discharged after review "
    "of records the certificate confirms absence from work under social "
    "insurance regulation form number series issued by clinic"
).split()
VI_WORDS = [
    "giấy", "chứng", "nhận", "nghỉ", "việc",
    "hưởng", "bảo", "hiểm", "xã", "hội",
    "bệnh", "viện", "đa", "khoa", "người",
    "ngày", "sinh", "mã", "số", "thẻ", "phòng",
    "khám", "điều", "trị", "ngoại", "trú",
]
LINK_WORDS = ["http://example.com/a", "https://portal.gov.vn/x", "www.bhxh.vn"]
NORMAL_MEAN_SPANS = 40.0 * np.exp(0.8**2 / 2)  # log-normal(log 40, 0.8) mean
GIANT_LO, GIANT_HI = 2_000, 20_000


def _rescale(sizes: np.ndarray, total: int, lo: int, hi: int) -> np.ndarray:
    """Integer sizes in [lo, hi] with the draw's shape and (almost
    exactly) the given total."""
    if not len(sizes):
        return sizes.astype(np.int64)
    scaled = sizes * (total / sizes.sum())
    return np.clip(np.rint(scaled), lo, hi).astype(np.int64)


def _offsets(lens: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)


def _join_words(words: pa.Array, lens: np.ndarray) -> pa.Array:
    """Rows of ``lens[i]`` consecutive words -> space-joined strings."""
    lists = pa.ListArray.from_arrays(pa.array(_offsets(lens), pa.int64()), words)
    return pc.binary_join(lists, " ")


def _salted_vocab(copies: int) -> np.ndarray:
    """``copies * len(VOCAB)`` words: VOCAB with the copy index appended."""
    salt = np.arange(copies).astype(str)
    return np.char.add(VOCAB[None, :], salt[:, None]).ravel()


# ---------------------------------------------------------------------------
# flat documents (full_extract, daily_delta)
# ---------------------------------------------------------------------------


def flat_docs(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """(doc_id int64, text): the amplified, per-copy salted corpus."""
    copies = -(-n_docs // BASE_DOCS)
    base_len = rng.integers(10, 81, size=BASE_DOCS)
    base_words = rng.integers(0, len(VOCAB), size=int(base_len.sum()))
    base_off = _offsets(base_len)
    ids = np.arange(n_docs, dtype=np.int64)
    copy, base_id = ids // BASE_DOCS, ids % BASE_DOCS
    lens = base_len[base_id]
    # token t of doc d is base word (base_off[base_id] + t), salted by copy
    starts = np.repeat(base_off[base_id] - _offsets(lens)[:-1], lens)
    tok = np.arange(int(lens.sum()), dtype=np.int64) + starts
    salted = base_words[tok] + np.repeat(copy, lens) * len(VOCAB)
    words = pa.array(_salted_vocab(copies)).take(pa.array(salted))
    return pa.table(
        {
            "doc_id": pa.array(base_id + copy * COPY_STRIDE, pa.int64()),
            "text": _join_words(words, lens),
        }
    )


def _edit_words(rng, text: pa.Array, n_edits: int, salt: str) -> pa.Array:
    """Replace ``n_edits`` random words of every row with a word that
    occurs nowhere in the base vocabulary (so the row's hash changes)."""
    words = pc.split_pattern(text, " ")
    lens = pc.list_value_length(words).to_numpy().astype(np.int64)
    flat = words.flatten()
    off = _offsets(lens)[:-1]
    for k in range(n_edits):
        mask = np.zeros(len(flat), dtype=bool)
        mask[off + (rng.random(len(lens)) * lens).astype(np.int64)] = True
        flat = pc.replace_with_mask(
            flat, pa.array(mask), pa.repeat(pa.scalar(f"edit{k}{salt}"), int(mask.sum()))
        )
    return _join_words(flat, lens)


def daily_delta(
    rng: np.random.Generator,
    yesterday: pa.Table,
    changed_frac: float = 0.05,
    deleted_frac: float = 0.01,
    new_frac: float = 0.02,
) -> tuple[pa.Table, dict]:
    """Today's corpus from yesterday's -> (today, id sets).

    The id sets (numpy int64 arrays) are what the change detection and
    the dedup pass are checked against: ``changed``, ``deleted``,
    ``new`` and ``near_copy_of`` (source doc of each near-copy new doc).
    """
    n = yesterday.num_rows
    ids = yesterday.column("doc_id").to_numpy()
    perm = rng.permutation(n)
    n_del, n_chg, n_new = (round(f * n) for f in (deleted_frac, changed_frac, new_frac))
    deleted = np.sort(perm[:n_del])
    changed = np.sort(perm[n_del : n_del + n_chg])
    keep = np.ones(n, dtype=bool)
    keep[deleted] = False
    text = yesterday.column("text").combine_chunks()
    edited = _edit_words(rng, text.take(pa.array(changed)), 2, "c")
    mask = np.zeros(n, dtype=bool)
    mask[changed] = True
    text = pc.replace_with_mask(text, pa.array(mask), edited.cast(pa.string()))
    # new docs: first half near-copies of surviving docs, second half fresh
    n_copy = n_new // 2
    src = rng.choice(np.flatnonzero(keep), size=n_copy, replace=False)
    copies_text = _edit_words(rng, text.take(pa.array(src)), 2, "n")
    fresh = flat_docs(rng, n_new - n_copy).column("text").combine_chunks()
    fresh = _edit_words(rng, fresh, 1, "f")
    new_ids = ids.max() + 1 + np.arange(n_new, dtype=np.int64)
    today = pa.table(
        {
            "doc_id": pa.array(np.concatenate([ids[keep], new_ids]), pa.int64()),
            "text": pa.concat_arrays(
                [
                    text.filter(pa.array(keep)).cast(pa.string()),
                    copies_text.cast(pa.string()),
                    fresh.cast(pa.string()),
                ]
            ),
        }
    )
    return today, {
        "changed": ids[changed],
        "deleted": ids[deleted],
        "new": new_ids,
        "near_copy_of": ids[src],
    }


# ---------------------------------------------------------------------------
# skewed nested corpus (skewed_extract)
# ---------------------------------------------------------------------------


def skewed_n_docs(target_spans: int, giant_frac: float = 0.01, empty_frac: float = 0.10) -> int:
    """Docs needed for ``target_spans`` expected spans."""
    mean = (1 - giant_frac - empty_frac) * NORMAL_MEAN_SPANS + giant_frac * (
        GIANT_LO + GIANT_HI
    ) / 2
    return max(100, round(target_spans / mean))


def skewed_docs(
    rng: np.random.Generator,
    n_docs: int,
    giant_frac: float = 0.01,
    empty_frac: float = 0.10,
    malformed_frac: float = 0.02,
) -> pa.Table:
    """(doc_id string, spans list<struct<kind,text,media_ref,offset>>)."""
    n_giant, n_empty = round(giant_frac * n_docs), round(empty_frac * n_docs)
    n_normal = n_docs - n_giant - n_empty
    cls = np.concatenate(
        [np.zeros(n_normal, np.int8), np.ones(n_giant, np.int8), np.full(n_empty, 2, np.int8)]
    )
    cls = cls[rng.permutation(n_docs)]
    lens = np.zeros(n_docs, dtype=np.int64)
    normal = np.maximum(1, rng.lognormal(np.log(40), 0.8, size=n_normal))
    lens[cls == 0] = _rescale(normal, round(n_normal * NORMAL_MEAN_SPANS), 1, 1 << 30)
    giant = rng.uniform(GIANT_LO, GIANT_HI, size=n_giant)
    lens[cls == 1] = _rescale(giant, round(n_giant * (GIANT_LO + GIANT_HI) / 2), GIANT_LO, GIANT_HI)

    n_spans = int(lens.sum())
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    doc_start = _offsets(lens)[:-1]
    offset = np.arange(n_spans, dtype=np.int64) - doc_start[doc_of]
    kind = rng.choice(len(KINDS), size=n_spans, p=KIND_P / KIND_P.sum())
    is_pic = KINDS[kind] == "picture"
    is_link = KINDS[kind] == "link"

    # words per span, each drawn from the span's vocabulary
    vocab = np.array(EN_WORDS + VI_WORDS + LINK_WORDS)
    vi = (rng.random(n_docs) < 0.5)[doc_of]
    base = np.where(is_link, len(EN_WORDS) + len(VI_WORDS), np.where(vi, len(EN_WORDS), 0))
    size = np.where(is_link, len(LINK_WORDS), np.where(vi, len(VI_WORDS), len(EN_WORDS)))
    n_words = np.where(is_link, rng.integers(1, 4, n_spans), rng.integers(2, 14, n_spans))
    n_words[is_pic] = 0
    tok = np.repeat(base, n_words) + (
        rng.random(int(n_words.sum())) * np.repeat(size, n_words)
    ).astype(np.int64)
    text = _join_words(pa.array(vocab).take(pa.array(tok)), n_words)

    # media_ref 'img-<doc:06d>-<k>' for the k-th picture of a doc
    pic_cum = np.cumsum(is_pic)
    pic_before_doc = np.concatenate([[0], pic_cum])[doc_start][doc_of]
    pic_idx = pic_cum - is_pic - pic_before_doc
    refs = pc.binary_join_element_wise(
        "img-",
        pc.utf8_lpad(pa.array(doc_of).cast(pa.string()), 6, "0"),
        "-",
        pa.array(pic_idx).cast(pa.string()),
        "",
    )
    media_ref = pc.if_else(pa.array(is_pic), refs, "")

    # malformed docs: one NULL text or one duplicated offset each
    eligible = np.flatnonzero(lens >= 2)
    bad_docs = rng.choice(eligible, size=min(len(eligible), round(malformed_frac * n_docs)), replace=False)
    j = doc_start[bad_docs] + (rng.random(len(bad_docs)) * (lens[bad_docs] - 1)).astype(np.int64)
    null_text = (rng.random(len(bad_docs)) < 0.5) & ~is_pic[j]
    text_null = np.zeros(n_spans, dtype=bool)
    text_null[j[null_text]] = True
    dup = j[~null_text]
    offset[dup + 1] = offset[dup]
    text = pc.if_else(pa.array(text_null), pa.scalar(None, pa.string()), text)

    spans = pa.StructArray.from_arrays(
        [
            pa.array(KINDS).take(pa.array(kind)),
            text.cast(pa.string()),
            media_ref.cast(pa.string()),
            pa.array(offset, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    doc_ids = pc.binary_join_element_wise(
        "doc-", pc.utf8_lpad(pa.array(np.arange(n_docs)).cast(pa.string()), 8, "0"), ""
    )
    return pa.table(
        {
            "doc_id": doc_ids,
            "spans": pa.ListArray.from_arrays(pa.array(_offsets(lens), pa.int32()), spans),
        }
    )


def census(table: pa.Table, giant_min_spans: int = GIANT_LO) -> dict:
    """Input census stored beside every result: docs, spans, giant-doc
    share and in-memory bytes."""
    out = {"docs": table.num_rows, "bytes": table.nbytes}
    if "spans" in table.column_names:
        lens = pc.fill_null(pc.list_value_length(table.column("spans")), 0).to_numpy()
        out["spans"] = int(lens.sum())
        out["giant_doc_share"] = float((lens >= giant_min_spans).mean()) if len(lens) else 0.0
    return out
