"""DocTags stream parser: serialized layout markup -> ordered spans.

The reference delegates layout analysis to docling-serve and receives a
serialized, ordered DocTags stream: ``<kind><loc_l><loc_t><loc_r><loc_b>
text</kind>`` lines, with ``<picture>`` spans carrying empty bodies
(media placeholders, image_export_mode="placeholder" —
/root/reference/document_loader_api.py:16). Real samples live at
/root/reference/parsing_results.json:28,54,83,112,140.

This parser converts those streams into the engine's canonical
``(kind, text, media_ref, offset)`` span sequences — the north-rule
span-sequence-equality fixtures are produced exactly this way.

Parsing rules (derived from the observed streams):
- wrapper tags ``<doctag>``/``</doctag>`` and ``<unordered_list>``/
  ``</unordered_list>`` are structural; list members keep kind
  ``list_item``.
- every content tag is ``<kind>`` followed by 0+ ``<loc_N>`` geometry
  tokens, then the body text, then ``</kind>``.
- ``picture`` spans have empty bodies; they are assigned
  ``media_ref = "pic-<k>"`` numbered in document order (k starts at 0),
  other spans get ``media_ref = ""``.
- ``offset`` = emission order (0-based), which is the document reading
  order — the core ordering invariant (SURVEY.md O2).
- ``<otsl>...</otsl>`` blocks are docling's serialized table structure
  (the reference pins ``table_mode: "fast"``,
  /root/reference/document_loader_api.py:18; its golden output happens
  to contain no tables, so the token grammar follows docling's public
  OTSL format). Cells surface as first-class spans — LOSSLESS, not
  wrapper-stripped: each cell token ``<fcel>`` (full), ``<ecel>``
  (empty), ``<ched>``/``<rhed>``/``<srow>`` (column/row/section
  headers), ``<lcel>``/``<ucel>``/``<xcel>`` (merged-cell
  continuations) becomes a span of kind ``table_<token>`` carrying the
  cell text, and ``<nl>`` row breaks become ``table_nl`` spans, so the
  full row/column/merge structure round-trips through the span
  sequence in reading order.
"""

from __future__ import annotations

import re

_WRAPPER_TAGS = {"doctag", "unordered_list", "ordered_list"}

# One content span: <kind><loc..>body</kind>
_SPAN_RE = re.compile(
    r"<(?P<kind>[a-z_][a-z0-9_]*)>"  # opening tag
    r"(?P<locs>(?:<loc_\d+>)*)"  # geometry tokens
    r"(?P<body>.*?)"  # text body (may be empty)
    r"</(?P=kind)>",  # matching close tag
    re.DOTALL,
)

_LOC_RE = re.compile(r"<loc_(\d+)>")

# OTSL table block + its cell tokens (docling's public OTSL grammar).
_OTSL_RE = re.compile(r"<otsl>(?P<body>.*?)</otsl>", re.DOTALL)
_OTSL_CELL_RE = re.compile(
    r"<(?P<tok>fcel|ecel|lcel|ucel|xcel|nl|ched|rhed|srow)>(?P<body>[^<]*)"
)


def _parse_plain(segment: str, spans: list[dict], pic_count: int) -> int:
    """Non-table content: strip wrappers, emit <kind>..</kind> spans.
    Returns the updated picture counter."""
    for tag in _WRAPPER_TAGS:
        segment = segment.replace(f"<{tag}>", "").replace(f"</{tag}>", "")
    for m in _SPAN_RE.finditer(segment):
        kind = m.group("kind")
        if kind.startswith("loc_"):
            continue
        body = m.group("body").strip()
        if kind == "picture":
            media_ref = f"pic-{pic_count}"
            pic_count += 1
            body = ""
        else:
            media_ref = ""
        spans.append(
            {"kind": kind, "text": body, "media_ref": media_ref, "offset": len(spans)}
        )
    return pic_count


def _parse_otsl(body: str, spans: list[dict], truncated: bool = False) -> None:
    """Table block: one span per cell token, kind = table_<token>;
    <nl> row breaks become table_nl spans — the row/column/merge
    structure survives in the ordered sequence.

    ``truncated``: the block had no </otsl> (stream cut mid-table,
    e.g. the 1000-char preview slice). Complete cells are kept and the
    FINAL cell is dropped — its text may be cut mid-way — mirroring
    the plain-span rule that the unclosed last element is dropped."""
    cells = list(_OTSL_CELL_RE.finditer(body))
    if truncated and cells:
        cells = cells[:-1]
    for m in cells:
        spans.append(
            {
                "kind": f"table_{m.group('tok')}",
                "text": m.group("body").strip(),
                "media_ref": "",
                "offset": len(spans),
            }
        )


def parse_doctags(stream: str) -> list[dict]:
    """Parse one serialized DocTags stream into ordered span dicts.

    Returns [{kind, text, media_ref, offset}, ...]; tolerant of a
    truncated tail (unclosed final tag is dropped, matching how the
    reference previews cut streams mid-tag at 1000 chars —
    /root/reference/pipeline.py:408).
    """
    if not stream:
        return []
    spans: list[dict] = []
    pic_count = 0
    pos = 0
    # interleave plain segments and <otsl> table blocks in reading order
    for m in _OTSL_RE.finditer(stream):
        pic_count = _parse_plain(stream[pos : m.start()], spans, pic_count)
        _parse_otsl(m.group("body"), spans)
        pos = m.end()
    tail = stream[pos:]
    # a cut mid-table leaves an unclosed <otsl> in the tail: parse the
    # plain part, then salvage the complete cells of the open block
    open_otsl = tail.find("<otsl>")
    if open_otsl >= 0:
        _parse_plain(tail[:open_otsl], spans, pic_count)
        _parse_otsl(tail[open_otsl + len("<otsl>") :], spans, truncated=True)
    else:
        _parse_plain(tail, spans, pic_count)
    return spans
