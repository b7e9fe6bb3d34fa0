"""Deterministic synthetic Common-Crawl-style page payload.

The offline sandbox has no pymupdf/torch/surya, so the engine's extraction
kernels run against a self-describing binary payload format that plays the
role of the PDF byte stream (reference document.py:532-541).  The format
encodes, per page, three ground-truth layers that let every reference
semantic execute for real:

- ``<layout .../>``   — what the layout detector would emit (reference
  layout.py:121-160): stored in PDF points; the extractor simulates the
  raster→detect→px-int-cast→pt-scale chain from those.
- ``<nline .../>``    — the embedded native text layer, line spans in points
  (reference ocr.py:74-101: PyMuPDF ``get_text("dict")`` lines/spans).
- ``<oline .../>``    — what OCR recognition would read off the raster
  (reference ocr.py:37-71: surya lines, bboxes in raster-PIXEL space).

Text content is base64-encoded per span so arbitrary unicode round-trips
without an escaping grammar.  Floats are ``repr``-encoded (exact round-trip).
Everything is derivable from the payload bytes alone — no RNG, no clock.
"""

from __future__ import annotations

import base64
import binascii
import re
from typing import Any

MAGIC = b"<!DOCTYPE sgdoc>"

_DOC_RE = re.compile(rb'<doc dpi="(\d+)" kind="([A-Z])">')
_PAGE_HDR_RE = re.compile(rb'<page i="(\d+)" w="([^"]+)" h="([^"]+)">')
_LAYOUT_RE = re.compile(rb'<layout type="([a-z_]+)" bbox="([^"]+)"/>')
_NLINE_RE = re.compile(rb'<nline bbox="([^"]+)" s="([^"]*)"/>')
_OLINE_RE = re.compile(rb'<oline bbox="([^"]+)" s="([^"]*)"/>')


def _fmt_bbox(bbox: list[float]) -> str:
    return ",".join(repr(float(c)) for c in bbox)


def _parse_bbox(raw: bytes) -> list[float]:
    """``x1,y1,x2,y2`` → four floats.  Any other coordinate count raises
    here, inside ``decode_doc``, so a malformed box is a PARSE_ERROR and
    never reaches the page kernels.  ``nan`` and ``±inf`` parse, as
    ``float()`` parses them: the kernels then apply the reference's
    scalar semantics to them (tests/test_properties.py)."""
    # float() accepts ASCII bytes directly; map() keeps the loop in C.
    x1, y1, x2, y2 = map(float, raw.split(b","))
    return [x1, y1, x2, y2]


def _b64_spans(spans: list[str]) -> str:
    return ",".join(
        base64.b64encode(s.encode("utf-8")).decode("ascii") for s in spans
    )


def _decode_spans(raw: bytes) -> list[str]:
    if not raw:
        return []
    # binascii.a2b_base64 directly: base64.b64decode adds a wrapper +
    # validation layer that costs ~40% of the decode on these short
    # tokens (measured; this loop runs once per line of every document)
    a2b = binascii.a2b_base64
    # strict_mode: a corrupted span token must RAISE into the per-doc
    # PARSE_ERROR lineage — the default decoder silently DISCARDS
    # non-alphabet bytes, shipping shifted/shortened text as COMPLETED
    return [
        a2b(tok, strict_mode=True).decode("utf-8")
        for tok in raw.split(b",")
    ]


def encode_page(page: dict[str, Any]) -> bytes:
    """Serialize one page dict (see ``_page_from_groups`` for the shape)."""
    parts = [
        f'<page i="{page["i"]}" w="{page["width"]!r}" h="{page["height"]!r}">'.encode()
    ]
    for blk in page["layout"]:
        parts.append(
            f'<layout type="{blk["type"]}" bbox="{_fmt_bbox(blk["bbox"])}"/>'.encode()
        )
    for line in page["native_lines"]:
        parts.append(
            f'<nline bbox="{_fmt_bbox(line["bbox"])}" '
            f's="{_b64_spans(line["spans"])}"/>'.encode()
        )
    for line in page["ocr_lines"]:
        parts.append(
            f'<oline bbox="{_fmt_bbox(line["bbox"])}" '
            f's="{_b64_spans([line["content"]])}"/>'.encode()
        )
    parts.append(b"</page>")
    return b"".join(parts)


def encode_doc(pages: list[dict[str, Any]], dpi: int = 200, kind: str = "A") -> bytes:
    """Serialize a document payload (the ``html`` binary column value)."""
    body = b"".join(encode_page(p) for p in pages)
    return MAGIC + f'<doc dpi="{dpi}" kind="{kind}">'.encode() + body + b"</doc>"


def _page_from_groups(i: bytes, w: bytes, h: bytes, body: bytes) -> dict[str, Any]:
    """One page's header groups and body (between the header and
    ``</page>``) → a page dict:

    ``{"i": int, "width": float, "height": float,
       "layout": [{"type", "bbox"}], "native_lines": [{"bbox", "spans"}],
       "ocr_lines": [{"bbox", "content"}]}``
    """
    return {
        "i": int(i),
        "width": float(w),
        "height": float(h),
        "layout": [
            {"type": t.decode("ascii"), "bbox": _parse_bbox(bb)}
            for t, bb in _LAYOUT_RE.findall(body)
        ],
        "native_lines": [
            {"bbox": _parse_bbox(bb), "spans": _decode_spans(s)}
            for bb, s in _NLINE_RE.findall(body)
        ],
        "ocr_lines": [
            {"bbox": _parse_bbox(bb), "content": (_decode_spans(s) or [""])[0]}
            for bb, s in _OLINE_RE.findall(body)
        ],
    }


def decode_doc(data: bytes) -> dict[str, Any]:
    """Parse a full document payload into
    ``{"dpi": int, "kind": str, "pages": [page, ...]}`` (pages in i order).

    Format dispatch (the analogue of the reference's parse seam,
    document.py:532-541): sgdoc magic → synthetic PDF payload; HTML sniff
    → :func:`ocr_spark.htmlpage.html_doc` (boilerplate-strip DOM walk into
    a virtual page); anything else is a payload error."""
    if not data.startswith(MAGIC):
        from . import htmlpage

        if htmlpage.looks_like_html(data):
            return htmlpage.html_doc(data)
        raise ValueError("bad payload magic")
    m = _DOC_RE.search(data)
    if m is None:
        raise ValueError("bad doc header")
    dpi, kind = int(m.group(1)), m.group(2).decode("ascii")
    pages = []
    # linear index scan, not a non-greedy ``<page ...>(.*?)</page>``
    # finditer over the whole payload: that regex re-scans to EOF at
    # every unclosed tag (measured quadratic — 10.5 s at 218 KiB of
    # crafted input; a 4 MiB bomb extrapolates to ~an hour in ONE task),
    # and it silently DROPPED pages with a corrupted open tag / absorbed
    # the next page into one missing its close tag.  A page is its
    # header, matched in place up to the first ``</page>`` (a header
    # that runs into it is malformed), and the body up to that close
    # tag ('<' cannot occur inside base64 span bodies); structural
    # corruption RAISES — a corrupt document must be a visible
    # PARSE_ERROR row, never a shorter COMPLETED one.
    pos = 0
    while True:
        start = data.find(b"<page ", pos)
        if start < 0:
            break
        end = data.find(b"</page>", start)
        if end < 0:
            raise ValueError("corrupt sgdoc: unclosed <page>")
        pm = _PAGE_HDR_RE.match(data, start, end)
        if pm is None:
            raise ValueError("corrupt sgdoc: malformed <page> header")
        pages.append(_page_from_groups(*pm.groups(), data[pm.end():end]))
        pos = end + 7
    if data.count(b"</page>") != len(pages):
        # an orphan close tag means some page's OPEN tag was corrupted —
        # its content vanished from the parse
        raise ValueError("corrupt sgdoc: page open/close tag mismatch")
    if data.count(b"<page ") != len(pages):
        # and an orphan OPEN tag means some page's CLOSE was corrupted:
        # find() then spans two pages, silently MERGING the next page's
        # content (header and all) into this one — the exact
        # shorter-COMPLETED outcome the scan exists to make loud
        raise ValueError("corrupt sgdoc: page open/close tag mismatch")
    pages.sort(key=lambda page: page["i"])
    return {"dpi": dpi, "kind": kind, "pages": pages}
