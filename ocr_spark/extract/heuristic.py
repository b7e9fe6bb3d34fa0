"""HeuristicExtractor — the deterministic, dependency-free extraction backend.

Implements the reference's per-page extraction chain (document.py:91-133)
against the synthetic payload format, preserving every observable semantic:

- raster safety cap: pages wider/taller than 4500 px at the document dpi are
  re-rendered at 72 dpi (document.py:407-416);
- layout detection emits float pixel boxes on the EFFECTIVE raster, which are
  int-cast then scaled by ``72/doc_dpi`` — the reference passes the document
  dpi to ``predict_layout`` even for capped pages (document.py:105-109,
  layout.py:150-154), so capped pages get shrunken layout boxes; preserved;
- greedy overlap merge fixpoint (layout.py:32-89);
- native text layer: span concat with '' + whitespace-only line drop
  (ocr.py:88-100);
- coverage probe routing (document.py:21-55);
- OCR fallback: recognition bboxes stay in raster-PIXEL space, exactly like
  surya output used verbatim (ocr.py:66-71);
- consolidation + stable y-sort (document.py:58-88, :444).

The ModelExtractor (pymupdf + doclayout_yolo + surya) implements the same
protocol behind an import guard — see ``ocr_spark.extract.model``.
"""

from __future__ import annotations

from typing import Any

from ..kernels.consolidate import (
    consolidate_blocks,
    page_needs_ocr,
    sort_blocks,
)
from ..kernels.layout import merge_overlapping_blocks, px_to_pt
from ..payload import decode_doc

RASTER_CAP_PX = 4500  # document.py:412
FALLBACK_DPI = 72  # document.py:413 (get_pixmap default matrix = 72 dpi)
DEFAULT_DPI = 200  # document.py:513


def effective_dpi(width_pt: float, height_pt: float, doc_dpi: int) -> int:
    """The 4500-px raster safety cap (document.py:407-416)."""
    w_px = width_pt * doc_dpi / 72
    h_px = height_pt * doc_dpi / 72
    if w_px > RASTER_CAP_PX or h_px > RASTER_CAP_PX:
        return FALLBACK_DPI
    return doc_dpi


def detect_layout(page: dict[str, Any], doc_dpi: int) -> list[dict]:
    """Simulated ``predict_layout`` (layout.py:121-160) for one page.

    Ground-truth layout boxes are stored in points; the "detector" sees them
    as float pixel boxes on the effective raster, then the reference chain
    applies int-cast → ×(72/doc_dpi) → greedy merge.
    """
    eff = effective_dpi(page["width"], page["height"], doc_dpi)
    blocks = []
    for blk in page["layout"]:
        xyxy_px = [c * eff / 72 for c in blk["bbox"]]  # "model output"
        blocks.append({"type": blk["type"], "bbox": px_to_pt(xyxy_px, doc_dpi)})
    return merge_overlapping_blocks(blocks)


def extract_native_text(page: dict[str, Any]) -> list[dict]:
    """Native text layer lines: span concat '' + drop whitespace-only
    (ocr.py:88-100)."""
    data = []
    for line in page["native_lines"]:
        content = "".join(line["spans"])
        if content.strip():
            data.append({"bbox": list(line["bbox"]), "content": content})
    return data


def extract_ocr_text(page: dict[str, Any], doc_dpi: int, lang: str = "en") -> list[dict]:
    """OCR fallback: recognition output with bboxes in raster-pixel space at
    the effective dpi (ocr.py:66-71 uses surya line.bbox verbatim — pixels).

    ``lang`` mirrors the reference's langs parameter (ocr.py:38,54-56); the
    deterministic stub recognizes the stored ground truth independent of
    language, as a real model would given a correctly-specified lang.
    """
    del lang  # plumbed for parity with ocr.py:38; stub output is lang-invariant
    eff = effective_dpi(page["width"], page["height"], doc_dpi)
    return [
        {
            "bbox": [c * eff / 72 for c in line["bbox"]],
            "content": line["content"],
        }
        for line in page["ocr_lines"]
    ]


def analyze_page(page: dict[str, Any], doc_dpi: int) -> dict[str, Any]:
    """Stage-1 per-page work: layout + native text + routing probe.

    Mirrors document.py:105-117 (predict_layout → page_needs_ocr, which as a
    side effect sets page.extracted_text = native lines).
    """
    layout = detect_layout(page, doc_dpi)
    native = extract_native_text(page)
    return {
        "layout": layout,
        "native_lines": native,
        "needs_ocr": page_needs_ocr(layout, native),
    }


def finish_page(lines: list[dict], layout: list[dict]) -> list[dict]:
    """Consolidate + stable y-sort → final ordered blocks
    (document.py:116/125 → :58-88 → set_blocks :438-454)."""
    return sort_blocks(consolidate_blocks(lines, layout))


class HeuristicExtractor:
    """Protocol object bundling the stage kernels (used by UDFs + oracle)."""

    name = "heuristic"

    decode_doc = staticmethod(decode_doc)
    analyze_page = staticmethod(analyze_page)
    extract_ocr_text = staticmethod(extract_ocr_text)
    finish_page = staticmethod(finish_page)
