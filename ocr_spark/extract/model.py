"""ModelExtractor — the real-model backend (pymupdf + doclayout_yolo + surya).

Import-guarded: the sandbox has none of these libraries, so this module only
verifies the *shape* of the integration.  On a real cluster the models load
as lazy per-Python-worker singletons (mirroring reference ocr.py:10-34 and
layout.py:92-118 module globals) with ``spark.python.worker.reuse=true`` so
each executor pays model load once, and batches ride through the same
``mapInPandas`` stages as the heuristic backend.

Reference chain implemented here 1:1:
- fitz.open("pdf", bytes) parse (document.py:532-536)
- Page.get_img raster at doc dpi with the 4500-px → 72-dpi cap
  (document.py:407-416)
- predict_layout: YOLOv10 → int-cast px → ×(72/dpi) → greedy merge
  (layout.py:121-160)
- extract_native_text via page.get_text("dict") (ocr.py:74-101)
- extract_ocr_text via surya Recognition+Detection (ocr.py:37-71)
"""

from __future__ import annotations

from typing import Any

from ..kernels.consolidate import consolidate_blocks, page_needs_ocr, sort_blocks
from ..kernels.layout import LAYOUT_CHOICES, merge_overlapping_blocks, px_to_pt

_FITZ = None
_LAYOUT_MODEL = None
_RECOGNITION_MODEL = None
_DETECTION_MODEL = None

RASTER_CAP_PX = 4500
DEFAULT_DPI = 200


def _floats(bbox) -> list[float]:
    """A library bbox (tuple, list, numpy scalars) → a fresh list of
    Python floats, the value shape the kernels and the UDF's Arrow row
    build take (the heuristic backend produces it natively)."""
    return [float(c) for c in bbox]


def available() -> bool:
    try:  # pragma: no cover - real deps absent in sandbox
        import fitz  # noqa: F401
        import doclayout_yolo  # noqa: F401
        import surya  # noqa: F401

        return True
    except Exception:
        return False


def _load_fitz():  # pragma: no cover - real deps absent in sandbox
    global _FITZ
    if _FITZ is None:
        import fitz

        _FITZ = fitz
    return _FITZ


def _load_layout_model():  # pragma: no cover
    """Lazy per-worker singleton (reference layout.py:92-118)."""
    global _LAYOUT_MODEL
    if _LAYOUT_MODEL is None:
        import torch
        from doclayout_yolo import YOLOv10

        device = "cuda" if torch.cuda.is_available() else "cpu"
        _LAYOUT_MODEL = YOLOv10(
            "doclayout_yolo_docstructbench_imgsz1280_2501.pt", verbose=False
        )
        _LAYOUT_MODEL.to(device)
    return _LAYOUT_MODEL


def _load_ocr_models():  # pragma: no cover
    """Lazy per-worker singletons (reference ocr.py:10-34)."""
    global _RECOGNITION_MODEL, _DETECTION_MODEL
    if _RECOGNITION_MODEL is None:
        from surya.detection import DetectionPredictor
        from surya.recognition import RecognitionPredictor

        _RECOGNITION_MODEL = RecognitionPredictor()
        _RECOGNITION_MODEL.disable_tqdm = True
        _DETECTION_MODEL = DetectionPredictor()
        _DETECTION_MODEL.disable_tqdm = True
    return _RECOGNITION_MODEL, _DETECTION_MODEL


class ModelExtractor:  # pragma: no cover - requires GPU deps
    """Same stage protocol as HeuristicExtractor, backed by real models."""

    name = "model"

    def __init__(self, dpi: int = DEFAULT_DPI):
        if not available():
            raise NotImplementedError(
                "ModelExtractor requires pymupdf + doclayout_yolo + surya; "
                "not installed in this environment. Use HeuristicExtractor."
            )
        self.dpi = dpi

    def decode_doc(self, data: bytes) -> dict[str, Any]:
        """Protocol shape: ``pages`` holds fitz page refs (each has ``.i``
        via ``number``), matching how the extraction UDF iterates
        ``doc["pages"]`` and hands each page to ``analyze_page``.

        HTML payloads short-circuit to the model-free DOM walk
        (htmlpage.py) — same per-format parse seam as the heuristic
        backend, so mixed corpora work under either backend."""
        from ..htmlpage import html_doc, looks_like_html

        if looks_like_html(data):
            return html_doc(data)
        fitz = _load_fitz()
        doc = fitz.open("pdf", data)
        pages = []
        for p in doc:
            p.i = p.number  # align with the heuristic page dict's "i"
            pages.append(p)
        return {"dpi": self.dpi, "kind": "PDF", "pages": pages}

    def _raster(self, fitz_page):
        import numpy as np
        from PIL import Image

        fitz = _load_fitz()
        mat = fitz.Matrix(self.dpi / 72, self.dpi / 72)
        pm = fitz_page.get_pixmap(matrix=mat, alpha=False)
        if pm.width > RASTER_CAP_PX or pm.height > RASTER_CAP_PX:
            pm = fitz_page.get_pixmap(alpha=False)  # 72 dpi fallback
        img = Image.frombytes("RGB", (pm.width, pm.height), pm.samples)
        return np.array(img)

    def analyze_page(self, page_ref, doc_dpi: int) -> dict[str, Any]:
        if isinstance(page_ref, dict):  # html virtual page — model-free
            from . import heuristic

            return heuristic.analyze_page(page_ref, doc_dpi)
        model = _load_layout_model()
        img = self._raster(page_ref)
        pred = model([img], verbose=False)[0]
        blocks = []
        for xyxy, cla in zip(pred.boxes.xyxy, pred.boxes.cls, strict=False):
            blocks.append(
                {
                    "type": LAYOUT_CHOICES[int(cla.item())],
                    "bbox": px_to_pt([p.item() for p in xyxy], doc_dpi),
                }
            )
        layout = merge_overlapping_blocks(blocks)
        native = []
        for block in page_ref.get_text("dict")["blocks"]:
            for line in block.get("lines", []):
                content = "".join(s["text"] for s in line["spans"])
                if content.strip():
                    native.append({"bbox": _floats(line["bbox"]), "content": content})
        return {
            "layout": layout,
            "native_lines": native,
            "needs_ocr": page_needs_ocr(layout, native),
        }

    def extract_ocr_text(self, page_ref, doc_dpi: int, lang: str = "en"):
        if isinstance(page_ref, dict):  # html virtual page — model-free
            from . import heuristic

            return heuristic.extract_ocr_text(page_ref, doc_dpi, lang)
        rec, det = _load_ocr_models()
        img = self._raster(page_ref)
        pred = rec([img], [[lang]], det)[0]
        return [
            {"bbox": _floats(ln.bbox), "content": ln.text}
            for ln in pred.text_lines
        ]

    finish_page = staticmethod(lambda lines, layout: sort_blocks(
        consolidate_blocks(lines, layout)
    ))
