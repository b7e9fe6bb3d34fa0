"""Extraction backends.

Both backends expose the same stage protocol the UDFs call
(``decode_doc / analyze_page / extract_ocr_text / finish_page``):

- ``heuristic`` (default) — deterministic, dependency-free; the module
  itself satisfies the protocol.
- ``model`` — pymupdf + doclayout_yolo + surya behind an import guard.

Selection is per-Python-worker via the ``OCR_SPARK_BACKEND`` env var so
the choice travels to executors with
``spark.executorEnv.OCR_SPARK_BACKEND`` (local mode inherits the driver
environment).  The resolved backend is cached per process — the same
lazy-singleton pattern as the reference's module-global models
(ocr.py:10-34, layout.py:92-118).
"""

from __future__ import annotations

import os

from . import heuristic
from .heuristic import HeuristicExtractor

_BACKEND = None


def get_backend():
    """Resolve the active extraction backend (cached per process)."""
    global _BACKEND
    if _BACKEND is None:
        name = os.environ.get("OCR_SPARK_BACKEND", "heuristic")
        if name == "model":
            from .model import ModelExtractor

            _BACKEND = ModelExtractor()
        else:
            _BACKEND = heuristic
    return _BACKEND


__all__ = ["HeuristicExtractor", "get_backend", "heuristic"]
