"""ocr_spark — a PySpark-native document/main-content extraction engine.

A from-scratch re-expression of the docketanalyzer/ocr extraction dataflow
as DataFrame operators plus vectorized Arrow UDF stages: parse → probe →
needs-OCR routing → OCR fallback → spatial consolidation → P3-P5
postprocess → document text and counts, with checkpointed lineage +
metrics for resume, and training-data operators (dedup / similarity /
text analysis).
"""

__version__ = "0.2.0"

from .pipeline import extract, flatten_lines, read_pages  # noqa: F401

__all__ = [
    "extract",
    "flatten_lines",
    "read_pages",
]
