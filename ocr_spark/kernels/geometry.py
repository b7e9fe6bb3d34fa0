"""Geometry kernels: bbox overlap and union.

These are the engine's only join predicates (reference: utils.py:48-91,
utils.py:94-117), scalar Python floats with the reference's builtin
``max``/``min`` semantics, so the pure-Python oracle and the Spark UDF
share byte-identical results.  The per-page hot loops
(``consolidate.page_needs_ocr``, ``consolidate.consolidate_blocks``) inline
these two expressions in the same operation order; tests/test_properties.py
pins the inlined loops to literal transcriptions that call them.
"""

from __future__ import annotations

Box = tuple[float, float, float, float]


def box_overlap_pct(
    box1: Box, box2: Box, use_first_as_denominator: bool = False
) -> float:
    """Intersection area over min(area1, area2) (or area1).

    Mirrors reference utils.py:48-91: returns 0.0 when the intersection is
    empty (touching edges count as empty, ``<=``).
    """
    x1_min, y1_min, x1_max, y1_max = box1
    x2_min, y2_min, x2_max, y2_max = box2

    area1 = (x1_max - x1_min) * (y1_max - y1_min)
    area2 = (x2_max - x2_min) * (y2_max - y2_min)

    xo_min = max(x1_min, x2_min)
    xo_max = min(x1_max, x2_max)
    yo_min = max(y1_min, y2_min)
    yo_max = min(y1_max, y2_max)

    if xo_max <= xo_min or yo_max <= yo_min:
        return 0.0

    inter = (xo_max - xo_min) * (yo_max - yo_min)
    denom = area1 if use_first_as_denominator else min(area1, area2)
    return inter / denom


def merge_boxes(box1: Box, box2: Box) -> Box:
    """Union bbox (elementwise min/min/max/max). Reference utils.py:94-117."""
    return (
        min(box1[0], box2[0]),
        min(box1[1], box2[1]),
        max(box1[2], box2[2]),
        max(box1[3], box2[3]),
    )
