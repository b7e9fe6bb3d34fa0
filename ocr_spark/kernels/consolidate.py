"""Routing + consolidation kernels.

- ``page_needs_ocr``: the embedded-text-layer coverage probe that routes a
  page to the native path or the OCR fallback (reference document.py:21-55).
- ``consolidate_blocks``: the order-dependent spatial join that absorbs text
  lines into layout blocks (reference document.py:58-88).
- ``sort_blocks``: stable y-sort that assigns final block indexes
  (reference document.py:438-454).

Both loops are O(blocks × lines) per page and run once per page inside the
extraction UDF, where a realistic page is ~6 blocks × ~11 lines: per-call
overhead, not arithmetic, is the cost.  So they are plain scalar loops over
Python floats with ``geometry.box_overlap_pct`` / ``merge_boxes`` inlined:
the same expressions in the same order, the builtin ``max(a, b)`` /
``min(a, b)`` written as ``b if b > a else a`` / ``b if b < a else a``
(identical NaN handling), the kernel's own empty-intersection test, and
the reference's strictly sequential ``+=`` folds.  tests/test_properties.py
pins both to literal transcriptions of the reference loops.
"""

from __future__ import annotations

MIN_COVERAGE = 0.5  # reference document.py:24 ``min_overlap=0.5``
LINE_ABSORB_THRESHOLD = 0.5  # reference document.py:72 ``> 0.5``


def page_needs_ocr(
    layout: list[dict], lines: list[dict], min_overlap: float = MIN_COVERAGE
) -> bool:
    """Coverage probe: area-weighted fraction of layout covered by native
    text lines; below ``min_overlap`` ⇒ page needs OCR.

    Mirrors reference document.py:40-55: per block, per-line overlap pct with
    the BLOCK area as denominator, summed sequentially then clamped to 1.0.
    A page with no layout blocks is routed to OCR (the reference would divide
    by zero; no-layout pages do not occur in its corpus).
    """
    if not layout:
        return True
    line_boxes = [ln["bbox"] for ln in lines]
    total_area = 0.0
    covered_area = 0.0
    for block in layout:
        x1_min, y1_min, x1_max, y1_max = block["bbox"]
        block_area = (x1_max - x1_min) * (y1_max - y1_min)
        block_coverage = 0.0
        for x2_min, y2_min, x2_max, y2_max in line_boxes:
            # box_overlap_pct(block, line, use_first_as_denominator=True),
            # y first: lines are wide, short strips, so most pairs are
            # disjoint in y.  An empty intersection adds 0.0, which leaves
            # the sum as is (it is never -0.0), so it is skipped.
            yo_min = y2_min if y2_min > y1_min else y1_min
            yo_max = y2_max if y2_max < y1_max else y1_max
            if yo_max <= yo_min:
                continue
            xo_min = x2_min if x2_min > x1_min else x1_min
            xo_max = x2_max if x2_max < x1_max else x1_max
            if xo_max <= xo_min:
                continue
            block_coverage += (xo_max - xo_min) * (yo_max - yo_min) / block_area
        block_coverage = min(block_coverage, 1.0)
        total_area += block_area
        covered_area += block_area * block_coverage
    if total_area == 0:
        return True
    return covered_area / total_area < min_overlap


def consolidate_blocks(lines: list[dict], layout: list[dict]) -> list[dict]:
    """Absorb text lines into layout blocks; leftovers become singleton
    ``text`` blocks.  Exact replication of reference document.py:58-88:

    - blocks scan the SHARED line pool in layout order; absorbed lines are
      removed, so an earlier block shadows later ones (order-dependent);
    - the block bbox grows by union with each absorbed line (:75) and the
      rebinding at :76 happens INSIDE the line loop, so later lines in the
      same scan test against the grown bbox;
    - blocks that absorbed nothing are dropped (:78-79).
    """
    pool = list(lines)
    blocks: list[dict] = []
    for block in layout:
        absorbed: list[dict] = []
        kept: list[dict] = []
        x1_min, y1_min, x1_max, y1_max = block["bbox"]
        area1 = (x1_max - x1_min) * (y1_max - y1_min)
        for line in pool:
            x2_min, y2_min, x2_max, y2_max = line["bbox"]
            # box_overlap_pct(bbox, line["bbox"]), min-area denominator,
            # y first as in page_needs_ocr; an empty pair's 0.0 never
            # passes the > 0.5 gate
            yo_min = y2_min if y2_min > y1_min else y1_min
            yo_max = y2_max if y2_max < y1_max else y1_max
            if yo_max <= yo_min:
                kept.append(line)
                continue
            xo_min = x2_min if x2_min > x1_min else x1_min
            xo_max = x2_max if x2_max < x1_max else x1_max
            if xo_max <= xo_min:
                kept.append(line)
                continue
            area2 = (x2_max - x2_min) * (y2_max - y2_min)
            inter = (xo_max - xo_min) * (yo_max - yo_min)
            if inter / (area2 if area2 < area1 else area1) > LINE_ABSORB_THRESHOLD:
                absorbed.append(line)
                # merge_boxes(bbox, line["bbox"])
                x1_min = x2_min if x2_min < x1_min else x1_min
                y1_min = y2_min if y2_min < y1_min else y1_min
                x1_max = x2_max if x2_max > x1_max else x1_max
                y1_max = y2_max if y2_max > y1_max else y1_max
                area1 = (x1_max - x1_min) * (y1_max - y1_min)
            else:
                kept.append(line)
        pool = kept
        if absorbed:
            blocks.append(
                {
                    "bbox": (x1_min, y1_min, x1_max, y1_max),
                    "type": block["type"],
                    "lines": absorbed,
                }
            )
    for line in pool:
        blocks.append({"bbox": line["bbox"], "type": "text", "lines": [line]})
    return blocks


def sort_blocks(blocks: list[dict]) -> list[dict]:
    """Stable sort by y1 — assigns final block order/indexes.

    Reference document.py:444 (``sorted(blocks, key=lambda x: x["bbox"][1])``,
    Python sort is stable so ties keep consolidation order).
    """
    return sorted(blocks, key=lambda x: x["bbox"][1])
