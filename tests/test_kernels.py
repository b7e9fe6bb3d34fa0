"""Kernel unit tests against hand-computed cases (reference semantics:
utils.py:48-117, layout.py:32-89, document.py:21-88, :438-454, :625-642)."""

import pytest

from ocr_spark.kernels import (
    box_overlap_pct,
    consolidate_blocks,
    merge_boxes,
    merge_overlapping_blocks,
    page_needs_ocr,
    postprocess_blocks,
    px_to_pt,
    should_ignore,
    sort_blocks,
)


class TestBoxOverlap:
    def test_no_overlap(self):
        assert box_overlap_pct((0, 0, 1, 1), (2, 2, 3, 3)) == 0.0

    def test_touching_edges_is_zero(self):
        # reference utils.py:81 uses <=, so shared edges don't overlap
        assert box_overlap_pct((0, 0, 1, 1), (1, 0, 2, 1)) == 0.0

    def test_contained_min_denominator(self):
        # small box fully inside big box → 1.0 with min-area denominator
        assert box_overlap_pct((0, 0, 10, 10), (2, 2, 4, 4)) == 1.0

    def test_first_as_denominator(self):
        # intersection 2x2=4, first area 100 → 0.04
        assert box_overlap_pct(
            (0, 0, 10, 10), (2, 2, 4, 4), use_first_as_denominator=True
        ) == pytest.approx(0.04)

    def test_partial(self):
        # boxes (0,0,2,2) and (1,1,3,3): inter 1, min area 4 → 0.25
        assert box_overlap_pct((0, 0, 2, 2), (1, 1, 3, 3)) == 0.25


class TestMergeBoxes:
    def test_union(self):
        assert merge_boxes((0, 1, 2, 3), (1, 0, 3, 2)) == (0, 0, 3, 3)


class TestPxToPt:
    def test_int_cast_before_scale(self):
        # reference layout.py:150-154: int() truncation BEFORE * (72/dpi)
        assert px_to_pt([10.9, 0.0, 20.9, 5.0], 200) == [
            10 * 0.36,
            0.0,
            20 * 0.36,
            5 * 0.36,
        ]


class TestMergeOverlappingBlocks:
    def test_empty(self):
        assert merge_overlapping_blocks([]) == []

    def test_priority_text_beats_title(self):
        # LAYOUT_CHOICES order: text has priority 0, title 1 (layout.py:18-29)
        blocks = [
            {"type": "title", "bbox": (0, 0, 10, 10)},
            {"type": "text", "bbox": (1, 1, 11, 11)},
        ]
        out = merge_overlapping_blocks(blocks)
        assert len(out) == 1
        assert out[0]["type"] == "text"
        assert out[0]["bbox"] == (0, 0, 11, 11)

    def test_fixpoint_chain(self):
        # C overlaps neither A nor B alone > 0.5, but overlaps A∪B
        a = {"type": "title", "bbox": (0.0, 0.0, 10.0, 10.0)}
        b = {"type": "text", "bbox": (1.0, 1.0, 11.0, 11.0)}
        c = {"type": "figure", "bbox": (6.5, 0.0, 15.0, 8.0)}
        assert box_overlap_pct(a["bbox"], c["bbox"]) <= 0.5
        assert box_overlap_pct(b["bbox"], c["bbox"]) <= 0.5
        out = merge_overlapping_blocks([a, b, c])
        assert len(out) == 1
        assert out[0]["bbox"] == (0.0, 0.0, 15.0, 11.0)
        assert out[0]["type"] == "text"

    def test_disjoint_sorted_y_then_x(self):
        blocks = [
            {"type": "text", "bbox": (50, 20, 60, 25)},
            {"type": "text", "bbox": (0, 20, 10, 25)},
            {"type": "text", "bbox": (0, 5, 10, 10)},
        ]
        out = merge_overlapping_blocks(blocks)
        assert [b["bbox"] for b in out] == [(0, 5, 10, 10), (0, 20, 10, 25), (50, 20, 60, 25)]


class TestNeedsOcr:
    def test_covered_page_native(self):
        layout = [{"type": "text", "bbox": (0.0, 0.0, 100.0, 100.0)}]
        lines = [
            {"bbox": (0.0, i * 10.0, 100.0, i * 10.0 + 8.0), "content": "x"}
            for i in range(10)
        ]
        assert page_needs_ocr(layout, lines) is False

    def test_empty_text_layer_needs_ocr(self):
        layout = [{"type": "text", "bbox": (0.0, 0.0, 100.0, 100.0)}]
        assert page_needs_ocr(layout, []) is True

    def test_no_layout_routes_to_ocr(self):
        assert page_needs_ocr([], [{"bbox": (0, 0, 1, 1), "content": "x"}]) is True

    def test_coverage_clamped_per_block(self):
        # many overlapping lines can't push one block's coverage past 1.0
        layout = [
            {"type": "text", "bbox": (0.0, 0.0, 10.0, 10.0)},
            {"type": "text", "bbox": (0.0, 20.0, 10.0, 120.0)},  # 10x bigger, empty
        ]
        lines = [{"bbox": (0.0, 0.0, 10.0, 10.0), "content": "x"}] * 50
        # covered = 100*1.0, total = 100+1000 → 0.0909 < 0.5
        assert page_needs_ocr(layout, lines) is True


class TestConsolidate:
    def test_absorb_and_leftover(self):
        layout = [{"type": "title", "bbox": (0.0, 0.0, 10.0, 10.0)}]
        lines = [
            {"bbox": (1.0, 1.0, 9.0, 3.0), "content": "in"},
            {"bbox": (50.0, 50.0, 60.0, 55.0), "content": "out"},
        ]
        out = consolidate_blocks(lines, layout)
        assert len(out) == 2
        assert out[0]["type"] == "title" and [ln["content"] for ln in out[0]["lines"]] == ["in"]
        assert out[1]["type"] == "text" and out[1]["lines"][0]["content"] == "out"

    def test_block_bbox_grows(self):
        layout = [{"type": "text", "bbox": (10.0, 0.0, 20.0, 10.0)}]
        lines = [{"bbox": (8.0, 1.0, 25.0, 3.0), "content": "wide"}]
        out = consolidate_blocks(lines, layout)
        assert out[0]["bbox"] == (8.0, 0.0, 25.0, 10.0)

    def test_order_dependence_first_block_wins(self):
        # a line overlapping two blocks > 0.5 goes to the FIRST in layout order
        layout = [
            {"type": "text", "bbox": (0.0, 0.0, 10.0, 10.0)},
            {"type": "title", "bbox": (0.0, 0.0, 10.0, 10.0)},
        ]
        lines = [{"bbox": (1.0, 1.0, 9.0, 9.0), "content": "x"}]
        out = consolidate_blocks(lines, layout)
        assert len(out) == 1 and out[0]["type"] == "text"

    def test_grown_bbox_affects_later_lines(self):
        # line A grows the block bbox; line B overlaps only the GROWN bbox
        layout = [{"type": "text", "bbox": (0.0, 0.0, 10.0, 10.0)}]
        lines = [
            {"bbox": (1.0, 1.0, 30.0, 9.0), "content": "grower"},
            {"bbox": (20.0, 1.0, 28.0, 9.0), "content": "rider"},
        ]
        out = consolidate_blocks(lines, layout)
        assert len(out) == 1
        assert [ln["content"] for ln in out[0]["lines"]] == ["grower", "rider"]

    def test_empty_blocks_dropped(self):
        layout = [{"type": "figure", "bbox": (100.0, 100.0, 110.0, 110.0)}]
        lines = [{"bbox": (0.0, 0.0, 5.0, 5.0), "content": "x"}]
        out = consolidate_blocks(lines, layout)
        assert len(out) == 1 and out[0]["type"] == "text"


class TestSortBlocks:
    def test_stable_y_sort(self):
        blocks = [
            {"bbox": (5.0, 10.0, 6.0, 11.0), "type": "a", "lines": []},
            {"bbox": (0.0, 10.0, 1.0, 11.0), "type": "b", "lines": []},
            {"bbox": (0.0, 5.0, 1.0, 6.0), "type": "c", "lines": []},
        ]
        out = sort_blocks(blocks)
        # ties on y keep insertion order (stable) — a before b
        assert [b["type"] for b in out] == ["c", "a", "b"]


class TestPostprocess:
    def _blk(self, text, btype="text"):
        return {
            "type": btype,
            "bbox": (0, 0, 1, 1),
            "lines": [
                {"bbox": (0, 0, 1, 1), "content": t} for t in text.split("\n")
            ],
        }

    def test_heading_ignored(self):
        b = self._blk("Case 1:23-cv-04567-ABC Document 5 Page 3 of 12")
        assert should_ignore(b) is True

    def test_heading_case_insensitive(self):
        b = self._blk("CASE 1:23-cv-04567-ABC Document 5 Page 3 of 12")
        assert should_ignore(b) is True

    def test_digit_only_ignored(self):
        assert should_ignore(self._blk("  42  ".strip())) is True
        assert should_ignore(self._blk("42a")) is False

    def test_short_abandon_ignored(self):
        assert should_ignore(self._blk("ab", "abandon")) is True
        assert should_ignore(self._blk("abcde", "abandon")) is False
        assert should_ignore(self._blk("ab", "text")) is False

    def test_postprocess_rewrites_type(self):
        out = postprocess_blocks([self._blk("7"), self._blk("body words here")])
        assert [b["type"] for b in out] == ["ignore", "text"]
