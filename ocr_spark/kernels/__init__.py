from .consolidate import consolidate_blocks, page_needs_ocr, sort_blocks
from .geometry import box_overlap_pct, merge_boxes
from .layout import (
    BLOCK_TYPES,
    LAYOUT_CHOICES,
    TYPE_PRIORITY,
    merge_overlapping_blocks,
    px_to_pt,
)
from .postprocess import (
    HEADING_PATTERN,
    block_text,
    doc_text,
    page_text,
    postprocess_blocks,
    should_ignore,
)

__all__ = [
    "BLOCK_TYPES",
    "HEADING_PATTERN",
    "LAYOUT_CHOICES",
    "TYPE_PRIORITY",
    "block_text",
    "box_overlap_pct",
    "consolidate_blocks",
    "doc_text",
    "merge_boxes",
    "merge_overlapping_blocks",
    "page_needs_ocr",
    "page_text",
    "postprocess_blocks",
    "px_to_pt",
    "should_ignore",
    "sort_blocks",
]
