"""Postprocess predicates (boilerplate / court-heading suppression) and
hierarchical text assembly.

Reference: document.py:625-642 (postprocess_court_doc), document.py:196-207 +
:328 + :389 (text property joins).  These are pure string functions, and
both the distributed plan and the pure-Python oracle run them: ``extract()``
applies them per page inside its ``mapInArrow`` routine
(``extract_udfs._extract_page``).  ``pipeline.POSTPROCESS_BLOCKS_EXPR`` is
their SQL twin (higher-order functions over the nested blocks column); only
perfbench's layer-attribution view (``pipeline.postprocess_stage``) runs it.
"""

from __future__ import annotations

import re

# Reference document.py:630.  The reference imports ``regex as re`` but the
# pattern only uses re-compatible syntax, so stdlib re matches identically.
HEADING_PATTERN = r"^.{0,50}ase \d+[-:]\d+[-\w]+.{1,200}\s+Page \d+ of \d+"
_HEADING_RE = re.compile(HEADING_PATTERN, flags=re.IGNORECASE)


def block_text(block: dict) -> str:
    """Block text = line contents joined with '\\n' (document.py:328)."""
    return "\n".join(line["content"] for line in block["lines"])


def page_text(blocks: list[dict]) -> str:
    """Page text = block texts joined with '\\n\\n' (document.py:389)."""
    return "\n\n".join(block_text(b) for b in blocks)


def doc_text(pages: list[list[dict]]) -> str:
    """Document text = page texts joined with '' (document.py:150 default)."""
    return "".join(page_text(p) for p in pages)


def should_ignore(block: dict) -> bool:
    """True when postprocess marks the block ``ignore``.

    Exact predicates from document.py:630-639:
    - court heading regex (case-insensitive ``re.match`` = anchored search),
    - digit-only block text after strip,
    - ``abandon`` blocks with no line longer than 4 chars.
    """
    text = block_text(block)
    if _HEADING_RE.match(text):
        return True
    if text.strip().isdigit():
        return True
    if block["type"] == "abandon" and not any(
        len(line["content"]) > 4 for line in block["lines"]
    ):
        return True
    return False


def postprocess_blocks(blocks: list[dict]) -> list[dict]:
    """Rewrite pass: set type='ignore' on matching blocks (document.py:641)."""
    out = []
    for b in blocks:
        if should_ignore(b):
            b = {**b, "type": "ignore"}
        out.append(b)
    return out
