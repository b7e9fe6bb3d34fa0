"""Arrow-batched UDF stages of the extraction pipeline.

Each stage is a ``mapInPandas`` iterator function: Arrow batches in, Arrow
batches out; the only Python-per-item loops are over variable-size nested
documents/pages inside a batch (the same granularity the reference batches
at, document.py:91-133).  No row-at-a-time Spark UDFs anywhere.

Stage map (reference → here):
- extract_docs:        fused plan — fitz.open + page list
                       (document.py:532-544), then every page through
                       _extract_page
- parse_pages:         paged plan, stage 1 — the same decode, one row per
                       page with its bytes (cross-doc page flattening,
                       document.py:783)
- analyze_and_finish:  paged plan, stage 2 — decode the page bytes, then
                       _extract_page
- _extract_page:       the per-page body both plans share: analyze →
                       native | OCR → consolidate (document.py:105-133) →
                       blocks JSON
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from ..extract import get_backend
from ..schemas import PAGE_BLOCKS_JSON_SCHEMA, PAGE_ROW_SCHEMA

_PAGE_ROW_COLS = PAGE_ROW_SCHEMA.fieldNames()
_BLOCKS_COLS = PAGE_BLOCKS_JSON_SCHEMA.fieldNames()


class _BackendProxy:
    """Late-binding handle so every UDF picks up the worker's configured
    backend (OCR_SPARK_BACKEND env, resolved once per Python worker —
    the reference's lazy model-singleton pattern, ocr.py:10-34)."""

    def __getattr__(self, name):
        return getattr(get_backend(), name)


hx = _BackendProxy()


def _page_i(page) -> int:
    """Page index accessor valid for both backends (heuristic page dicts
    carry ``"i"``; model-backend fitz pages carry ``.i``)."""
    return page["i"] if isinstance(page, dict) else int(page.i)


def _bbox_list(b) -> list[float]:
    return [float(c) for c in b]


def _pack_blocks(blocks: list[dict]) -> list[dict]:
    """Kernel block dicts → nested rows matching BLOCK_TYPE with indexes
    assigned in final order (document.py:444-454 Block/Line construction)."""
    return [
        {
            "i": bi,
            "bbox": _bbox_list(b["bbox"]),
            "type": b["type"],
            "lines": [
                {"i": li, "bbox": _bbox_list(ln["bbox"]), "content": ln["content"]}
                for li, ln in enumerate(b["lines"])
            ],
        }
        for bi, b in enumerate(blocks)
    ]


def _error(code: str, e: Exception) -> str:
    """Failure-code lineage string (SURVEY.md §2.9 R5)."""
    return f"{code}: {type(e).__name__}: {e}"


def _extract_page(
    page, dpi: int, lang: str | None
) -> tuple[bool, str, str | None]:
    """One decoded page → (ocr, blocks_json, error): the probe, the
    needs-OCR route to the native text layer or OCR (document.py:105-133),
    consolidation, and the JSON encode of the packed blocks.

    Guarded per PAGE in both plans: a throwing page becomes one
    EXTRACT_ERROR lineage row (never counted as OCR) while its document's
    good pages survive, and a single bad page can never abort a Spark task
    (or drop its siblings)."""
    try:
        info = hx.analyze_page(page, dpi)
        layout = [
            {"type": b["type"], "bbox": _bbox_list(b["bbox"])}
            for b in info["layout"]
        ]
        if info["needs_ocr"]:
            lines = hx.extract_ocr_text(page, dpi, lang or "en")
        else:
            lines = [
                {"bbox": _bbox_list(ln["bbox"]), "content": ln["content"]}
                for ln in info["native_lines"]
            ]
        blocks = json.dumps(_pack_blocks(hx.finish_page(lines, layout)))
    except Exception as e:  # noqa: BLE001 - failure-code lineage
        return False, "[]", _error("EXTRACT_ERROR", e)
    return bool(info["needs_ocr"]), blocks, None


def _decode_docs(pdf: pd.DataFrame) -> Iterator[tuple]:
    """Doc rows of one batch → (url, warc_ts, lang, doc, page_is, error).

    The decode and the page indices are read under one doc-level guard;
    a failure yields doc None and the document's PARSE_ERROR."""
    for url, warc_ts, html, lang in zip(
        pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
    ):
        try:
            doc = hx.decode_doc(bytes(html))
            page_is = [_page_i(p) for p in doc["pages"]]
        except Exception as e:  # noqa: BLE001 - failure-code lineage
            yield url, warc_ts, lang, None, [], _error("PARSE_ERROR", e)
        else:
            yield url, warc_ts, lang, doc, page_is, None


def extract_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc-level fully-fused stage: decode + probe + route + consolidate for
    every page of a document in ONE pass, straight from the scanned doc row.

    Why this shape (measured on the 240k-doc corpus):

    - binary payloads are the expensive thing to move across the
      JVM↔Python Arrow boundary — here they cross exactly once
      (scan → UDF) and never ride a shuffle or a UDF return;
    - the nested block tree is the expensive thing to hand BACK through
      Arrow (object-dtype struct coercion) — so blocks leave the worker as
      one JSON string per page (`json.dumps` is ~1000× cheaper than the
      per-element coercion) and are parsed JVM-side by codegen'd
      `from_json` (pipeline._parse_blocks_json).

    Right default when page kernels are CPU-cheap and docs are smallish;
    for corpora with giant documents use mode='paged' (page-level salted
    spread, analyze_and_finish).
    """
    for pdf in batches:
        rows = []
        for url, warc_ts, lang, doc, page_is, error in _decode_docs(pdf):
            trunc = doc is not None and bool(doc.get("truncated"))
            if not page_is:
                # a PARSE_ERROR, or a zero-page document — which still
                # exists in the output (the reference yields an empty
                # tree, not an error); page_i=-1 marks "no page" and
                # assembly skips it
                rows.append(
                    (url, warc_ts, lang, -1, 0, False, "[]", trunc, error)
                )
                continue
            for pi, page in zip(page_is, doc["pages"]):
                ocr, blocks, err = _extract_page(page, doc["dpi"], lang)
                rows.append(
                    (url, warc_ts, lang, pi, len(page_is), ocr, blocks,
                     trunc, err)
                )
        yield pd.DataFrame(rows, columns=_BLOCKS_COLS)


def parse_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc rows → page rows (url, warc_ts, lang, doc_dpi, page_i, n_pages,
    page_bytes, truncated, error) for the paged plan's salted spread.
    Payload parse failures become error rows with page_i = -1, the same
    rows extract_docs emits."""
    for pdf in batches:
        rows = []
        for url, warc_ts, lang, doc, page_is, error in _decode_docs(pdf):
            if doc is None:
                rows.append((url, warc_ts, lang, 0, -1, 0, None, False, error))
                continue
            trunc = bool(doc.get("truncated"))
            if not page_is:
                rows.append(
                    (url, warc_ts, lang, doc["dpi"], -1, 0, None, trunc, None)
                )
            for pi, raw in zip(page_is, doc["page_bytes"]):
                rows.append(
                    (url, warc_ts, lang, doc["dpi"], pi, len(page_is), raw,
                     trunc, None)
                )
        yield pd.DataFrame(rows, columns=_PAGE_ROW_COLS)


def analyze_and_finish(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Page rows (parse_pages, after the salted spread) → the same blocks
    rows extract_docs emits: decode the page bytes, then _extract_page."""
    for pdf in batches:
        rows = []
        for url, warc_ts, lang, dpi, pi, npg, raw, trunc, error in zip(
            *(pdf[c] for c in _PAGE_ROW_COLS)
        ):
            ocr, blocks = False, "[]"
            if error is None and raw is not None:
                try:
                    page = hx.decode_page(bytes(raw))
                except Exception as e:  # noqa: BLE001 - failure-code lineage
                    error = _error("EXTRACT_ERROR", e)
                else:
                    ocr, blocks, error = _extract_page(page, int(dpi), lang)
            rows.append(
                (url, warc_ts, lang, pi, npg, ocr, blocks, bool(trunc), error)
            )
        yield pd.DataFrame(rows, columns=_BLOCKS_COLS)
