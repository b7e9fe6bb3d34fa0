"""Arrow-batched UDF stages of the extraction pipeline.

Each stage is a ``mapInArrow`` / ``mapInPandas`` iterator function: Arrow
batches in, Arrow batches out; the only Python-per-item loops are over
variable-size nested documents/pages inside a batch (the same granularity
the reference batches at, document.py:91-133).  No row-at-a-time Spark
UDFs anywhere.

Stage map (reference → here):
- extract_doc_rows:    fused plan (mapInArrow) — fitz.open + page list
                       (document.py:532-544), every page through
                       _extract_page, then the finished document row
                       (EXTRACTED_SCHEMA) built column-wise in the worker
- parse_pages:         paged plan, stage 1 — the same decode, one row per
                       page with its bytes (cross-doc page flattening,
                       document.py:783)
- analyze_and_finish:  paged plan, stage 2 — decode the page bytes, then
                       _extract_page; blocks leave as one JSON string per
                       page for the url assembly
- _extract_page:       the per-page body both plans share: analyze →
                       native | OCR → consolidate (document.py:105-133) →
                       P3-P5 postprocess (document.py:625-642)
- extract_docs:        layer-attribution view only (per-page JSON rows of
                       the fused per-document routine); not on extract()'s
                       path
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from ..extract import get_backend
from ..kernels.postprocess import doc_text, postprocess_blocks
from ..schemas import (
    EXTRACTED_SCHEMA,
    PAGE_BLOCKS_JSON_SCHEMA,
    PAGE_ROW_SCHEMA,
)

_PAGE_ROW_COLS = PAGE_ROW_SCHEMA.fieldNames()
_BLOCKS_COLS = PAGE_BLOCKS_JSON_SCHEMA.fieldNames()


# Arrow types of the nested ``pages`` column and its levels, as Spark
# reads them back (int32 indexes, float64 bboxes, non-null fields).
_PAGES_T = to_arrow_type(EXTRACTED_SCHEMA["pages"].dataType)
_BLOCKS_T = _PAGES_T.value_type.field("blocks").type
_LINES_T = _BLOCKS_T.value_type.field("lines").type
_BBOX_T = _LINES_T.value_type.field("bbox").type


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
    page, dpi: int, lang: str | None, postprocess: bool
) -> tuple[bool, list[dict], str | None]:
    """One decoded page → (ocr, blocks, error): the probe, the needs-OCR
    route to the native text layer or OCR (document.py:105-133),
    consolidation, and — when ``postprocess`` — the oracle's P3-P5 ignore
    rewrite (``kernels.postprocess.postprocess_blocks``).

    Guarded per PAGE in both plans: a throwing page becomes one
    EXTRACT_ERROR lineage row (never counted as OCR, no blocks) while its
    document's good pages survive, and a single bad page can never abort a
    Spark task (or drop its siblings)."""
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
        blocks = hx.finish_page(lines, layout)
        if postprocess:
            blocks = postprocess_blocks(blocks)
    except Exception as e:  # noqa: BLE001 - failure-code lineage
        return False, [], _error("EXTRACT_ERROR", e)
    return bool(info["needs_ocr"]), blocks, None


def _decode(html) -> tuple[dict | None, list[int], str | None]:
    """One payload → (doc, page_is, error).  The decode and the page
    indices are read under one doc-level guard; a failure yields doc None
    and the document's PARSE_ERROR."""
    try:
        doc = hx.decode_doc(bytes(html))
        return doc, [_page_i(p) for p in doc["pages"]], None
    except Exception as e:  # noqa: BLE001 - failure-code lineage
        return None, [], _error("PARSE_ERROR", e)


class _Page(NamedTuple):
    i: int
    ocr: bool
    blocks: list[dict]
    error: str | None


def _extract_doc(
    html, lang: str | None, postprocess: bool
) -> tuple[list[_Page], bool, str | None]:
    """The fused per-document routine: one payload → (pages, truncated,
    error), ``pages`` in decode order — empty for a PARSE_ERROR (``error``
    set) or a zero-page document."""
    doc, page_is, error = _decode(html)
    if doc is None:
        return [], False, error
    pages = [
        _Page(pi, *_extract_page(page, doc["dpi"], lang, postprocess))
        for pi, page in zip(page_is, doc["pages"])
    ]
    return pages, bool(doc.get("truncated")), None


def _list_array(offsets: list[int], values: pa.Array, typ) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, type=typ
    )


def _struct_list(typ, offsets: list[int], *children: pa.Array) -> pa.Array:
    """A list<struct> column of type ``typ`` from its struct's children."""
    structs = pa.StructArray.from_arrays(
        children, fields=list(typ.value_type)
    )
    return _list_array(offsets, structs, typ)


def _bbox_array(offsets: list[int], coords: list[float]) -> pa.Array:
    return _list_array(offsets, pa.array(coords, pa.float64()), _BBOX_T)


def _pages_column(docs: list[list[_Page]]) -> pa.Array:
    """Per document its kept pages → the nested ``pages`` column, built
    from flat per-level lists and their offsets: no per-block dict is
    rebuilt and Arrow coerces no nested Python object.  Indexes are
    assigned in final order (document.py:444-454); bbox coordinates
    become Python floats as in ``_bbox_list``."""
    page_off, page_i = [0], []
    block_off, block_i, block_type = [0], [], []
    line_off, line_i, line_content = [0], [], []
    block_bbox_off, block_bbox, line_bbox_off, line_bbox = [0], [], [0], []
    for pages in docs:
        for pi, _, blocks, _ in pages:
            page_i.append(pi)
            for bi, b in enumerate(blocks):
                block_i.append(bi)
                block_type.append(b["type"])
                block_bbox.extend(map(float, b["bbox"]))
                block_bbox_off.append(len(block_bbox))
                lines = b["lines"]
                line_i.extend(range(len(lines)))
                for ln in lines:
                    line_content.append(ln["content"])
                    line_bbox.extend(map(float, ln["bbox"]))
                    line_bbox_off.append(len(line_bbox))
                line_off.append(len(line_i))
            block_off.append(len(block_i))
        page_off.append(len(page_i))
    lines = _struct_list(
        _LINES_T,
        line_off,
        pa.array(line_i, pa.int32()),
        _bbox_array(line_bbox_off, line_bbox),
        pa.array(line_content, pa.string()),
    )
    blocks = _struct_list(
        _BLOCKS_T,
        block_off,
        pa.array(block_i, pa.int32()),
        _bbox_array(block_bbox_off, block_bbox),
        pa.array(block_type, pa.string()),
        lines,
    )
    return _struct_list(
        _PAGES_T, page_off, pa.array(page_i, pa.int32()), blocks
    )


def _doc_batch(batch: pa.RecordBatch, postprocess: bool) -> pa.RecordBatch:
    """One input batch (url, warc_ts, html, lang) → one EXTRACTED_SCHEMA
    batch, one row per input row.

    Per document the row is what assembling its page rows by url gives
    (pipeline.assemble_stage): the pages without error sorted by ``i``;
    the max of the page errors and the PARSE_ERROR, FAILED when there is
    one; truncated_pages = page rows × the decode's truncated flag, where
    a zero-page or unparsable document is one row."""
    kept, texts, n_blocks, ocr_pages, trunc_pages, errors = (
        [] for _ in range(6)
    )
    for html, lang in zip(
        batch.column("html").to_pylist(), batch.column("lang").to_pylist()
    ):
        pages, trunc, error = _extract_doc(html, lang, postprocess)
        ok = sorted((p for p in pages if p.error is None), key=lambda p: p.i)
        kept.append(ok)
        texts.append(doc_text([p.blocks for p in ok]))
        n_blocks.append(sum(len(p.blocks) for p in ok))
        ocr_pages.append(sum(p.ocr for p in pages))
        trunc_pages.append(max(len(pages), 1) * trunc)
        # a PARSE_ERROR document has no pages
        errors.append(
            max((p.error for p in pages if p.error is not None), default=error)
        )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"),
            batch.column("warc_ts"),
            pa.array(texts, pa.string()),
            _pages_column(kept),
            pa.array([len(ok) for ok in kept], pa.int32()),
            pa.array(n_blocks, pa.int32()),
            pa.array(ocr_pages, pa.int32()),
            pa.array(trunc_pages, pa.int32()),
            pa.array(
                ["COMPLETED" if e is None else "FAILED" for e in errors],
                pa.string(),
            ),
            pa.array(errors, pa.string()),
        ],
        names=EXTRACTED_SCHEMA.fieldNames(),
    )


def extract_doc_rows(
    batches: Iterator[pa.RecordBatch], postprocess: bool = True
) -> Iterator[pa.RecordBatch]:
    """Fused plan (``mapInArrow``): scanned doc rows → finished
    EXTRACTED_SCHEMA rows, one per input row — decode + probe + route +
    consolidate + postprocess for every page, text assembly and the
    document's counts, all in ONE Python call.

    The binary payload crosses the JVM↔Python boundary exactly once and
    never rides a shuffle or a UDF return; ``url`` and ``warc_ts`` pass
    through as the input Arrow arrays; the nested tree comes back as Arrow
    columns (``_doc_batch``), so there is no JSON, no ``from_json``, no
    SQL postprocess and no ``groupBy(url)`` behind this stage.
    """
    for batch in batches:
        yield _doc_batch(batch, postprocess)


def extract_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Layer-attribution view, not on ``extract()``'s path: the fused
    per-document routine (``_extract_doc``, postprocess on) flattened to
    the paged plan's per-page JSON wire format (PAGE_BLOCKS_JSON_SCHEMA),
    for ``mapInPandas``.  perfbench times it as the ``udf`` prefix of the
    per-page layer chain (``pipeline.doc_fused_stage``)."""
    for pdf in batches:
        rows = []
        for url, warc_ts, html, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
        ):
            pages, trunc, error = _extract_doc(html, lang, True)
            if not pages:
                # a PARSE_ERROR, or a zero-page document; page_i=-1 marks
                # "no page" and assembly skips it
                rows.append(
                    (url, warc_ts, lang, -1, 0, False, "[]", trunc, error)
                )
            for pi, ocr, blocks, err in pages:
                rows.append(
                    (url, warc_ts, lang, pi, len(pages), ocr,
                     json.dumps(_pack_blocks(blocks)), trunc, err)
                )
        yield pd.DataFrame(rows, columns=_BLOCKS_COLS)


def parse_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc rows → page rows (url, warc_ts, lang, doc_dpi, page_i, n_pages,
    page_bytes, truncated, error) for the paged plan's salted spread.
    Payload parse failures become error rows with page_i = -1 (assembly
    skips them as pages and keeps their error)."""
    for pdf in batches:
        rows = []
        for url, warc_ts, html, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
        ):
            doc, page_is, error = _decode(html)
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
    batches: Iterator[pd.DataFrame], postprocess: bool = True
) -> Iterator[pd.DataFrame]:
    """Page rows (parse_pages, after the salted spread) → blocks rows
    (PAGE_BLOCKS_JSON_SCHEMA): decode the page bytes, then _extract_page;
    each page's blocks leave as one JSON string, parsed JVM-side by
    ``from_json`` before the url assembly."""
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
                    ocr, kept, error = _extract_page(
                        page, int(dpi), lang, postprocess
                    )
                    blocks = json.dumps(_pack_blocks(kept))
            rows.append(
                (url, warc_ts, lang, pi, npg, ocr, blocks, bool(trunc), error)
            )
        yield pd.DataFrame(rows, columns=_BLOCKS_COLS)
