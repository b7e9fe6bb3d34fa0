"""Spark schemas for every pipeline stage (SURVEY.md §1.3).

The reference's Document→Page→Block→Line object tree (document.py:136-491)
becomes nested ARRAY<STRUCT<...>> columns; float64 everywhere (bbox coords
are PDF points; OCR-path line bboxes are raster pixels, preserved verbatim
as the reference does with surya output, ocr.py:66-71).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (BASELINE input_hint): Common-Crawl-style pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

LINE_TYPE = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
        T.StructField("content", T.StringType(), False),
    ]
)

BLOCK_TYPE = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("lines", T.ArrayType(LINE_TYPE), False),
    ]
)

PAGE_STRUCT = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_TYPE), False),
    ]
)

# Paged plan, stage 1 output: one row per page (cross-document page
# flattening, R3 — reference document.py:764-786 flattens pages across docs
# for dense batches).
PAGE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("doc_dpi", T.IntegerType(), False),
        T.StructField("page_i", T.IntegerType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("page_bytes", T.BinaryType(), True),
        T.StructField("truncated", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# Wire format of the paged plan's per-page UDF (and of the extract_docs
# attribution view): blocks serialized as one JSON string per page, parsed
# JVM-side by from_json before the groupBy(url) assembly.  The fused plan
# does not use it: its UDF returns EXTRACTED_SCHEMA rows directly.
PAGE_BLOCKS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("page_i", T.IntegerType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("ocr", T.BooleanType(), False),
        T.StructField("blocks_json", T.StringType(), False),
        T.StructField("truncated", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# Final extracted table (≅ PDFDocument.data, document.py:644-654, + metrics);
# also the fused plan's mapInArrow return type, built column-wise in the
# worker (extract_udfs._doc_batch).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("pages", T.ArrayType(PAGE_STRUCT), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("ocr_pages", T.IntegerType(), False),
        T.StructField("truncated_pages", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)
