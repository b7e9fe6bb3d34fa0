"""The end-to-end extraction pipeline as a declarative Spark plan.

Physical shape (SURVEY.md §4) — one plan, no exchange:

    Scan pages [project url,warc_ts,html,lang — text column pruned]
    → MapInArrow extract_doc_rows  (per document: decode + probe + native |
                                    OCR route + consolidate + P3-P5
                                    postprocess per page, then text joins
                                    and counts; the finished row, nested
                                    tree built as Arrow columns)

The per-page JSON stages below ``extract`` (``doc_fused_stage``,
``postprocess_stage``) are layer-attribution views for perfbench, not
part of the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import extract_udfs as udfs
from .schemas import BLOCK_TYPE, EXTRACTED_SCHEMA, PAGE_BLOCKS_JSON_SCHEMA

# P3 — court-heading regex (document.py:630).  Java regex; `(?i)` prefix
# replaces Python's re.IGNORECASE, `^` anchor replicates re.match.
HEADING_SQL_PATTERN = (
    r"(?i)^.{0,50}ase \d+[-:]\d+[-\w]+.{1,200}\s+Page \d+ of \d+"
)
# Inside a SQL string literal backslashes are escape characters — double them.
_HEADING_SQL_LITERAL = HEADING_SQL_PATTERN.replace("\\", "\\\\")

# Block text = lines joined by '\n' (document.py:328).
_BLOCK_TEXT = "array_join(transform(b.lines, l -> l.content), '\\n')"

# P4 — digit-only predicate (document.py:635 ``text.strip().isdigit()``).
# ``\s``-anchored + ``\p{Nd}`` so tab/newline padding and Unicode decimal
# digits match the Python semantics (residual gap: exotic Unicode spaces
# and superscript digits, which str.strip()/isdigit() also accept — absent
# from web-text line content in practice).
_DIGITS_SQL_PATTERN = r"^\s*\p{Nd}+\s*$"
_DIGITS_SQL_LITERAL = _DIGITS_SQL_PATTERN.replace("\\", "\\\\")

# P3-P5 postprocess predicates (document.py:630-639) as one SQL rewrite of
# the nested blocks column, used only by the postprocess_stage attribution
# view; extraction applies `should_ignore` in kernels/postprocess.py, the
# oracle's own function, inside the per-page routine.  The block text is
# joined ONCE per block by the inner transform (the struct field ``txt``)
# — inlining {_BLOCK_TEXT} directly would rebuild the joined string for
# every RLIKE (the CLAUDE.md inlined-array-build-in-lambda rule; cost
# bounded by lines-per-block, but two joins per block is still one too
# many).
POSTPROCESS_BLOCKS_EXPR = f"""
transform(
  transform(blocks, b -> named_struct('b', b, 'txt', {_BLOCK_TEXT})),
  x ->
    named_struct(
      'i', x.b.i,
      'bbox', x.b.bbox,
      'type',
        CASE WHEN x.txt RLIKE '{_HEADING_SQL_LITERAL}'
               OR x.txt RLIKE '{_DIGITS_SQL_LITERAL}'
               OR (x.b.type = 'abandon'
                   AND NOT exists(x.b.lines, l -> length(l.content) > 4))
             THEN 'ignore' ELSE x.b.type END,
      'lines', x.b.lines))
"""


def _parse_blocks_json(raw: DataFrame) -> DataFrame:
    """blocks_json string → nested blocks column via codegen'd from_json
    (the wire format of the perfbench attribution view)."""
    blocks_type = "array<" + BLOCK_TYPE.simpleString() + ">"
    return raw.withColumn(
        "blocks", F.from_json("blocks_json", blocks_type)
    ).drop("blocks_json")


def doc_fused_stage(pages: DataFrame) -> DataFrame:
    """Layer-attribution view, not on ``extract()``'s path: the fused
    per-document routine as per-page JSON rows (``extract_udfs.
    extract_docs``) parsed by ``from_json`` — the page-row layer chain
    perfbench times against the production plan."""
    raw = pages.select("url", "warc_ts", "html", "lang").mapInPandas(
        udfs.extract_docs, PAGE_BLOCKS_JSON_SCHEMA
    )
    return _parse_blocks_json(raw)


def postprocess_stage(page_blocks: DataFrame) -> DataFrame:
    """Layer-attribution view, not on ``extract()``'s path (extraction
    applies P3-P5 in ``extract_udfs._extract_page``): the SQL ignore rewrite
    over a page rows' nested blocks column.  Idempotent, so it may follow
    ``doc_fused_stage``, whose blocks are already postprocessed."""
    return page_blocks.withColumn("blocks", F.expr(POSTPROCESS_BLOCKS_EXPR))


def extract(pages: DataFrame) -> DataFrame:
    """pages table → extracted table (the flagship job): one output row
    per input row, finished by ONE ``mapInArrow`` straight off the scan.

    Each row is extracted on its own, so two captures of one url give two
    rows; extract_job picks the newest capture per url first on WARC
    input (``urls._newest_capture_per_url``)."""
    return pages.select("url", "warc_ts", "html", "lang").mapInArrow(
        udfs.extract_doc_rows, EXTRACTED_SCHEMA
    )


def flatten_lines(extracted: DataFrame) -> DataFrame:
    """Explode the nested tree to golden-compare granularity
    (url, page_i, block_i, block_type, line_i, content) — the byte-identity
    key space (reference tests/conftest.py:25-34)."""
    return (
        extracted.select("url", F.explode("pages").alias("p"))
        .select("url", F.col("p.i").alias("page_i"), F.explode("p.blocks").alias("b"))
        .select(
            "url",
            "page_i",
            F.col("b.i").alias("block_i"),
            F.col("b.type").alias("block_type"),
            F.explode("b.lines").alias("l"),
        )
        .select(
            "url",
            "page_i",
            "block_i",
            "block_type",
            F.col("l.i").alias("line_i"),
            F.col("l.content").alias("content"),
        )
    )


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
