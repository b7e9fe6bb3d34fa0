"""The end-to-end extraction pipeline as a declarative Spark plan.

Physical shape (SURVEY.md §4), default ``fused`` plan — no exchange:

    Scan pages [project url,warc_ts,html,lang — text column pruned]
    → MapInArrow extract_doc_rows  (per document: decode + probe + native |
                                    OCR route + consolidate + P3-P5
                                    postprocess per page, then text joins
                                    and counts; the finished row, nested
                                    tree built as Arrow columns)

The ``paged`` plan swaps that UDF for two, around a salted exchange that
breaks giant-document skew (R3), and reassembles the scattered pages:

    → MapInPandas parse_pages         (doc → page rows with page bytes; cheap)
    → Exchange xxhash64(url, page_i)
    → MapInPandas analyze_and_finish  (the same per-page routine; blocks JSON)
    → from_json blocks
    → groupBy(url) assemble  (sort_array by page i; text joins '\\n'/'\\n\\n')

Both plans apply the same per-page routine (``extract_udfs._extract_page``,
postprocess included), so their trees are byte-identical.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, update_wrapper

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import extract_udfs as udfs
from .schemas import (
    BLOCK_TYPE,
    EXTRACTED_SCHEMA,
    PAGE_BLOCKS_JSON_SCHEMA,
    PAGE_ROW_SCHEMA,
)

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

# A2 — hierarchical text assembly (document.py:196-207, :328, :389, :150):
# line '\n' block, block '\n\n' page, page '' doc — the paged assembly's
# SQL twin of kernels/postprocess.doc_text, which the fused plan runs.
PAGE_TEXT_EXPR = (
    "array_join(transform(p.blocks, b -> "
    "array_join(transform(b.lines, l -> l.content), '\\n')), '\\n\\n')"
)
DOC_TEXT_EXPR = f"array_join(transform(pages, p -> {PAGE_TEXT_EXPR}), '')"


@dataclass
class PipelineConfig:
    """Knobs that matter at 100 TB.

    - mode: 'fused' (default) finishes whole documents in ONE mapInArrow
      pass straight off the scan, with no exchange — the binary payload
      crosses the JVM↔Python boundary exactly once and never rides a
      shuffle, and the finished row comes back as Arrow columns.  'paged'
      explodes to page rows first and salts them across partitions (R3),
      then reassembles documents by url — choose it when single documents
      are big enough to dominate a task and there are enough cores to
      spread their pages over.  On a 4-core host, `tools/skew_demo.py 500
      5000` (one 5,000-page document among 500 small ones; three fresh
      JVMs) read fused 3.67–4.39 s vs paged 6.04–6.74 s, i.e. paged runs
      at 0.61–0.66× fused (paged timed alone in a fresh JVM: 4.95–5.39
      s): at 4 cores the giant document's straggler task costs less than
      paged's extra UDF, exchange and assembly.
    - page_partitions: width of the paged plan's salted page-level
      exchange (None → spark.sql.shuffle.partitions).
    - postprocess: apply the P3-P5 ignore rewrite (document.py:625-642).
    """

    mode: str = "fused"
    page_partitions: int | None = None
    postprocess: bool = True


def _bind_postprocess(udf, cfg: PipelineConfig):
    """``udf`` with ``cfg.postprocess`` bound, under its own name in the
    plan."""
    return update_wrapper(partial(udf, postprocess=cfg.postprocess), udf)


def parse_stage(pages: DataFrame) -> DataFrame:
    """Doc rows → page rows.  Prunes the crawl `text` column before any
    shuffle; the scan ships only (url, warc_ts, html, lang)."""
    return pages.select("url", "warc_ts", "html", "lang").mapInPandas(
        udfs.parse_pages, PAGE_ROW_SCHEMA
    )


def fused_finish_stage(page_rows: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Page-level extraction: a salted page-level exchange (R3: the pages
    of one url scatter across partitions, so giant-doc skew is broken
    before the heavy stage), then the per-page UDF → block rows."""
    n = cfg.page_partitions or int(
        page_rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    raw = page_rows.repartition(n, F.xxhash64("url", "page_i")).mapInPandas(
        _bind_postprocess(udfs.analyze_and_finish, cfg),
        PAGE_BLOCKS_JSON_SCHEMA,
    )
    return _parse_blocks_json(raw)


def _parse_blocks_json(raw: DataFrame) -> DataFrame:
    """blocks_json string → nested blocks column via codegen'd from_json
    (the paged plan's wire format: its pages are scattered, so they come
    back as rows to assemble, not as finished documents)."""
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
    """Layer-attribution view, not on ``extract()``'s path (both plans
    apply P3-P5 in ``extract_udfs._extract_page``): the SQL ignore rewrite
    over a page rows' nested blocks column.  Idempotent, so it may follow
    ``doc_fused_stage``, whose blocks are already postprocessed."""
    return page_blocks.withColumn("blocks", F.expr(POSTPROCESS_BLOCKS_EXPR))


def assemble_stage(page_blocks: DataFrame) -> DataFrame:
    """Reassemble documents: one shuffle on url; page order restored by index
    (the reference's out-of-order streaming + index-keyed rehydration,
    document.py:98, :584-597); text joins are byte-exact A2 semantics."""
    assembled = page_blocks.groupBy("url").agg(
        F.first("warc_ts").alias("warc_ts"),
        # collect_list skips NULLs, so error rows and zero-page placeholders
        # (page_i = -1) contribute no page entry
        F.expr(
            "sort_array(collect_list(CASE WHEN error IS NULL AND page_i >= 0 "
            "THEN struct(page_i AS i, blocks) END))"
        ).alias("pages"),
        F.sum(
            F.expr("CASE WHEN error IS NULL AND page_i >= 0 THEN 1 ELSE 0 END")
        ).alias("n_pages_seen"),
        F.sum(F.expr("size(blocks)")).alias("n_blocks"),
        F.sum(F.when(F.col("ocr"), 1).otherwise(0)).alias("ocr_pages"),
        # decode-guard lineage: pages cut at MAX_HTML_BYTES (never silent)
        F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias(
            "truncated_pages"
        ),
        F.max("error").alias("error"),
    )
    return assembled.select(
        "url",
        "warc_ts",
        F.expr(DOC_TEXT_EXPR).alias("text"),
        "pages",
        F.col("n_pages_seen").cast("int").alias("n_pages"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("ocr_pages").cast("int").alias("ocr_pages"),
        F.col("truncated_pages").cast("int").alias("truncated_pages"),
        F.when(F.col("error").isNotNull(), F.lit("FAILED"))
        .otherwise(F.lit("COMPLETED"))
        .alias("status"),
        "error",
    )


def extract(
    pages: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """pages table → extracted table (the flagship job).

    Input urls must be unique.  The fused plan finishes each input row on
    its own, so two captures of one url give two rows; the paged plan
    reassembles pages by url and would merge them into one.  extract_job and
    stream_extract pick the newest capture per url first
    (``urls._newest_capture_per_url``)."""
    import os

    cfg = cfg or PipelineConfig()
    if cfg.mode not in ("fused", "paged"):
        raise ValueError(
            f"unknown PipelineConfig.mode {cfg.mode!r}; "
            "expected 'fused' or 'paged'"
        )
    try:
        executor_backend = pages.sparkSession.conf.get(
            "spark.executorEnv.OCR_SPARK_BACKEND", None
        )
    except Exception:  # conf lookup must never break plan building
        executor_backend = None
    if cfg.mode != "fused" and "model" in (
        os.environ.get("OCR_SPARK_BACKEND"),
        executor_backend,
    ):
        # fail fast on the driver: the model backend has no per-page byte
        # handoff (fitz documents are not page-sliceable), so paged would
        # otherwise surface as misleading per-doc PARSE_ERROR rows
        raise ValueError(
            "OCR_SPARK_BACKEND=model supports mode='fused' only "
            "(PDF payloads are not page-sliceable for the paged stage "
            "handoff)"
        )
    if cfg.mode == "fused":
        return pages.select("url", "warc_ts", "html", "lang").mapInArrow(
            _bind_postprocess(udfs.extract_doc_rows, cfg),
            EXTRACTED_SCHEMA,
        )
    return assemble_stage(fused_finish_stage(parse_stage(pages), cfg))


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
