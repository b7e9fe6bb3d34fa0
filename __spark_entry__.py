"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over :mod:`ocr_spark.contract`, which holds one
(Spark plan, DuckDB oracle SQL) pair per implemented operator from
SURVEY.md §2 plus the training-data operators (dedup / similarity /
text-analysis).  Non-SQL-expressible extraction entries
(payload parse inside mapInPandas) are exposed without an oracle →
rows-only checks; their byte-identity gate is the pytest golden suite
(tests/test_pipeline_e2e.py) against the pure-Python oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ocr_spark import contract  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship extraction: deterministic synthetic pages table (the
    BASELINE.json input_hint shape: url, warc_ts, html:binary, text, lang)
    → extracted documents with nested page/block/line structs."""
    return contract.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return contract.queries()


def oracle_sql() -> dict[str, str]:
    return contract.oracle_sql()
