#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Cluster (the BASELINE.json deployment shape)::

    zip -r ocr_spark.zip ocr_spark          # or tools/make_pyfiles.py
    spark-submit \
      --master yarn --deploy-mode cluster \
      --py-files ocr_spark.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.0 \
      --conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.cc.type=hadoop \
      --conf spark.sql.catalog.cc.warehouse=s3a://bucket/warehouse \
      jobs/extract_job.py --input cc.pages --iceberg-table \
      --output s3a://bucket/extracted --since 2025-01-01 --until 2025-02-01

Local smoke (same file, same flags)::

    spark-submit --master 'local[8]' --py-files ocr_spark.zip \
      jobs/extract_job.py --input /path/pages_parquet --output /tmp/out

The job is resumable: re-running with the same --output appends only
urls not yet COMPLETED (left-anti checkpoint, io.pending_pages).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# local runs (python jobs/X.py) see the repo root like --py-files would
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _summarize_output(extracted, result: dict) -> None:
    """One aggregation pass over the output table: doc count, the
    decode-guard `truncated_pages` total, and the FAILED count.  Guard
    hits must reach the job's final JSON line — the never-silent policy
    has to survive operators who never read the column docs (r3 VERDICT
    "Next round" #7)."""
    from pyspark.sql import functions as F

    row = extracted.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("truncated_pages"), F.lit(0)).alias("trunc"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)),
            F.lit(0),
        ).alias("failed"),
    ).collect()[0]
    result["docs_in_output"] = row["n"]
    result["truncated_pages_total"] = int(row["trunc"])
    result["failed_docs"] = int(row["failed"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet path or Iceberg table (cc.pages)")
    ap.add_argument("--output", required=True,
                    help="extracted table path (parquet dir or Iceberg)")
    ap.add_argument("--mode", default="fused", choices=["fused", "paged"],
                    help="pipeline shape; 'paged' salts pages across "
                         "partitions for giant-document corpora")
    ap.add_argument("--since", default=None,
                    help="warc_ts lower bound (partition prune)")
    ap.add_argument("--until", default=None,
                    help="warc_ts upper bound (partition prune)")
    ap.add_argument("--iceberg-table", action="store_true",
                    help="treat --input as a catalog table name instead "
                         "of a filesystem path")
    ap.add_argument("--format", default="parquet",
                    dest="input_format",
                    choices=["parquet", "warc", "warc-stream"],
                    help="'warc': --input is a directory of .warc(.gz) "
                         "crawl archives (sources.read_pages_warc); torn-"
                         "record totals surface in the job JSON. "
                         "'warc-stream': same, via the bounded-memory "
                         "streaming reader (archives must be on a "
                         "filesystem executors mount)")
    ap.add_argument("--all-captures", action="store_true",
                    help="WARC input only: keep EVERY capture of a url "
                         "instead of the default newest-capture pick. "
                         "Without the dedup, two captures of one url in "
                         "the same run would merge into a single "
                         "corrupted document at the assembly groupBy")
    ap.add_argument("--page-partitions", type=int, default=None)
    ap.add_argument("--max-attempts", type=int, default=3,
                    help="per-url FAILED retry budget before a url is "
                         "skipped (keeps resume loops convergent on "
                         "deterministic failures)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from ocr_spark.io import read_extracted, run_resumable
    from ocr_spark.pipeline import PipelineConfig

    # conf comes from spark-submit; only the app name is set here
    spark = SparkSession.builder.appName("ocr-spark-extract").getOrCreate()
    cfg = PipelineConfig(mode=args.mode, page_partitions=args.page_partitions)

    t0 = time.time()
    result: dict = {"mode": args.mode}
    if args.input_format in ("warc", "warc-stream"):
        if args.iceberg_table:
            ap.error("--format warc and --iceberg-table are exclusive")
        from ocr_spark.sources import (
            read_pages_warc,
            read_pages_warc_stream,
        )

        reader = (
            read_pages_warc_stream
            if args.input_format == "warc-stream"
            else read_pages_warc
        )
        raw = reader(spark, args.input)
        # Audit pass FIRST: per-file torn-record totals into the job
        # JSON (never-silent policy).  This is a second decompress +
        # record walk, but only zlib-speed — a small fraction of the
        # extraction pass it precedes; at cluster scale it doubles as
        # the listing sanity check before committing executors.
        audit = (
            raw.groupBy("warc_file")
            .agg(F.max("warc_errors").alias("e"))
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.coalesce(F.sum("e"), F.lit(0)).alias("errs"),
            )
            .collect()[0]
        )
        result["warc_files"] = audit["files"]
        result["warc_errors_total"] = int(audit["errs"])
        # the groupBy above only sees files that produced ROWS; a
        # warcinfo/metadata-only archive contributes nothing and
        # would vanish from the audit — count the LISTING too so a
        # silently-empty file is visible as listed > contributing
        result["warc_files_listed"] = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc.gz")
            .load(args.input)
            .select("path")
            .count()
        )
        # sentinel rows (url='' carriers for all-error files) are
        # audit-only; lineage columns are dropped so the checkpoint
        # schema matches the parquet/Iceberg paths
        pages = raw.filter(F.col("url") != "").drop(
            "warc_file", "warc_errors"
        )
    else:
        pages = (
            spark.read.table(args.input)
            if args.iceberg_table
            else spark.read.parquet(args.input)
        )
    # partition pruning on the crawl-time axis (Iceberg days(warc_ts))
    if args.since:
        pages = pages.filter(F.col("warc_ts") >= F.lit(args.since))
    if args.until:
        pages = pages.filter(F.col("warc_ts") < F.lit(args.until))
    if (
        args.input_format in ("warc", "warc-stream")
        and not args.all_captures
    ):
        # raw crawl input routinely carries the same url more than
        # once (revisits; response + conversion records across
        # files); extract() requires url-unique input — without this
        # pick every capture would become its own row (the paged plan's
        # groupBy(url) would MERGE them into one corrupted document)
        # and the url-keyed checkpoint would keep them.  Newest
        # capture wins, content-digest tie-break — the deterministic
        # rule stream_extract and curate --latest-capture use.
        from pyspark.sql import Observation

        from ocr_spark.operators.urls import _newest_capture_per_url

        obs = Observation("warc_captures")
        pages = _newest_capture_per_url(
            pages.observe(obs, F.count(F.lit(1)).alias("captures"))
        )
    else:
        obs = None
    result["docs_attempted_this_pass"] = run_resumable(
        pages, args.output, cfg, max_attempts=args.max_attempts
    )
    if obs is not None and result["docs_attempted_this_pass"]:
        # captures seen vs urls attempted = the revisit volume this
        # pass dropped (rides the real job via Observation — no
        # extra pass)
        result["warc_captures_seen"] = int(obs.get["captures"])
    _summarize_output(
        read_extracted(spark, args.output, latest_only=True), result
    )
    result["seconds"] = round(time.time() - t0, 1)
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
