"""Storage layout, checkpointed (resumable) runs, and lineage metrics.

Offline this uses plain parquet laid out with the same partitioning the
Iceberg DDL below declares, so every prune/resume semantic is testable
without the Iceberg runtime jars; on a real cluster pass
``ocr_spark.session.iceberg_conf`` to spark-submit and swap paths for
``cc.extracted`` table names (SURVEY.md §7.0 consequence 2).

Iceberg DDL for the real deployment::

    CREATE TABLE cc.pages (
      url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
    USING iceberg
    PARTITIONED BY (days(warc_ts), bucket(512, url));

    CREATE TABLE cc.extracted (...)
    USING iceberg
    PARTITIONED BY (days(warc_ts), bucket(512, url));

Resume = left-anti join of pages against already-COMPLETED urls (the Spark
re-expression of the reference's load-from-JSON skip path,
document.py:664-684 / S6 in SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import PipelineConfig, extract

# Status vocabulary preserved from the reference job store (service.py:205,248).
STATUSES = ("PENDING", "IN_PROGRESS", "COMPLETED", "FAILED", "CANCELLED")


def write_extracted(
    extracted: DataFrame,
    path: str,
    mode: str = "append",
    writer_buckets: int = 512,
) -> None:
    """Write the extracted table partitioned by crawl day — the offline
    analogue of Iceberg ``days(warc_ts)`` partition pruning.

    Writers are SPREAD within a day: the shuffle key is
    ``(warc_day, pmod(xxhash64(url), writer_buckets))``, matching the
    Iceberg spec ``PARTITIONED BY (days(warc_ts), bucket(512, url))``
    declared above.  Hashing on the day alone would funnel every row of a
    given crawl day into ONE writer task — and a production batch is
    typically one day, so the entire output (and its parquet encode) would
    serialize through a single core while the rest of the cluster idles.
    With the url bucket in the key, a single-day corpus fans out across
    min(writer_buckets, spark.sql.shuffle.partitions) writer tasks;
    ``partitionBy`` still gives the day-directory layout either way."""
    (
        # UTC calendar day regardless of spark.sql.session.timeZone — the
        # partition a row lands in must not depend on which cluster's
        # session appended it.  Derived from the epoch instant itself
        # (unix_timestamp is tz-independent), not from a rendered wall
        # clock: to_date(ts) renders in the session zone and would shift
        # day boundaries between clusters.
        extracted.withColumn(
            "warc_day",
            F.date_from_unix_date(
                F.floor(F.unix_timestamp("warc_ts") / F.lit(86400)).cast(
                    "int"
                )
            ),
        )
        .repartition(
            F.col("warc_day"),
            F.pmod(F.xxhash64("url"), F.lit(writer_buckets)),
        )
        .write.mode(mode)
        .partitionBy("warc_day")
        .parquet(path)
    )


def read_extracted(
    spark: SparkSession, path: str, latest_only: bool = False
) -> DataFrame:
    """Read the checkpoint table.

    ``latest_only=True`` collapses retry attempts to one row per url
    (COMPLETED beats FAILED; ties broken deterministically on the error
    string) — use it for analytics over a table that has seen reruns of
    failing urls (run_resumable retries non-COMPLETED work by design)."""
    df = spark.read.parquet(path)
    if latest_only:
        from pyspark.sql import Window

        # the orderBy must be TOTAL: two attempts sharing status + error
        # (e.g. both FAILED with the same code at different page counts)
        # would otherwise tie and row_number would pick by partition
        # arrival order — lineage sums differing between identical reads.
        # Final tie-break: a hash of the whole row (rows still tying are
        # byte-identical, where the pick is irrelevant).
        w = Window.partitionBy("url").orderBy(
            F.when(F.col("status") == "COMPLETED", 0).otherwise(1),
            F.coalesce("error", F.lit("")),
            F.xxhash64(F.to_json(F.struct("*"))),
        )
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return df


def _checkpoint_df(spark: SparkSession, path: str) -> DataFrame | None:
    """The checkpoint table, or None when no checkpoint exists yet.

    Only a missing path means "fresh run" — any other read failure (auth,
    throttling on an object store) re-raises, because treating it as fresh
    would silently re-extract and double-append the whole corpus."""
    if "://" not in path:
        # the local-disk shortcut is only valid when scheme-less paths
        # ARE local: on a cluster with fs.defaultFS=hdfs://... a
        # scheme-less checkpoint path is remote, and os.path.exists on
        # the driver's disk would misread a POPULATED checkpoint as
        # "fresh run" — the silent double-append this function exists to
        # prevent.  Remote default FS falls through to the real read
        # (PATH_NOT_FOUND handled below).
        default_fs = (
            spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
            .get("fs.defaultFS", "file:///")
        )
        if default_fs.startswith("file:"):
            import os

            if not os.path.exists(path):  # avoid a noisy JVM-side probe
                return None
    from pyspark.errors import AnalysisException

    try:
        return read_extracted(spark, path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None  # no checkpoint yet (or an empty directory)
        raise


def _exhausted_from(df: DataFrame, max_attempts: int) -> DataFrame:
    """urls whose FAILED attempt count has reached the retry budget —
    deterministic failures (e.g. PARSE_ERROR on a corrupt payload) must not
    be retried forever or the resume loop never converges to 0."""
    return (
        df.filter(F.col("status") == "FAILED")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= max_attempts)
        .select("url")
    )


def pending_pages(
    pages: DataFrame, out_path: str, max_attempts: int = 3
) -> DataFrame:
    """Resume filter: pages neither COMPLETED nor retry-exhausted
    (left-anti on url).  ONE checkpoint read serves both the COMPLETED
    set and the retry-budget set — object-store listings are expensive at
    millions of checkpoint files.

    Catalyst plans this as a shuffled or broadcast anti-join depending on the
    checkpoint's size stats; urls are high-cardinality so no skew concern.
    """
    ckpt = _checkpoint_df(pages.sparkSession, out_path)
    if ckpt is None:
        return pages
    skip = ckpt.filter(F.col("status") == "COMPLETED").select("url")
    if max_attempts is not None:
        skip = skip.unionByName(_exhausted_from(ckpt, max_attempts))
    return pages.join(skip, on="url", how="left_anti")


def partition_lineage(extracted_path: str, spark: SparkSession) -> DataFrame:
    """Per-partition (crawl-day) lineage: completion state and extraction
    metrics for every ``warc_day`` partition of the checkpoint table — the
    unit an operator re-drives after a partial cluster failure.

    At real scale this is the Iceberg partition-level view (`.partitions`
    metadata table joined to these aggregates); offline the day-partitioned
    parquet layout gives the same axis."""
    df = read_extracted(spark, extracted_path, latest_only=True)
    return (
        df.groupBy("warc_day")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_pages").alias("pages"),
            F.sum("ocr_pages").alias("ocr_pages"),
            F.sum(
                F.when(F.col("status") == "COMPLETED", 1).otherwise(0)
            ).alias("completed"),
            F.sum(
                F.when(F.col("status") == "FAILED", 1).otherwise(0)
            ).alias("failed"),
            # distinct codes, sorted — the table has no attempt timestamp,
            # so "last" would be a lie; the set is what an operator needs
            F.array_sort(
                F.collect_set(F.split("error", ":")[0])
            ).alias("failure_codes"),
        )
        .withColumn(
            "partition_status",
            F.when(F.col("failed") == 0, F.lit("COMPLETED")).otherwise(
                F.lit("IN_PROGRESS")
            ),
        )
    )


def run_metrics(extracted_path: str, spark: SparkSession) -> DataFrame:
    """Operational rollup over the checkpoint table (A4 — status counts,
    service.py:262-276 — plus ocr-vs-native ratio and failure codes).
    Retry attempts are collapsed so counts are per-url."""
    df = read_extracted(spark, extracted_path, latest_only=True)
    return df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").alias("pages"),
        F.sum("ocr_pages").alias("ocr_pages"),
        (F.sum("ocr_pages") / F.sum("n_pages")).alias("ocr_ratio"),
        F.sum(F.when(F.col("status") == "COMPLETED", 1).otherwise(0)).alias(
            "completed"
        ),
        F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("failed"),
        F.count_distinct(
            F.when(F.col("error").isNotNull(), F.split("error", ":")[0])
        ).alias("failure_codes"),
    )


def run_resumable(
    pages: DataFrame,
    out_path: str,
    cfg: PipelineConfig | None = None,
    observe: dict | None = None,
    max_attempts: int = 3,
) -> int:
    """One checkpointed pass: extract every not-yet-COMPLETED url, append.

    Returns the number of rows attempted in THIS pass (0 ⇒ nothing left to
    do — the loop-termination signal).  COMPLETED urls are never re-done;
    FAILED urls are retried on later passes (transient-failure semantics)
    until they accumulate ``max_attempts`` FAILED rows, after which they are
    skipped — so deterministic failures (corrupt payloads) cannot keep the
    drive-to-completion loop alive forever and the checkpoint table stays
    bounded.  Each retry appends a new attempt row — read the table with
    ``read_extracted(..., latest_only=True)`` to collapse attempts.
    Committed parquet files (like Iceberg snapshots) are never rewritten.

    Pass ``observe={}`` to collect in-flight run metrics (A5 — the Spark
    ``Observation`` analogue of the reference's per-page progress stream,
    service.py:125-132) without a second pass over the output: the dict is
    filled with docs/pages/ocr_pages/failed after the write completes.
    """
    from pyspark.sql import Observation

    todo = pending_pages(pages, out_path, max_attempts=max_attempts)
    # Emptiness probe on a url-only projection BEFORE planning the
    # extraction: Catalyst prunes columns through the anti-join, so the
    # probe's parquet scans read ONLY the url column — the payload bytes
    # are never touched.  Without it, a no-op pass (drive-to-completion
    # loops end with one; operators re-run jobs defensively) pays a full
    # payload scan just to discover there is nothing to do: measured
    # 99 s → ~2 s on the 240k-doc bench corpus.  When work remains the
    # probe costs one url-column anti-join, noise at extraction prices.
    if not todo.select("url").take(1):
        if observe is not None:
            observe.update(
                {"docs": 0, "pages": 0, "ocr_pages": 0, "failed": 0}
            )
        return 0
    extracted = extract(todo, cfg)
    metrics = [F.count(F.lit(1)).alias("docs")]
    if observe is not None:
        metrics += [
            F.sum("n_pages").alias("pages"),
            F.sum("ocr_pages").alias("ocr_pages"),
            F.sum(
                F.when(F.col("status") == "FAILED", 1).otherwise(0)
            ).alias("failed"),
        ]
    obs = Observation("extract_run")
    extracted = extracted.observe(obs, *metrics)
    write_extracted(extracted, out_path, mode="append")
    attempted = int(obs.get["docs"])
    if observe is not None:
        observe.update(obs.get)
    return attempted


# ---------------------------------------------------------------------------
# digest store — the persisted membership artifact for cross-snapshot
# (incremental) dedup.  operators/bloom.py holds the query side.


def write_digest_store(
    df: DataFrame,
    table: str,
    n_buckets: int = 256,
    text_col: str = "text",
    path: str | None = None,
) -> None:
    """Persist the kept corpus's content digests as a parquet table
    BUCKETED on the digest.

    This is the artifact that makes monthly incremental dedup cheap at
    10^12-doc scale: the verify anti-join of bloom candidates against
    the store reads the store's buckets in place (no Exchange on the
    store side — plan-pinned in tests/test_bloom.py); only the
    candidate sliver of the new snapshot shuffles, into ``n_buckets``
    partitions.  The digest is :func:`ocr_spark.operators.bloom.digest_expr`
    (md5 of coalesce(text,'')) — exactly what ``incremental_dedup``
    recomputes on the new side, so store-backed and raw-text old sides
    are interchangeable.

    Bucketed output requires the session catalog (``saveAsTable``); on a
    cluster the table lives in the metastore/Iceberg catalog, locally in
    ``spark-warehouse/`` (or ``path``).  Appends accumulate snapshots —
    digests are idempotent membership facts, duplicates across appends
    are harmless to an anti-join/semi-join probe.
    """
    from .operators.bloom import digest_expr

    # the ONE digest definition (bloom.digest_expr) — an inline copy
    # could drift from what incremental_dedup probes, and a drifted
    # store returns 'not seen' for everything with no error anywhere
    digests = df.select(F.expr(digest_expr(text_col)).alias("digest"))
    w = (
        digests.write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, "digest")
        .sortBy("digest")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_digest_store(spark: SparkSession, table: str) -> DataFrame:
    """The digest store as a DataFrame with its bucketing metadata intact
    (``spark.table``, NOT ``spark.read.parquet`` — a raw path read
    discards the bucket spec and the exchange-free join with it)."""
    return spark.table(table)
