"""Structured Streaming surface: incremental extraction over an arriving
pages table.

The reference's "streaming" is incremental progress + resumability
(NDJSON page stream, service.py:194-209 / remote.py:129-178 — S8/S9 in
SURVEY.md §2.1), not event-time processing; the faithful Spark shape is a
file-source stream feeding the SAME batch pipeline per micro-batch through
``foreachBatch``, with exactly-once progress owned by the checkpoint
directory plus the idempotent left-anti resume of io.py.  Extraction
itself needs no watermarks — it is per-document pure; the EVENT-TIME
surface is :func:`stream_crawl_metrics`, a watermarked windowed
aggregation over ``warc_ts`` (late-data semantics tested in
tests/test_streaming.py).

On a real deployment the source is the Iceberg table's incremental scan
(`readStream.format("iceberg")`); offline it is a directory of parquet
files appearing over time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from .io import pending_pages, write_extracted
from .operators.urls import _newest_capture_per_url
from .pipeline import PipelineConfig, extract
from .schemas import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream of pages rows (schema fixed: no inference race)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "32")
        .parquet(in_dir)
    )


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_path: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Incrementally extract arriving pages into the checkpointed output.

    Exactly-once is layered: the stream checkpoint replays at-least-once on
    failure, and the micro-batch body re-applies the left-anti resume
    filter (io.pending_pages) so replays never double-append a url — the
    same idempotence contract as batch ``run_resumable``.
    """
    cfg = cfg or PipelineConfig()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # overlapping input files can land the same url twice in ONE batch;
        # extract() requires url-unique input — without this the batch
        # would commit two rows for the url (the paged plan's groupBy
        # would double the doc's pages and commit that as COMPLETED).  The pick is the NEWEST
        # capture (ts, then content-digest tie-break) — dropDuplicates
        # keeps an arbitrary partition-order row, so a checkpoint replay
        # could commit a DIFFERENT capture's text than the first run,
        # breaking idempotence (and the repo-wide latest-capture
        # convention)
        todo = pending_pages(_newest_capture_per_url(batch_df), out_path)
        extracted = extract(todo, cfg)
        write_extracted(extracted, out_path, mode="append")

    writer = (
        read_pages_stream(spark, in_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_crawl_metrics(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Event-time rollup of the ARRIVING crawl: docs + payload bytes per
    ``warc_ts`` window, finalized by watermark — the online monitoring
    view of an ingest pipeline (the checkpointed batch pipeline remains
    the ground truth; this stream is the cheap early signal).

    Real event-time semantics, not processing-time: pages are windowed on
    their CRAWL timestamp, so out-of-order arrival (normal for WARC
    shards) lands in the right window; a window only EMITS (append mode)
    once the watermark — max observed ``warc_ts`` minus the allowed
    lateness — passes its end, and pages arriving later than that are
    dropped from the finalized count rather than mutating emitted rows.
    State is bounded by the watermark: Spark discards window state older
    than it, so the stream runs forever on 10^12 docs without growing.

    Sums are integers (docs, octet lengths), so the emitted rows are
    engine-deterministic for any arrival order of the same files."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.octet_length("html")).alias("payload_bytes"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "docs",
            "payload_bytes",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_host_quota(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_bytes_per_host: int,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Per-host payload-byte quota over the ARRIVING crawl — the
    custom-stateful-operator surface (``applyInPandasWithState``).

    Corpus-curation semantics (the FineWeb/RefinedWeb per-domain cap): a
    host contributes pages until its CUMULATIVE payload bytes exceed the
    quota; everything after is dropped at ingest, so one giant mirror or
    crawler trap cannot dominate the corpus.  This is a running-state
    per-row pass/drop decision — not expressible as a windowed
    aggregation (the state never resets) — hence the arbitrary-stateful
    API: per host, state is ONE long (bytes admitted so far), bounded by
    the number of distinct hosts, not by stream length.

    Emitted rows are the ADMITTED page keys ``(url, host, n_bytes,
    host_bytes_after)`` — join back to the payload for extraction.  Page
    order within a micro-batch is not defined, so which pages of the
    boundary batch are admitted is arbitrary (the quota total is not);
    callers needing exact boundaries should cap on the day-partitioned
    batch table instead."""
    import pandas as pd  # local: keep module import light

    from .operators.urls import host_of

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    # project the payload DOWN to its length before grouping — the quota
    # decision needs bytes counts, so the binary column never rides the
    # per-host shuffle or the Arrow boundary
    keyed = pages.select(
        "url",
        host_of(F.col("url")).alias("host"),
        # NULL payload counts as 0 bytes — octet_length(NULL) is NULL,
        # which Arrow hands to the state function as float NaN and
        # int(NaN) would kill the whole streaming query
        F.coalesce(F.octet_length("html"), F.lit(0)).alias("n_bytes"),
    )

    def admit(key, pdfs, state):
        used = state.get[0] if state.exists else 0
        for pdf in pdfs:
            keep_rows = []
            for url, host, n_bytes in zip(
                pdf["url"], pdf["host"], pdf["n_bytes"]
            ):
                if used < max_bytes_per_host:
                    used += int(n_bytes)
                    keep_rows.append((url, host, int(n_bytes), used))
            if keep_rows:
                yield pd.DataFrame(
                    keep_rows,
                    columns=["url", "host", "n_bytes", "host_bytes_after"],
                )
        state.update((used,))

    from pyspark.sql.streaming.state import GroupStateTimeout

    admitted = keyed.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=(
            "url string, host string, n_bytes long, host_bytes_after long"
        ),
        stateStructType="used long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        admitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Ingest-time exact dedup over the ARRIVING crawl: the first page
    carrying a given payload digest is admitted, later copies within the
    watermark horizon are dropped — the streaming twin of
    ``dedup.exact_dedup`` (mirror bursts and recrawl storms are
    short-horizon phenomena; copies arriving further apart than the
    watermark are the BATCH operator's job, which remains the
    corpus-global ground truth).

    Built on ``dropDuplicatesWithinWatermark`` — the engine keeps one
    16-byte digest per admitted page, and the watermark bounds that
    state, so the stream runs forever without growing.  The payload is
    projected DOWN to its digest before the dedup shuffle (same
    principle as :func:`stream_host_quota`): the binary column never
    rides a shuffle.  Emitted rows are admitted page keys
    ``(url, digest, warc_ts)`` — join back to the payload for
    extraction."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    keyed = (
        pages.select(
            "url",
            # NULL payload coalesces to the empty digest (md5(NULL) is
            # NULL — a NULL digest never equals anything, so NULL-payload
            # pages would bypass the dedup AND emit a NULL join-back key;
            # same module contract as bloom.digest_expr)
            F.md5(F.coalesce("html", F.lit(b""))).alias("digest"),
            "warc_ts",
        )
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )
    writer = (
        keyed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_filter(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    old_digests: DataFrame,
    m_bits: int = 1 << 22,
    k: int = 4,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Ingest-time cross-snapshot dedup: pages of the ARRIVING crawl whose
    payload digest already exists in a previously-kept corpus are dropped
    before they ever reach extraction — the streaming twin of
    ``bloom.incremental_dedup`` (same equivalence: bloom pre-filter has no
    false negatives, candidates are exact-verified, so the admitted set
    is exactly the anti-join's).

    ``old_digests`` is a STATIC DataFrame with a ``digest`` column of md5
    hex strings of the same key the stream digests (the payload bytes
    here — the :func:`ocr_spark.io.write_digest_store` artifact built
    over the prior snapshots' pages).  Both stages are stream-STATIC
    joins, which Structured Streaming runs stateless: the k bloom probes
    are broadcast hash joins and the verify is a stream-static left-anti
    join — no watermark, no state store, the stream runs forever at
    constant memory.  The payload is projected DOWN to its digest before
    any join (the module-wide rule: binary never rides a shuffle).

    Emitted rows are admitted page keys ``(url, digest, warc_ts)`` —
    join back to the payload for extraction, exactly like
    :func:`stream_exact_dedup` (chain the two for intra-snapshot +
    cross-snapshot dedup at ingest)."""
    from .operators.bloom import bloom_bitmap, bloom_flag

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    # same NULL-payload coalesce as stream_exact_dedup: a NULL digest
    # computes real bloom positions via xxhash64 but can never match the
    # verify anti-join, silently re-admitting content the prior snapshot
    # kept as empty
    keyed = pages.select(
        "url",
        F.md5(F.coalesce("html", F.lit(b""))).alias("digest"),
        "warc_ts",
    )
    bitmap = bloom_bitmap(
        old_digests, m_bits=m_bits, k=k, digest_col="digest"
    ).persist()
    flagged = bloom_flag(
        keyed, bitmap, m_bits=m_bits, k=k, digest_col="digest",
        flag_col="_maybe",
    )
    passed = flagged.filter(~F.col("_maybe")).drop("_maybe")
    survivors = (
        flagged.filter(F.col("_maybe"))
        .join(
            # no dropDuplicates here: a left-anti join's output is
            # identical with or without right-side duplicates, and the
            # STATIC side of a stream-static join re-executes per
            # micro-batch — deduplicating it would shuffle the entire
            # digest store on every tiny trigger
            old_digests.select("digest"),
            on="digest",
            how="left_anti",
        )
        .drop("_maybe")
    )
    admitted = passed.unionByName(survivors)
    writer = (
        admitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dsir_filter(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ratios: list,
    min_logw: float,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    hash_mode: str = "xxhash64",
) -> StreamingQuery:
    """DSIR quality gate at ingest: keep arriving pages whose crawl
    ``text`` scores at least ``min_logw`` under a fitted importance
    model — the streaming twin of ``dsir.dsir_weights`` + a threshold.

    ``ratios`` is ``dsir.dsir_log_ratios``' dense vector (fit OFFLINE on
    the target/raw corpora with the same ``hash_mode``); because the
    vector is bucket-bounded it rides the plan as a literal and scoring
    is ONE stateless codegen projection — no stream-static join, no
    state store, no watermark, constant memory forever.  This is the
    payoff of the inline path: the batch gate and the ingest gate are
    the same expression, so a page admitted here scores identically in
    any later batch re-check (bit-identical, not approximately).

    Emitted rows are admitted page keys ``(url, warc_ts, n_feats,
    logw)`` — join back to the payload for extraction, like the other
    ingest gates.  The threshold is a visible parameter; pair it with a
    logged quantile from the batch fit, never a silent default."""
    from .operators.dsir import with_dsir_weight

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    scored = with_dsir_weight(
        pages.select("url", "warc_ts", "text"),
        ratios,
        text_col="text",
        hash_mode=hash_mode,
    )
    admitted = scored.filter(F.col("logw") >= F.lit(float(min_logw))).drop(
        "text"
    )
    writer = (
        admitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
