"""Resume-from-checkpoint: kill after partial write → rerun → same final
table, no double-processing (SURVEY.md §5.3)."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.io import (
    pending_pages,
    read_extracted,
    run_metrics,
    run_resumable,
    write_extracted,
)
from ocr_spark.pipeline import extract, read_pages


class TestResume:
    def test_partial_then_resume(self, spark, pages_parquet, tmp_path):
        out = str(tmp_path / "extracted")
        pages = read_pages(spark, pages_parquet)
        total = pages.count()

        # "crashed" first run: only a third of the corpus got written
        partial = pages.filter(F.crc32("url") % 3 == 0)
        write_extracted(extract(partial), out)
        n_first = read_extracted(spark, out).count()
        assert 0 < n_first < total

        # resume must schedule exactly the complement
        todo = pending_pages(pages, out)
        assert todo.count() == total - n_first

        # full resumable pass completes the table with no duplicates;
        # the return is the count attempted THIS pass (the complement)
        n_done = run_resumable(pages, out)
        assert n_done == total - n_first
        final = read_extracted(spark, out)
        assert final.count() == total
        assert final.select("url").distinct().count() == total

        # second resume is a no-op (nothing pending, returns 0)
        assert pending_pages(pages, out).count() == 0
        assert run_resumable(pages, out) == 0

    def test_resume_skips_failed_urls_only_when_completed(
        self, spark, pages_parquet, tmp_path
    ):
        # FAILED rows do NOT count as processed → retried on resume
        out = str(tmp_path / "extracted")
        pages = read_pages(spark, pages_parquet).limit(5)
        failed = extract(pages).withColumn("status", F.lit("FAILED"))
        write_extracted(failed, out)
        assert pending_pages(pages, out).count() == 5

    def test_partition_layout_and_metrics(self, spark, pages_parquet, tmp_path):
        out = str(tmp_path / "extracted")
        pages = read_pages(spark, pages_parquet)
        run_resumable(pages, out)

        # day-partitioned layout on disk (Iceberg days(warc_ts) analogue)
        import os

        parts = [d for d in os.listdir(out) if d.startswith("warc_day=")]
        assert len(parts) > 1

        # partition pruning: a day-filtered scan reads a subset
        one_day = sorted(parts)[0].split("=")[1]
        pruned = read_extracted(spark, out).filter(F.col("warc_day") == one_day)
        assert 0 < pruned.count() < pages.count()

        m = run_metrics(out, spark).collect()[0]
        assert m.docs == pages.count()
        assert m.completed == m.docs and m.failed == 0
        assert 0 < m.ocr_ratio < 1
        assert m.truncated_pages == 0 and m.failure_codes == []


class TestPartitionLineage:
    def test_per_day_rollup(self, spark, pages_parquet, tmp_path):
        from ocr_spark.io import partition_lineage, run_resumable
        from ocr_spark.pipeline import read_pages

        out = str(tmp_path / "lineage_out")
        run_resumable(read_pages(spark, pages_parquet), out)
        lin = partition_lineage(out, spark).collect()
        assert len(lin) > 1  # fixtures span many warc days
        assert all(r.partition_status == "COMPLETED" for r in lin)
        assert sum(r.docs for r in lin) == 60
        assert all(r.pages >= r.docs for r in lin)

    def test_failed_partition_flagged(self, spark, tmp_path):
        import datetime as dt

        from ocr_spark.io import partition_lineage, run_resumable

        rows = [
            ("u://ok", dt.datetime(2025, 2, 1), bytearray(_good_payload()), "", "en"),
            ("u://bad", dt.datetime(2025, 2, 2), bytearray(b"garbage"), "", "en"),
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        out = str(tmp_path / "lineage_bad")
        run_resumable(spark.createDataFrame(rows, schema), out)
        lin = {str(r.warc_day): r for r in partition_lineage(out, spark).collect()}
        assert lin["2025-02-01"].partition_status == "COMPLETED"
        assert lin["2025-02-02"].partition_status == "IN_PROGRESS"
        assert list(lin["2025-02-02"].failure_codes) == ["PARSE_ERROR"]
        m = run_metrics(out, spark).first()
        assert (m.docs, m.failed) == (2, 1)
        assert list(m.failure_codes) == ["PARSE_ERROR"]


def _good_payload():
    from ocr_spark.fixtures import make_doc

    return make_doc(1)["html"]


class TestRetryCap:
    def test_deterministic_failures_converge_to_zero(self, spark, tmp_path):
        """A corrupt payload fails every pass; after max_attempts FAILED
        rows it leaves the pending set so the drive-to-completion loop's
        0-return termination signal actually arrives."""
        import datetime as dt

        rows = [
            ("u://ok", dt.datetime(2025, 3, 1), bytearray(_good_payload()), "", "en"),
            ("u://bad", dt.datetime(2025, 3, 1), bytearray(b"garbage"), "", "en"),
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        pages = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "retrycap")
        attempts = []
        for _ in range(6):
            n = run_resumable(pages, out, max_attempts=2)
            attempts.append(n)
            if n == 0:
                break
        # pass 1: both urls; pass 2: bad only (retry); pass 3: 0 (capped)
        assert attempts == [2, 1, 0]
        table = read_extracted(spark, out)
        assert table.filter(F.col("status") == "FAILED").count() == 2
        assert table.filter(F.col("status") == "COMPLETED").count() == 1


class TestUtcDayPartitioning:
    def test_partition_day_independent_of_session_timezone(
        self, spark, tmp_path
    ):
        """The warc_day a row lands in is the UTC calendar day of the
        instant — identical no matter which session time zone the writing
        cluster runs with (appends from mixed-zone clusters must not split
        or shift day partitions)."""
        import datetime as dt
        import os

        # 2025-02-01T23:30Z: still Feb 1 in UTC, already Feb 2 in UTC+9,
        # and Feb 1 15:30 in UTC-8 — a zone-sensitive derivation disagrees.
        ts = dt.datetime(2025, 2, 1, 23, 30, tzinfo=dt.timezone.utc)
        rows = [("u://tz", ts, bytearray(_good_payload()), "", "en")]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        prev = spark.conf.get("spark.sql.session.timeZone")
        days = {}
        try:
            for zone in ("UTC", "Asia/Tokyo", "America/Los_Angeles"):
                spark.conf.set("spark.sql.session.timeZone", zone)
                out = str(tmp_path / f"tz_{zone.replace('/', '_')}")
                write_extracted(extract(spark.createDataFrame(rows, schema)), out)
                parts = [
                    d for d in os.listdir(out) if d.startswith("warc_day=")
                ]
                days[zone] = parts
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        assert all(p == ["warc_day=2025-02-01"] for p in days.values()), days


class TestKillMidWriteAtScale:
    """Bench-scale exactly-once evidence (r3 VERDICT "Next round" #6):
    SIGKILL a resumable run mid-write, resume, prove no double-processing
    — committed work is never re-attempted, uncommitted work is redone,
    and the final table has exactly one COMPLETED row per url."""

    @pytest.mark.slow
    def test_kill_mid_write_then_resume_240k(self, spark, tmp_path):
        import os
        import signal
        import subprocess
        import sys
        import time
        from pathlib import Path

        repo = Path(__file__).resolve().parents[1]
        n_docs = int(os.environ.get("SPARK_GRAFT_RESUME_DOCS", "240000"))
        corpus = repo / ".bench_cache" / f"pages_{n_docs}"
        if not (corpus / "_SUCCESS").exists():
            pytest.skip(
                f"bench corpus missing — run: python -c "
                f"'import bench; bench.ensure_pages({n_docs})'"
            )
        out = str(tmp_path / "extracted")
        helper = str(repo / "tests" / "resume_kill_helper.py")

        # phase 1 (half corpus) commits; the full pass is killed mid-write
        p = subprocess.Popen(
            [sys.executable, helper, "crashrun", str(corpus), out],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            cwd=repo,
            start_new_session=True,  # killpg reaches the Spark JVM too
        )
        try:
            deadline = time.time() + 600
            for line in p.stdout:
                if "PHASE1_DONE" in line:
                    break
                assert time.time() < deadline, "phase 1 never finished"
            else:
                pytest.fail("crashrun exited before PHASE1_DONE")
            time.sleep(3.0)  # well inside phase 2's extraction+write
        finally:
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            p.wait()

        pages = read_pages(spark, str(corpus))
        total = pages.count()
        ckpt = read_extracted(spark, out)
        committed = (
            ckpt.filter(F.col("status") == "COMPLETED")
            .select("url")
            .distinct()
            .count()
        )
        # phase 1 committed; the killed write left nothing half-visible
        assert 0 < committed < total

        # resume in a fresh process (like an operator re-submitting the
        # job): must attempt EXACTLY the complement of committed work
        res = subprocess.run(
            [sys.executable, helper, "resume", str(corpus), out],
            capture_output=True,
            text=True,
            cwd=repo,
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        import json

        summary = json.loads(res.stdout.strip().splitlines()[-1])
        assert summary["attempted"] == total - committed

        final = read_extracted(spark, out, latest_only=True)
        assert final.count() == total
        assert final.filter(F.col("status") != "COMPLETED").count() == 0
        # no double-processing: never two COMPLETED attempt rows for a url
        dbl = (
            read_extracted(spark, out)
            .filter(F.col("status") == "COMPLETED")
            .groupBy("url")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dbl == 0
        # resume overhead (no-op pass over the complete checkpoint) —
        # recorded in BENCH.md
        print(f"\nresume_noop_sec={summary['noop_sec']}", file=sys.stderr)
