"""Bloom-filter incremental (cross-snapshot) dedup + latest-capture
revisit dedup.

The bloom module's contract: for EVERY (m, k), ``incremental_dedup``
equals the plain digest anti-join (bloom filters have no false
negatives; false positives are removed by the exact verify).  The tests
pin that equivalence, the no-false-negative property, cross-engine
bitmap parity, and the probe-side plan shape (broadcast joins only —
the new snapshot never shuffles).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
DOCS = f"{SF}/documents.parquet"


@pytest.fixture(scope="module")
def snapshots(spark):
    """(old, new) split of the documents table on a norm key that has
    planted cross-split duplicates (substr(text,1,16) collides)."""
    docs = spark.read.parquet(DOCS).select(
        "doc_id", F.expr("substr(text, 1, 16)").alias("norm")
    )
    old = docs.filter("doc_id % 3 = 0").cache()
    new = docs.filter("doc_id % 3 != 0").cache()
    old.count(), new.count()
    return old, new


def _expected_kept(old, new):
    dig = F.expr("md5(coalesce(norm, ''))")
    return sorted(
        r.doc_id
        for r in new.join(
            old.select(dig.alias("_d")), on=dig == F.col("_d"), how="left_anti"
        ).collect()
    )


class TestBloomIncremental:
    def test_equals_anti_join_both_hash_modes(self, snapshots):
        from ocr_spark.operators.bloom import incremental_dedup

        old, new = snapshots
        expect = _expected_kept(old, new)
        assert len(expect) < new.count()  # cross-split dups exist
        for mode in ("portable", "xxhash64"):
            got = sorted(
                r.doc_id
                for r in incremental_dedup(
                    new, old, "norm", 1 << 18, 4, mode
                ).collect()
            )
            assert got == expect, mode

    def test_tiny_m_floods_candidates_but_result_exact(self, snapshots):
        """m = 64 bits saturates the filter — nearly every row becomes a
        candidate — yet the verify stage keeps the output exact."""
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag
        from ocr_spark.operators.bloom import incremental_dedup

        old, new = snapshots
        m = 1 << 6
        flagged = bloom_flag(
            new, bloom_bitmap(old, "norm", m, 4), "norm", m, 4
        )
        n_cand = flagged.filter("maybe_seen").count()
        assert n_cand > new.count() * 0.9  # the filter really is saturated
        got = sorted(
            r.doc_id
            for r in incremental_dedup(new, old, "norm", m, 4).collect()
        )
        assert got == _expected_kept(old, new)

    def test_no_false_negatives(self, snapshots):
        """Every member of the old corpus is flagged by its own bitmap —
        the property that makes the oracle the plain anti-join."""
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag

        old, _ = snapshots
        flagged = bloom_flag(
            old, bloom_bitmap(old, "norm", 1 << 18, 4), "norm", 1 << 18, 4
        )
        assert flagged.filter("NOT maybe_seen").count() == 0

    def test_empty_old_corpus_flags_nothing(self, spark, snapshots):
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag

        old, new = snapshots
        empty = old.filter("1 = 0")
        flagged = bloom_flag(
            new, bloom_bitmap(empty, "norm", 1 << 18, 4), "norm", 1 << 18, 4
        )
        assert flagged.filter("maybe_seen").count() == 0
        assert flagged.count() == new.count()

    def test_null_text_treated_as_empty_consistently(self, spark):
        from ocr_spark.operators.bloom import incremental_dedup

        old = spark.createDataFrame(
            [(1, None)], "doc_id bigint, norm string"
        )
        new = spark.createDataFrame(
            [(2, None), (3, ""), (4, "x")], "doc_id bigint, norm string"
        )
        kept = sorted(
            r.doc_id for r in incremental_dedup(new, old, "norm").collect()
        )
        # NULL ≡ '' for membership: both 2 (NULL) and 3 ('') match old's
        # NULL row; 4 survives.  No row is silently dropped.
        assert kept == [4]

    def test_bitmap_parity_with_duckdb(self, snapshots):
        """Bit-for-bit (word, mask) parity of the portable-hash bitmap —
        the arithmetic the driver-contract entry hashes."""
        from ocr_spark.operators.bloom import bloom_bitmap, oracle_bitmap_sql

        old, _ = snapshots
        m, k = 1 << 16, 4
        got = sorted(
            (r.word, r.mask)
            for r in bloom_bitmap(old, "norm", m, k, "portable").collect()
        )
        sql = oracle_bitmap_sql(
            "SELECT substr(text, 1, 16) AS norm FROM "
            f"read_parquet('{DOCS}') WHERE doc_id % 3 = 0",
            "norm",
            m,
            k,
        )
        assert got == sorted(duckdb.sql(sql).fetchall())

    def test_flag_probe_side_never_shuffles(self, snapshots):
        """The new snapshot reaches the flag through broadcast joins only:
        k BroadcastHashJoins, no SortMergeJoin, and no exchange keyed on
        the probe's word columns.  (The bitmap BUILD side legitimately
        aggregates; `incremental_dedup` persists it so the old corpus is
        scanned once, not k times.)"""
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag

        old, new = snapshots
        k = 4
        f = bloom_flag(
            new, bloom_bitmap(old, "norm", 1 << 18, k), "norm", 1 << 18, k
        )
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == k
        assert "SortMergeJoin" not in plan
        assert "Exchange hashpartitioning(_blh" not in plan
        assert "Exchange rangepartitioning" not in plan

    def test_single_join_mode_equals_anti_join_both_modes(self, snapshots):
        """probe_mode='single-join' keeps the exactness contract for
        every (m, k, hash_mode) — the probe shape changes, the result
        must not."""
        from ocr_spark.operators.bloom import incremental_dedup

        old, new = snapshots
        expect = _expected_kept(old, new)
        for mode in ("portable", "xxhash64"):
            got = sorted(
                r.doc_id
                for r in incremental_dedup(
                    new, old, "norm", 1 << 18, 4, mode,
                    probe_mode="single-join",
                ).collect()
            )
            assert got == expect, mode

    def test_single_join_bitmap_instanced_once(self, snapshots, spark, tmp_path):
        """The single-join probe's reason to exist: the bitmap relation
        appears EXACTLY once in the plan (bloom_flag's k broadcast joins
        instance it k times — measured r4, no ReusedExchange), and a
        parquet-backed bitmap is never broadcast at all."""
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_probe_digests

        old, new = snapshots
        path = str(tmp_path / "bitmap.parquet")
        bloom_bitmap(old, "norm", 1 << 18, 4).write.parquet(path)
        stored = spark.read.parquet(path)
        probe = bloom_probe_digests(
            new, stored, "norm", 1 << 18, 4, broadcast_bitmap=False
        )
        scan_sig = "ReadSchema: struct<word:bigint,mask:bigint>"
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert plan.count(scan_sig) == 1, plan
        # with broadcast_bitmap=False the broadcast is the PLANNER's
        # choice (the toy bitmap sits under the auto threshold — correct
        # at this scale); above the threshold the same plan must become
        # a pure shuffle join with the masks read in place
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe2 = bloom_probe_digests(
                new, stored, "norm", 1 << 18, 4, broadcast_bitmap=False
            )
            plan2 = probe2._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        assert plan2.count(scan_sig) == 1, plan2
        assert "BroadcastExchange" not in plan2, plan2

    def test_portable_mode_enforces_position_domain(self, snapshots):
        """LCG positions are mod 2^31-1 before mod m_bits — m_bits above
        that would silently leave upper bits unused (r4 ADVICE), so it
        must raise."""
        from ocr_spark.operators.bloom import bloom_bitmap

        old, _ = snapshots
        with pytest.raises(ValueError, match="portable"):
            bloom_bitmap(old, "norm", 1 << 32, 4, "portable")

    def test_xxhash_mode_covers_large_m(self, snapshots):
        """xxhash64 positions are independent full-width hashes: at
        m = 2^34 the occupied words must reach far beyond the old 2^31
        position ceiling (7/8 of uniform positions land above it), and
        the end-to-end result stays exact."""
        from ocr_spark.operators.bloom import bloom_bitmap, incremental_dedup

        old, new = snapshots
        m = 1 << 34
        top = bloom_bitmap(old, "norm", m, 4, "xxhash64").agg(
            F.max("word").alias("w")
        ).collect()[0]["w"]
        assert top > (1 << 31) // 63
        got = sorted(
            r.doc_id
            for r in incremental_dedup(new, old, "norm", m, 4).collect()
        )
        assert got == _expected_kept(old, new)


class TestLatestCapture:
    def test_newest_capture_wins_with_deterministic_ties(self, spark):
        from ocr_spark.operators.urls import latest_capture

        df = spark.createDataFrame(
            [
                (1, "https://A.example.com/x?utm_source=z", 100),
                (2, "https://a.example.com/x", 300),
                (3, "https://a.example.com/x#frag", 200),
                (5, "https://b.example.com/y", 50),
                (4, "https://b.example.com/y", 50),  # ts tie → max id wins
            ],
            "doc_id bigint, url string, ts bigint",
        )
        out = {
            r.canonical_url: (r.n_captures, r.doc_id, r.ts)
            for r in latest_capture(df, "url", "ts", "doc_id").collect()
        }
        assert out["https://a.example.com/x"] == (3, 2, 300)
        assert out["https://b.example.com/y"] == (2, 5, 50)

    def test_timestamp_column_and_all_columns_carried(self, spark):
        from ocr_spark.operators.urls import latest_capture

        df = spark.createDataFrame(
            [
                (1, "https://h.example.com/p", "2024-01-01 00:00:00", "a"),
                (2, "https://h.example.com/p", "2024-06-01 00:00:00", "b"),
            ],
            "doc_id bigint, url string, ts string, payload string",
        ).withColumn("ts", F.to_timestamp("ts"))
        rows = latest_capture(df, "url", "ts", "doc_id").collect()
        assert len(rows) == 1
        assert rows[0].payload == "b" and rows[0].doc_id == 2

    def test_single_shuffle_no_window(self, spark):
        from ocr_spark.operators.urls import latest_capture

        df = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("https://h.example.com/"), (F.col("id") % 10)
            ).alias("url"),
            (F.col("id") * 7 % 13).alias("ts"),
        )
        plan = (
            latest_capture(df, "url", "ts", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan
        assert plan.count("Exchange") == 1
        assert "partial_max_by" in plan or "partial" in plan.lower()


class TestDigestStore:
    """The persisted membership artifact (io.write_digest_store): a
    parquet table bucketed on the content digest, interchangeable with
    the raw kept corpus as incremental_dedup's old side — and joinable
    with NO exchange on the store side."""

    def test_store_backed_incremental_equals_raw(self, spark, snapshots, tmp_path):
        from ocr_spark.io import read_digest_store, write_digest_store
        from ocr_spark.operators.bloom import incremental_dedup

        old, new = snapshots
        table = "digest_store_eq"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        write_digest_store(
            old, table, n_buckets=8, text_col="norm",
            path=str(tmp_path / table),
        )
        store = read_digest_store(spark, table)
        got = sorted(
            r.doc_id
            for r in incremental_dedup(
                new, store, "norm", 1 << 18, 4, old_digest_col="digest"
            ).collect()
        )
        assert got == _expected_kept(old, new)
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_store_side_join_is_exchange_free(self, spark, snapshots, tmp_path):
        """The verify-stage shape: probing the bucketed store leaves the
        store side with NO exchange (the scan itself is bucketed); only
        the probe side shuffles, into the store's bucket count."""
        from ocr_spark.io import read_digest_store, write_digest_store
        from ocr_spark.operators.bloom import digest_expr

        old, new = snapshots
        table = "digest_store_plan"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        write_digest_store(
            old, table, n_buckets=8, text_col="norm",
            path=str(tmp_path / table),
        )
        store = read_digest_store(spark, table)
        probe = new.withColumn("digest", F.expr(digest_expr("norm")))
        # at test scale the tiny store would be broadcast (also
        # exchange-free, but trivially); disable broadcast to pin the
        # 10^12-scale shape — a sort-merge anti-join against the bucketed
        # scan, store side exchange-free
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = probe.join(store, "digest", "left_anti")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        assert "Bucketed: true" in plan
        # exactly one exchange: the probe side aligning to the buckets
        assert plan.count("Exchange hashpartitioning") == 1
        spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestIncrementalNearDedup:
    """Cross-snapshot NEAR-dup (dedup.incremental_near_dedup): the
    MinHash-LSH layer of monthly-recrawl dedup on top of the exact bloom
    path."""

    def test_exact_and_near_copies_dropped_fresh_kept(self, spark):
        from ocr_spark.operators.dedup import incremental_near_dedup

        base = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the crawler watches the page for changes every month"
        )
        near = base.replace("lazy", "sleepy")  # one token differs
        fresh = (
            "completely unrelated content about oceanography and tides "
            "with no shared shingles at all in this entirely new text"
        )
        old = spark.createDataFrame(
            [(1, base)], "doc_id bigint, text string"
        )
        new = spark.createDataFrame(
            [(10, base), (11, near), (12, fresh)],
            "doc_id bigint, text string",
        )
        kept = sorted(
            r.doc_id for r in incremental_near_dedup(new, old).collect()
        )
        assert 10 not in kept  # exact copy: identical sigs, always dropped
        assert 11 not in kept  # near copy: shares band keys
        assert kept == [12]

    def test_empty_old_keeps_everything(self, spark, snapshots):
        from ocr_spark.operators.dedup import incremental_near_dedup

        old, new = snapshots
        docs = new.withColumnRenamed("norm", "text")
        kept = incremental_near_dedup(docs, old.filter("1=0").withColumnRenamed("norm", "text"))
        assert kept.count() == docs.count()

    def test_no_cartesian_product(self, spark, snapshots):
        from ocr_spark.operators.dedup import incremental_near_dedup

        old, new = snapshots
        plan = (
            incremental_near_dedup(
                new.withColumnRenamed("norm", "text"),
                old.withColumnRenamed("norm", "text"),
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_hot_bucket_cap_is_optional_and_symmetric(self, spark):
        """With a cap, a degenerate old-side band key is excluded from
        BOTH sides — capped output is a superset of uncapped survivors."""
        from ocr_spark.operators.dedup import (
            incremental_near_dedup,
            lsh_hot_buckets,
            minhash_signatures,
        )

        # 30 identical old docs = one degenerate bucket per band
        old = spark.createDataFrame(
            [(i, "same text everywhere " * 5) for i in range(30)],
            "doc_id bigint, text string",
        )
        new = spark.createDataFrame(
            [(100, "same text everywhere " * 5), (101, "different words")],
            "doc_id bigint, text string",
        )
        uncapped = sorted(
            r.doc_id for r in incremental_near_dedup(new, old).collect()
        )
        capped = sorted(
            r.doc_id
            for r in incremental_near_dedup(new, old, max_bucket=10).collect()
        )
        assert uncapped == [101]
        assert set(capped) >= set(uncapped)
        # the audit view names what the cap excluded — never silent
        sigs = minhash_signatures(old)
        assert lsh_hot_buckets(sigs, max_bucket=10).count() > 0
        # the cap counts the OLD side only: three new copies of one old
        # doc make its band keys hot on the new side alone, so all three
        # still match under a cap of 2 (and the old-side audit is empty)
        one_old = spark.createDataFrame(
            [(300, "one old capture quoted thrice")],
            "doc_id bigint, text string",
        )
        copies = spark.createDataFrame(
            [(200 + i, "one old capture quoted thrice") for i in range(3)],
            "doc_id bigint, text string",
        )
        kept = incremental_near_dedup(copies, one_old, max_bucket=2)
        assert kept.count() == 0
        assert lsh_hot_buckets(
            minhash_signatures(one_old), max_bucket=2
        ).count() == 0


class TestBitmapFingerprint:
    """A persisted bitmap probed with different (m_bits, k, hash_mode)
    produces bloom FALSE NEGATIVES — kept duplicates — with no error
    anywhere, so every bitmap carries a reserved word=-1 fingerprint row
    and the probe side refuses a mismatch (r5 review finding)."""

    def test_bitmap_carries_join_inert_fingerprint_row(self, snapshots):
        from ocr_spark.operators.bloom import (
            FINGERPRINT_WORD,
            bitmap_fingerprint,
            bloom_bitmap,
        )

        old, _ = snapshots
        bm = bloom_bitmap(old, "norm", 1 << 18, 4)
        rows = bm.filter(F.col("word") == FINGERPRINT_WORD).collect()
        assert len(rows) == 1
        assert rows[0]["mask"] == bitmap_fingerprint(1 << 18, 4, "xxhash64")
        # data words are all non-negative, so the sentinel can never
        # collide with a probe join key
        assert bm.filter("word < 0").count() == 1

    def test_mismatched_probe_params_raise(self, snapshots):
        from ocr_spark.operators.bloom import bloom_bitmap, incremental_dedup

        old, new = snapshots
        bm = bloom_bitmap(old, "norm", 1 << 18, 4).persist()
        try:
            for bad in (
                dict(m_bits=1 << 20, k=4),          # different m
                dict(m_bits=1 << 18, k=3),          # different k
                dict(m_bits=1 << 18, k=4, hash_mode="portable"),
            ):
                with pytest.raises(ValueError, match="fingerprint"):
                    incremental_dedup(
                        new, old, "norm", bitmap=bm, **bad
                    ).count()
        finally:
            bm.unpersist()

    def test_matching_and_legacy_bitmaps_accepted(self, snapshots, tmp_path):
        """A parquet round-trip keeps the fingerprint; a pre-fingerprint
        artifact (no sentinel row) is accepted unchecked — same results
        either way."""
        from ocr_spark.operators.bloom import bloom_bitmap, incremental_dedup

        old, new = snapshots
        expect = _expected_kept(old, new)
        path = str(tmp_path / "bm")
        bloom_bitmap(old, "norm", 1 << 18, 4).write.parquet(path)
        stored = new.sparkSession.read.parquet(path)
        got = sorted(
            r.doc_id
            for r in incremental_dedup(
                new, old, "norm", 1 << 18, 4, bitmap=stored
            ).collect()
        )
        assert got == expect
        legacy = stored.filter("word >= 0")
        got2 = sorted(
            r.doc_id
            for r in incremental_dedup(
                new, old, "norm", 1 << 18, 4, bitmap=legacy
            ).collect()
        )
        assert got2 == expect


class TestBloomGuards:
    def test_large_k_allowed_in_xxhash64_mode(self, spark):
        """Textbook sizing (k = ln2·m/n) often wants k > 8; only the
        portable LCG family is bounded by the fixed perm table."""
        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag

        old = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
        )
        bm = bloom_bitmap(old, m_bits=1 << 16, k=10, hash_mode="xxhash64")
        flagged = bloom_flag(
            old, bm, m_bits=1 << 16, k=10, hash_mode="xxhash64"
        )
        # no false negatives: every old doc must flag as maybe-seen
        assert all(r.maybe_seen for r in flagged.collect())

    def test_portable_mode_still_caps_k_at_fixed_perms(self, spark):
        import pytest

        from ocr_spark.operators.bloom import bloom_bitmap

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="fixed perms"):
            bloom_bitmap(df, k=9, hash_mode="portable")
        with pytest.raises(ValueError, match="k must be"):
            bloom_bitmap(df, k=0)

    def test_flag_col_collision_raises(self, spark):
        import pytest

        from ocr_spark.operators.bloom import bloom_bitmap, bloom_flag

        df = spark.createDataFrame(
            [(1, "x", True)], "doc_id long, text string, maybe_seen boolean"
        )
        bm = bloom_bitmap(df.select("doc_id", "text"))
        with pytest.raises(ValueError, match="maybe_seen"):
            bloom_flag(df, bm)

    def test_incremental_dedup_tolerates_maybe_column(self, spark):
        """incremental_dedup's internal flag name must uniquify past an
        input that already carries '_maybe' (previously silently
        overwritten then dropped)."""
        from ocr_spark.operators.bloom import incremental_dedup

        old = spark.createDataFrame(
            [(1, "seen doc")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(2, "seen doc", "keep-me"), (3, "fresh doc", "keep-me-too")],
            "doc_id long, text string, _maybe string",
        )
        kept = incremental_dedup(new, old).collect()
        assert [r.doc_id for r in kept] == [3]
        assert kept[0]._maybe == "keep-me-too"  # column survives intact
