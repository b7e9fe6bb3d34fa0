"""Training-data pipeline operators over the driver's testdata tables."""

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_partitions_corpus(self, docs):
        from ocr_spark.operators.dedup import exact_dedup

        groups = exact_dedup(docs).collect()
        assert sum(g.n_copies for g in groups) == docs.count()
        assert all(g.n_copies >= 1 for g in groups)

    def test_exact_dedup_finds_planted_dup(self, spark, docs):
        from ocr_spark.operators.dedup import exact_dedup

        planted = docs.limit(1).withColumn("doc_id", F.lit(999999))
        groups = exact_dedup(docs.unionByName(planted)).filter("n_copies > 1")
        assert groups.count() >= 1

    def test_minhash_identical_docs_identical_sigs(self, spark, docs):
        from ocr_spark.operators.dedup import minhash_signatures

        dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1000000)
        sigs = minhash_signatures(docs.limit(3).unionByName(dup)).collect()
        by_id = {r.doc_id: tuple(r[f"mh{j}"] for j in range(8)) for r in sigs}
        for i in range(3):
            orig = [v for k, v in by_id.items() if k % 1000000 == i]
            assert len(set(map(tuple, orig))) == 1

    def test_lsh_candidates_catch_planted_near_dup(self, docs):
        from ocr_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

        dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000)
        sigs = minhash_signatures(docs.limit(50).unionByName(dup))
        pairs = lsh_candidate_pairs(sigs).collect()
        found = {(p.doc_a, p.doc_b) for p in pairs}
        for i in range(5):
            assert (i, i + 1000000) in found

    def test_shingles_complete_and_short_doc_safe(self, spark):
        """Regression: w words must yield w-n+1 shingles (the last one was
        dropped), and docs shorter than n words must yield [] instead of
        crashing slice() with start 0."""
        from ocr_spark.operators.dedup import with_shingles

        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "hello world"), (3, "x")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: list(r.shingles)
            for r in with_shingles(df, n=3).collect()
        }
        assert got[1] == ["a b c", "b c d", "c d e"]
        assert got[2] == []
        assert got[3] == []


class TestSimilarity:
    def test_trained_centroids_beat_seed_pick_on_clustered_corpus(
        self, spark
    ):
        """Lowest-id seed centroids are arbitrary points; on a clustered
        corpus whose low ids all sit in ONE cluster (the adversarial but
        realistic case — ids correlate with crawl order), recall collapses.
        A few deterministic Lloyd rounds must recover it — and training
        must be bit-reproducible run to run."""
        import hashlib

        from ocr_spark.operators.similarity import (
            cosine_topk_bruteforce,
            ivf_topk,
            train_centroids,
        )

        K, per, dim = 4, 150, 8

        def vec(c, j):
            base = [0.0] * dim
            base[2 * c] = 1.0
            base[2 * c + 1] = 0.5
            return [
                base[d]
                + (hashlib.md5(f"{c}:{j}:{d}".encode()).digest()[0] - 127.5)
                / 127.5
                * 0.08
                for d in range(dim)
            ]

        # id = cluster * 10_000 + j → the 8 lowest ids are ALL cluster 0
        rows = [(c * 10_000 + j, vec(c, j)) for c in range(K) for j in range(per)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).cache()
        qids = [c * 10_000 + 50 for c in range(K)]
        queries = df.filter(F.col("vec_id").isin(qids))

        truth = {}
        for r in cosine_topk_bruteforce(df, queries, k=10).collect():
            truth.setdefault(r.query_id, set()).add(r.neighbor_id)

        def recall(res):
            got = {}
            for r in res.collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
            return hit / sum(len(t) for t in truth.values())

        untrained = recall(ivf_topk(df, queries, k=10, n_centroids=8, n_probe=1))
        trained = recall(
            ivf_topk(df, queries, k=10, n_centroids=8, n_probe=1, train_iters=3)
        )
        assert trained >= untrained
        assert trained >= 0.85, (untrained, trained)

        # bit-reproducible: the sorted sequential mean fold makes training
        # independent of partitioning
        a = train_centroids(df, n_centroids=8, iters=3)
        b = train_centroids(df.repartition(7), n_centroids=8, iters=3)
        assert a == b

    def test_bruteforce_topk_matches_numpy(self, embs):
        import numpy as np

        from ocr_spark.operators.similarity import cosine_topk_bruteforce

        queries = embs.filter("vec_id < 3")
        got = cosine_topk_bruteforce(embs, queries, k=5).collect()
        pdf = embs.toPandas()
        mat = np.array([np.array(v, dtype=np.float64) for v in pdf.embedding])
        ids = pdf.vec_id.to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        for q in range(3):
            qi = list(ids).index(q)
            cos = mat @ mat[qi] / (norms * norms[qi])
            order = [
                ids[j]
                for j in sorted(
                    (j for j in range(len(ids)) if ids[j] != q),
                    key=lambda j: (-cos[j], ids[j]),
                )
            ][:5]
            mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)
                    if r.query_id == q]
            assert mine == order

    def test_ivf_topk_probes_recall_and_planted_dup(self, embs):
        from pyspark.sql import functions as F

        from ocr_spark.operators.similarity import (
            cosine_topk_bruteforce,
            ivf_topk,
        )

        queries = embs.filter("vec_id < 5")
        exact = cosine_topk_bruteforce(embs, queries, k=3).collect()
        approx = ivf_topk(embs, queries, k=3, n_centroids=4, n_probe=2).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(
            len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets
        )
        assert hits >= 2  # probing half the cells recovers true neighbors

        # an exact duplicate lands in the same cell → always found at rank 1
        dup = embs.filter("vec_id < 2").withColumn(
            "vec_id", F.col("vec_id") + 10_000
        )
        corpus = embs.unionByName(dup)
        got = ivf_topk(
            corpus, embs.filter("vec_id < 2"), k=1, n_centroids=4, n_probe=1
        ).collect()
        found = {r.query_id: r.neighbor_id for r in got}
        assert found == {0: 10_000, 1: 10_001}


class TestTextAnalysis:
    def test_language_id_deterministic_vote(self, docs):
        from ocr_spark.operators.text_analysis import language_id

        out = language_id(docs.limit(50)).collect()
        assert all(r.lang_pred in ("en", "de", "fr", "es", "und") for r in out)
        # 'the' is in the synthetic vocab → english should dominate
        assert sum(1 for r in out if r.lang_pred == "en") > 25

    def test_quality_score_bounds_and_features(self, docs):
        from ocr_spark.operators.text_analysis import quality_score

        out = quality_score(docs.limit(50)).collect()
        for r in out:
            assert 0.0 <= r.quality <= 1.0
            assert r.n_words > 0
            assert math.isclose(
                r.lexical_diversity, r.n_distinct_words / r.n_words
            )

class TestUrlCanonicalization:
    def test_normalization_cases(self, spark):
        from pyspark.sql import functions as F

        from ocr_spark.operators.urls import canonicalize

        cases = [
            ("HTTPS://Example.COM:443/A/b/", "https://example.com/A/b"),
            ("http://Host.org:80/x?utm_source=a&q=1", "http://host.org/x?q=1"),
            ("http://h.io/p?a=1&utm_medium=m&b=2#frag", "http://h.io/p?a=1&b=2"),
            ("https://h.io/?fbclid=abc", "https://h.io/"),
            ("http://h.io/path", "http://h.io/path"),
            ("http://h.io:8080/p", "http://h.io:8080/p"),  # non-default port kept
            ("http://h.io:80?a=1", "http://h.io?a=1"),     # port before query
            ("s3://Bucket/Key/", "s3://bucket/Key"),       # digit/symbol schemes
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [
            r.c for r in df.select(canonicalize(F.col("url")).alias("c")).collect()
        ]
        assert got == [want for _, want in cases]

    def test_trailing_newline_parity_with_duckdb(self, spark):
        """Java's $ matches before a final newline, RE2's does not — the
        chain must use \\z so both engines agree on newline-tailed urls."""
        import duckdb

        from pyspark.sql import functions as F

        from ocr_spark.operators.urls import (
            canonicalize,
            canonicalize_sql_duckdb,
        )

        urls = [
            "http://a.com/path/\n",
            "http://a.com/p?x=1&\n",
            "http://a.com/p#f\n",
            "http://a.com:80\n/x",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got_spark = [
            r.c for r in df.select(canonicalize(F.col("url")).alias("c")).collect()
        ]
        con = duckdb.connect()
        got_duck = []
        for u in urls:
            lit = u.replace("'", "''")
            got_duck.append(
                con.execute(
                    f"SELECT {canonicalize_sql_duckdb('u')} "
                    f"FROM (VALUES ('{lit}')) t(u)"
                ).fetchone()[0]
            )
        assert got_spark == got_duck

    def test_url_dedup_groups(self, spark):
        from ocr_spark.operators.urls import url_dedup

        df = spark.createDataFrame(
            [
                (1, "http://A.com/x?utm_source=1"),
                (2, "http://a.com/x?utm_source=2"),
                (3, "http://a.com/y"),
            ],
            "doc_id long, url string",
        )
        out = {r.canonical_url: r for r in url_dedup(df).collect()}
        assert out["http://a.com/x"].n_copies == 2
        assert out["http://a.com/x"].representative == 1
        assert out["http://a.com/y"].n_copies == 1


class TestCorpusQualityOps:
    def test_gopher_rules_keep_and_reject(self, spark):
        from ocr_spark.operators.text_analysis import gopher_rules

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over a lazy sleeping dog"),
                (2, "a b c d e f g h"),                  # all short words
                (3, "@@ ## $$ %% ^^ && ** (( )) !!"),    # symbols
                (4, "one two"),                          # too few words
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.g_keep for r in gopher_rules(df).collect()}
        assert got == {1: True, 2: False, 3: False, 4: False}


class TestHotBucketGuards:
    """Degenerate-key skew: one shared band bucket must not go quadratic
    (the 100x failure mode of banded LSH on real corpora — empty/identical
    texts, zero vectors)."""

    def test_lsh_mega_bucket_capped_and_audited(self, spark):
        import time

        from ocr_spark.operators.dedup import (
            lsh_candidate_pairs,
            lsh_hot_buckets,
            minhash_signatures,
        )

        # 10k byte-identical docs (every band key equal) + one near-dup pair
        rows = [(i, "common boilerplate empty page text body") for i in range(10_000)]
        rows += [
            (20_001, "alpha beta gamma delta epsilon zeta eta theta"),
            (20_002, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = minhash_signatures(df, num_perm=8).cache()

        t0 = time.time()
        pairs = lsh_candidate_pairs(sigs, max_bucket=1_000).collect()
        elapsed = time.time() - t0
        # the 10k-doc bucket (~50M candidate pairs) is excluded; the real
        # near-dup pair must survive on its own bucket
        assert (20_001, 20_002) in {(p.doc_a, p.doc_b) for p in pairs}
        assert all(p.doc_a > 10_000 for p in pairs)
        assert elapsed < 60, f"quadratic task suspected: {elapsed:.1f}s"

        # the cap is never silent: the audit view names the dropped buckets
        hot = lsh_hot_buckets(sigs, max_bucket=1_000).collect()
        assert len(hot) == 4  # all 4 bands of the mega-cluster
        assert all(r.n_docs == 10_000 for r in hot)

    def test_lsh_guard_disabled_keeps_old_semantics(self, spark):
        from ocr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        rows = [(i, f"doc {i} unique words here") for i in range(20)]
        rows += [(100, "same same text"), (101, "same same text")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = minhash_signatures(df, num_perm=8)
        a = sorted(
            (p.doc_a, p.doc_b)
            for p in lsh_candidate_pairs(sigs, max_bucket=None).collect()
        )
        b = sorted(
            (p.doc_a, p.doc_b)
            for p in lsh_candidate_pairs(sigs, max_bucket=10_000).collect()
        )
        assert a == b and (100, 101) in a

    def test_default_caps_are_off(self, spark):
        """Recall must never be bounded silently: with no explicit cap,
        every pair inside a big bucket is still produced."""
        from ocr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        rows = [(i, "same tiny boilerplate text") for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = lsh_candidate_pairs(minhash_signatures(df, num_perm=8))
        assert pairs.count() == 60 * 59 // 2  # uncapped: all pairs


class TestDecontamination:
    def test_planted_contamination_detected(self, spark):
        from ocr_spark.operators.decontam import decontaminate, shingle_overlap

        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "completely unrelated text about spark plans here"),
                (3, "partial overlap the quick brown fox appears then diverges wildly"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "bench_id long, text string",
        )
        ov = {
            (r.doc_id, r.bench_id): r.overlap_frac
            for r in shingle_overlap(corpus, bench, n=3).collect()
        }
        assert ov[(1, 100)] == 1.0          # exact benchmark copy
        assert 0 < ov[(3, 100)] < 0.5       # shares a phrase only
        assert (2, 100) not in ov           # no 3-gram in common
        clean = {r.doc_id for r in decontaminate(
            corpus, bench, n=3, threshold=0.5).collect()}
        assert clean == {2, 3}

    def test_benchmark_side_is_broadcast(self, spark):
        """The corpus side must not shuffle for the shingle join — the
        bench shingle table rides a broadcast."""
        from ocr_spark.operators.decontam import shingle_overlap

        corpus = spark.createDataFrame(
            [(i, f"doc number {i} words here now") for i in range(50)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(1, "doc number 7 words here now")], "bench_id long, text string"
        )
        plan = (
            shingle_overlap(corpus, bench, n=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestPiiScrub:
    def test_redaction_and_counts(self, spark):
        from ocr_spark.operators.pii import pii_document_flags, scrub_pii

        df = spark.createDataFrame(
            [
                (1, "reach bob.smith+x@corp.example.co or 10.1.2.3 "
                    "or +1 (555) 123-4567 today"),
                (2, "clean document with no contact info"),
                (3, "a@b.io c@d.io e@f.io g@h.io i@j.io k@l.io listing"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in scrub_pii(df).collect()}
        assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (1, 1, 1)
        assert got[1].clean_text == (
            "reach <EMAIL> or <IP> or <PHONE> today"
        )
        assert got[2].clean_text == got[2].text
        flags = {r.doc_id: r for r in pii_document_flags(df).collect()}
        assert flags[3].pii_hits == 6 and bool(flags[3].pii_drop) is True
        assert bool(flags[1].pii_drop) is False

    def test_email_scrubbed_before_phone_can_eat_digits(self, spark):
        from ocr_spark.operators.pii import scrub_pii

        df = spark.createDataFrame(
            [(1, "mail 123456789a@example.org now")],
            "doc_id long, text string",
        )
        r = scrub_pii(df).collect()[0]
        assert (r.n_emails, r.n_phones) == (1, 0)
        assert r.clean_text == "mail <EMAIL> now"


class TestPiiPhonePrecision:
    def test_dates_and_numeric_prose_survive(self, spark):
        from ocr_spark.operators.pii import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "Published 2021-03-04, sold 1 000 000 units in "
                    "2020 2021 2022; pi is 3.14159265358979"),
                (2, "call me at (555) 123-4567 or +1 555 123 4467"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in scrub_pii(df).collect()}
        assert got[1].n_phones == 0 and got[1].clean_text == got[1].text
        assert got[2].n_phones == 2 and "<PHONE>" in got[2].clean_text


class TestDeterministicSplit:
    def test_stable_proportional_and_salt_sensitive(self, spark, docs):
        from ocr_spark.operators.splits import assign_split

        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        a = {r.doc_id: r.split for r in assign_split(docs, w).collect()}
        b = {r.doc_id: r.split for r in assign_split(docs, w).collect()}
        assert a == b  # pure function of (id, salt)
        counts = {}
        for s in a.values():
            counts[s] = counts.get(s, 0) + 1
        assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
        c = {r.doc_id: r.split
             for r in assign_split(docs, w, salt="v2").collect()}
        assert c != a  # salt re-deals

    def test_nested_split_growth_keeps_members(self, spark, docs):
        """Growing train 0.6 → 0.9 must never evict an existing train doc
        (bucket ranges are prefixes of each other)."""
        from ocr_spark.operators.splits import assign_split

        small = {
            r.doc_id
            for r in assign_split(docs, {"train": 0.6, "val": 0.4}).collect()
            if r.split == "train"
        }
        big = {
            r.doc_id
            for r in assign_split(docs, {"train": 0.9, "val": 0.1}).collect()
            if r.split == "train"
        }
        assert small <= big and len(big) > len(small)

    def test_weights_must_sum_to_one(self, spark, docs):
        from ocr_spark.operators.splits import assign_split

        with pytest.raises(ValueError, match="sum to 1"):
            assign_split(docs, {"train": 0.5, "val": 0.1})


class TestSplitEdgeCases:
    def test_null_ids_deterministic_not_in_last_label(self, spark):
        from ocr_spark.operators.splits import assign_split

        df = spark.createDataFrame(
            [(None,), (None,), (1,), (2,)], "doc_id long"
        )
        got = [
            r.split
            for r in assign_split(
                df, {"train": 0.98, "val": 0.01, "test": 0.01}
            ).collect()
            if r.doc_id is None
        ]
        assert len(set(got)) == 1  # one deterministic bucket
        assert got[0] == "train"   # empty-string hash lands in the bulk

    def test_out_of_range_weights_rejected(self, spark, docs):
        from ocr_spark.operators.splits import assign_split

        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            assign_split(docs, {"train": 1.2, "test": -0.2})


class TestPiiNumericProse:
    def test_grouped_numbers_and_isbn_survive(self, spark):
        """Numeric prose must survive the phone pass untouched — including
        bare 9-11 digit runs (epochs, ISBN-10s, account ids): a marker-less
        digit run is not phone evidence, and the removed \\b\\d{9,11}\\b
        alternative shredded exactly these."""
        from ocr_spark.operators.pii import scrub_pii

        df = spark.createDataFrame(
            [(1, "sold 10 000 000 units to 12.345.678 people, "
                 "ISBN 978-3-16-148410-0, raw id 123456789, "
                 "epoch 1723880000")],
            "doc_id long, text string",
        )
        r = scrub_pii(df).collect()[0]
        assert r.n_phones == 0
        assert r.clean_text == r.text  # nothing here is a phone

    def test_marked_phone_shapes_still_redacted(self, spark):
        from ocr_spark.operators.pii import scrub_pii

        df = spark.createDataFrame(
            [(1, "tel +49 30 901 820, fax (030) 901 821, "
                 "US line 555-123-4567")],
            "doc_id long, text string",
        )
        r = scrub_pii(df).collect()[0]
        assert r.n_phones == 3
        assert r.clean_text.count("<PHONE>") == 3


class TestScriptLanguageId:
    def test_cjk_scripts_detected(self, spark):
        from ocr_spark.operators.text_analysis import language_id

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox and the lazy dog of the day"),
                (2, "统计学习方法 机器学习 数据处理"),
                (3, "これはテストです。日本語の文章。"),
                (4, "한국어 텍스트 데이터 처리"),
                (5, "der hund und die katze ist nicht da"),
                (6, ""),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
        assert got[1] == "en"
        assert got[2] == "zh"
        assert got[3] == "ja"   # kana rule outranks Han on mixed text
        assert got[4] == "ko"
        assert got[5] == "de"
        # zero votes = no evidence: 'und' (r5 fix — the argmax tie-break
        # used to call every stopword-free document 'en'; oracle updated
        # in lockstep)
        assert got[6] == "und"

    def test_single_block_scripts_detected(self, spark):
        from ocr_spark.operators.text_analysis import language_id

        df = spark.createDataFrame(
            [
                (1, "статистические методы обработки данных"),
                (2, "עיבוד נתונים בקנה מידה גדול"),
                (3, "معالجة البيانات على نطاق واسع"),
                (4, "बड़े पैमाने पर डेटा प्रसंस्करण"),
                (5, "การประมวลผลข้อมูลขนาดใหญ่"),
                (6, "plain english text with the usual words in it today"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
        assert got == {1: "ru", 2: "he", 3: "ar", 4: "hi", 5: "th", 6: "en"}


class TestCorpusCuration:
    def test_corpus_line_dedup_first_occurrence_wins(self, spark):
        from ocr_spark.operators.dedup import corpus_line_dedup

        boiler = "Copyright 2025 Example Corp All Rights Reserved"
        df = spark.createDataFrame(
            [
                (1, f"Unique first line of document one\n{boiler}\nok\nmore unique prose here one"),
                (2, f"Document two starts differently\n{boiler}\nok\nanother unique closing line"),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in corpus_line_dedup(df).collect()}
        # first occurrence (lowest doc_id) keeps the boilerplate line
        assert boiler in got[1].clean_text and got[1].n_lines_kept == 4
        # the later doc loses exactly that line, order preserved
        assert got[2].clean_text == (
            "Document two starts differently\nok\nanother unique closing line"
        )
        assert (got[2].n_lines, got[2].n_lines_kept) == (4, 3)
        # short lines ("ok") never participate; empty docs survive
        assert got[3].clean_text == "" and got[3].n_lines_kept == 1

    def test_corpus_line_dedup_partitioning_invariant(self, spark, docs):
        """Winner = lexicographic min (doc_id, li) — a total order, so the
        result must be identical under any partitioning."""
        from ocr_spark.operators.dedup import corpus_line_dedup

        base = docs.select("doc_id", "text").limit(50)
        dup = base.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        corpus = base.unionByName(dup)
        a = sorted(map(tuple, corpus_line_dedup(corpus).collect()))
        b = sorted(map(tuple, corpus_line_dedup(corpus.repartition(13)).collect()))
        assert a == b
        # every copy lost all its eligible (>= 15 char) lines
        losers = [r for r in a if r[0] >= 500000]
        assert losers and all(r[3] < r[2] or r[2] == 1 for r in losers)

    def test_c4_rules_flags(self, spark):
        from ocr_spark.operators.text_analysis import c4_rules

        df = spark.createDataFrame(
            [
                (1, "This is the first sentence of prose.\n"
                    "It continues with more of that text.\n"
                    "And it ends with a third one, which we have here."),
                (2, "function f() { return 1; }"),
                (3, "Lorem ipsum dolor sit amet. And that would be the "
                    "end of it. With more to come."),
                (4, "no punct\nno caps\nshort"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in c4_rules(df).collect()}
        assert got[1].c4_keep and got[1].c4_punct_line_frac == 1.0
        assert got[2].c4_has_curly and not got[2].c4_keep
        assert got[3].c4_has_lorem and not got[3].c4_keep
        assert not got[4].c4_stopword_rule and not got[4].c4_keep

    def test_blocked_domains_subdomain_case_port_userinfo(self, spark):
        from ocr_spark.operators.urls import filter_blocked_domains, host_of

        df = spark.createDataFrame(
            [
                (1, "https://ads.example.com/page"),
                (2, "https://example.com/good"),
                (3, "http://user:pw@Sub.Spam.NET:8080/x"),
                (4, "https://fineweb.org/article"),
                (5, "https://notexample.com/road"),  # no token match
            ],
            "doc_id long, url string",
        )
        kept = filter_blocked_domains(df, ["example.com", "spam.net"])
        assert sorted(r.doc_id for r in kept.collect()) == [4, 5]
        hosts = [r[0] for r in df.select(host_of(F.col("url"))).collect()]
        assert hosts == [
            "ads.example.com", "example.com", "sub.spam.net",
            "fineweb.org", "notexample.com",
        ]

    def test_empty_blocklist_blocks_nothing(self, spark):
        """Regression: an empty array() literal is array<null>, whose
        exists() null-propagates — an empty blocklist must keep all rows,
        not drop them."""
        from ocr_spark.operators.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.example.com/x")], "doc_id long, url string"
        )
        assert filter_blocked_domains(df, []).count() == 1

    def test_blocked_domains_is_pure_filter_no_join(self, spark, docs):
        """A literal blocklist must stay a projection-side filter (no
        join, no exchange) so Catalyst can push it toward the scan."""
        from ocr_spark.operators.urls import filter_blocked_domains

        with_url = docs.select(
            "doc_id",
            F.concat(F.lit("https://"), "source", F.lit(".example.com/p")).alias("url"),
        )
        plan = (
            filter_blocked_domains(with_url, ["src3.example.com"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        for op in ("Join", "Exchange"):
            assert op not in plan, (op, plan)

    def test_blocked_domains_single_host_eval(self, spark, docs):
        """The filter must evaluate the host regexp ONCE per row: the
        old exists() lambda had PushDownPredicates substitute the host
        alias into the lambda body, re-running regexp_extract per
        blocklist entry per row (the CLAUDE.md FILTER-predicate
        corollary) — an O(|blocklist|) per-row slowdown on real
        5k-entry lists."""
        from ocr_spark.operators.urls import filter_blocked_domains

        with_url = docs.select(
            "doc_id",
            F.concat(
                F.lit("https://"), "source", F.lit(".example.com/p")
            ).alias("url"),
        )
        plan = (
            filter_blocked_domains(
                with_url, [f"b{i}.example.com" for i in range(50)]
            )
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert plan.count("regexp_extract") == 1, plan

    def test_blocked_domains_rejects_dead_entries(self, spark):
        """Wildcards/schemes/paths can never equal a bare host — real
        curated lists carry them, and silently-dead entries let blocked
        content into the corpus."""
        from ocr_spark.operators.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(1, "https://a.com/x")], "doc_id long, url string"
        )
        for bad in ("*.example.com", "http://spam.net", "spam.net/path",
                    "two words", ""):
            with pytest.raises(ValueError, match="never match"):
                filter_blocked_domains(df, ["good.com", bad])

    def test_canonicalize_repairs_scoped_to_query(self, spark):
        """Separator repairs must not touch the path: '/a&&b' and '/a&b'
        are DISTINCT resources (the old whole-string '&&+' collapse
        silently merged them in url_dedup), while a '&&' left by a
        tracking-param strip inside the query is still repaired —
        pinned against DuckDB so both engines agree."""
        import duckdb

        from ocr_spark.operators.urls import (
            canonicalize,
            canonicalize_sql_duckdb,
        )

        cases = [
            ("http://h.com/a&&b", "http://h.com/a&&b"),      # path kept
            ("http://h.com/a&b", "http://h.com/a&b"),
            ("http://h.com/a&", "http://h.com/a&"),           # path kept
            ("http://h.com/p?a=1&utm_x=2&b=3", "http://h.com/p?a=1&b=3"),
            ("http://h.com/p?utm_a=1&utm_b=2&c=3", "http://h.com/p?c=3"),
            ("http://h.com/p?a=1&&b=2", "http://h.com/p?a=1&b=2"),
            ("http://h.com/p?utm_x=1", "http://h.com/p"),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [
            r.c
            for r in df.select(canonicalize(F.col("url")).alias("c")).collect()
        ]
        assert got == [want for _, want in cases]
        con = duckdb.connect()
        for u, want in cases:
            lit = u.replace("'", "''")
            duck = con.execute(
                f"SELECT {canonicalize_sql_duckdb('u')} "
                f"FROM (VALUES ('{lit}')) t(u)"
            ).fetchone()[0]
            assert duck == want, (u, duck)

    def test_latest_capture_rejects_output_column_collision(self, spark):
        from ocr_spark.operators.urls import latest_capture

        df = spark.createDataFrame(
            [(1, "http://a.com", 5, "x")],
            "doc_id long, url string, warc_ts long, canonical_url string",
        )
        with pytest.raises(ValueError, match="canonical_url"):
            latest_capture(df)


class TestDeterministicSampling:
    def test_nested_stable_and_redealable(self, spark, docs):
        from ocr_spark.operators.splits import deterministic_sample

        ids = lambda d: {r.doc_id for r in d.select("doc_id").collect()}
        s10 = ids(deterministic_sample(docs, 0.10))
        s30 = ids(deterministic_sample(docs, 0.30))
        # nested: the 10% sample is a strict subset of the 30% sample
        assert s10 < s30
        # roughly proportional
        n = docs.count()
        assert abs(len(s30) / n - 0.30) < 0.1
        # pure function of (salt, id): repartitioning changes nothing,
        # a new salt re-deals
        assert ids(deterministic_sample(docs.repartition(7), 0.30)) == s30
        assert ids(deterministic_sample(docs, 0.30, salt="v2")) != s30

    def test_append_stability(self, spark, docs):
        """Sampling half the corpus then the whole corpus must agree on
        the shared ids — a doc's fate never changes as the corpus grows."""
        from ocr_spark.operators.splits import deterministic_sample

        half = docs.filter(F.col("doc_id") < 250)
        a = {r.doc_id for r in deterministic_sample(half, 0.2).collect()}
        b = {
            r.doc_id
            for r in deterministic_sample(docs, 0.2).collect()
            if r.doc_id < 250
        }
        assert a == b

    def test_stratified_mixture_rates(self, spark, docs):
        from ocr_spark.operators.splits import stratified_sample

        kept = stratified_sample(
            docs,
            {"src3": 1.0, "src7": 0.25, "src11": 0.0},
            strata_col="source",
            default_rate=0.0,
        )
        by_src = {
            r.source: r["count"]
            for r in kept.groupBy("source").count().collect()
        }
        totals = {
            r.source: r["count"]
            for r in docs.groupBy("source").count().collect()
        }
        assert by_src.get("src3") == totals["src3"]       # rate 1.0: all
        assert "src11" not in by_src                      # rate 0.0: none
        assert set(by_src) <= {"src3", "src7"}            # default 0.0
        frac7 = by_src.get("src7", 0) / totals["src7"]
        assert 0.05 < frac7 < 0.5                         # ~0.25

    def test_sample_then_split_stays_independent(self, spark, docs):
        """A sampled corpus must still split into ALL labels: sampling and
        splitting hash DIFFERENT domains (operation-prefixed salts), so
        the 37% sample is not simply the split function's low buckets —
        which would leave val/test empty."""
        from ocr_spark.operators.splits import (
            assign_split,
            deterministic_sample,
        )

        sampled = deterministic_sample(docs, 0.37)
        counts = {
            r.split: r["count"]
            for r in assign_split(
                sampled, {"train": 0.8, "val": 0.1, "test": 0.1}
            )
            .groupBy("split")
            .count()
            .collect()
        }
        assert set(counts) == {"train", "val", "test"}, counts
        total = sum(counts.values())
        assert abs(counts["train"] / total - 0.8) < 0.15

    def test_bad_rates_rejected(self, spark, docs):
        from ocr_spark.operators.splits import (
            deterministic_sample,
            stratified_sample,
        )

        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            deterministic_sample(docs, 1.2)
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            stratified_sample(docs, {"src1": -0.1})


class TestSequencePacking:
    def test_manifest_covers_every_token_once(self, spark):
        from ocr_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [(i, " ".join(f"t{i}_{j}" for j in range(7 + i * 3)))
             for i in range(20)],
            "doc_id long, text string",
        )
        rows = pack_sequences(df, seq_len=16).collect()
        # every document's slices tile [0, n_tok) exactly
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for d, rs in by_doc.items():
            rs = sorted(rs, key=lambda r: r.doc_start)
            assert rs[0].doc_start == 0
            assert rs[-1].doc_end == rs[0].n_tok
            for a, b in zip(rs, rs[1:]):
                assert a.doc_end == b.doc_start
        # every chunk except the last is exactly seq_len tokens
        by_chunk = {}
        for r in rows:
            by_chunk[r.chunk_id] = by_chunk.get(r.chunk_id, 0) + (
                r.doc_end - r.doc_start
            )
        last = max(by_chunk)
        for cid, width in by_chunk.items():
            assert width == (16 if cid < last else width), cid
            assert width <= 16
        total = sum(by_chunk.values())
        assert total == sum(7 + i * 3 for i in range(20))

    def test_manifest_invariant_to_bucket_size(self, spark):
        """The two-phase prefix sum (phase1 local window + phase2 driver
        cumsum of bucket totals) must produce the identical manifest for
        ANY bucket granularity — including sparse, non-dense ids."""
        from ocr_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [(i * 13 + 5, " ".join(f"t{i}_{j}" for j in range(3 + i * 5)))
             for i in range(25)],
            "doc_id long, text string",
        )
        expect = None
        for bs in (1, 3, 7, 1 << 22):
            rows = sorted(
                tuple(r) for r in pack_sequences(
                    df, seq_len=32, bucket_size=bs
                ).collect()
            )
            if expect is None:
                expect = rows
            assert rows == expect, f"bucket_size={bs}"

    def test_manifest_rejects_non_numeric_ids(self, spark):
        from ocr_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [("a", "x y z")], "doc_id string, text string"
        )
        with pytest.raises(TypeError, match="numeric"):
            pack_sequences(df, seq_len=8)

    def test_export_chunks_exact_and_roundtrip(self, spark):
        """Every chunk except the stream's last is exactly seq_len tokens,
        and concatenating chunks in chunk_id order round-trips the
        concatenation of all documents' tokens in doc_id order."""
        from ocr_spark.operators.packing import pack_export, pack_sequences

        texts = [
            (i, " ".join(f"w{i}_{j}" for j in range(1 + (i * 7) % 40)))
            for i in range(30)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        manifest = pack_sequences(df, seq_len=16, bucket_size=8)
        chunks = {
            r.chunk_id: list(r.token_ids)
            for r in pack_export(manifest, df).collect()
        }
        assert sorted(chunks) == list(range(len(chunks)))
        last = max(chunks)
        for cid, toks in chunks.items():
            n = len(toks)
            assert n == 16 if cid < last else 0 < n <= 16, cid
        stream = [t for cid in sorted(chunks) for t in chunks[cid]]
        want = [t for _, text in texts for t in text.split(" ")]
        assert stream == want

    def test_tokens_col_path_matches_text_path(self, spark):
        """Packing over a precomputed tokens_col = split(text) must be
        bit-identical (manifest and export) to the whitespace path."""
        from ocr_spark.operators.packing import pack_export, pack_sequences

        df = spark.createDataFrame(
            [(i, " ".join(f"w{i}_{j}" for j in range(1 + (i * 5) % 23)))
             for i in range(25)],
            "doc_id long, text string",
        )
        toked = df.withColumn("toks", F.split("text", " "))
        m_text = pack_sequences(df, seq_len=16, bucket_size=8)
        m_tok = pack_sequences(
            toked, seq_len=16, bucket_size=8, tokens_col="toks"
        )
        assert sorted(tuple(r) for r in m_text.collect()) == sorted(
            tuple(r) for r in m_tok.collect()
        )
        e_text = {
            r.chunk_id: list(r.token_ids)
            for r in pack_export(m_text, df).collect()
        }
        e_tok = {
            r.chunk_id: list(r.token_ids)
            for r in pack_export(m_tok, toked, tokens_col="toks").collect()
        }
        assert e_text == e_tok

    def test_tokens_col_zero_token_docs_appear_once(self, spark):
        """Empty and NULL token arrays are ZERO-token docs: each appears
        in exactly one manifest row with an empty slice — including when
        its offset lands exactly on a chunk boundary, the case where the
        naive sequence() end operand goes DESCENDING and emits two
        phantom chunks (the chunk_text lesson)."""
        from ocr_spark.operators.packing import pack_export, pack_sequences

        df = spark.createDataFrame(
            [
                (0, ["a", "b", "c", "d"]),   # fills chunk 0 exactly
                (1, []),                     # off=4: ON the boundary
                (2, None),                   # NULL array, also off=4
                (3, ["e", "f"]),
            ],
            "doc_id long, toks array<string>",
        )
        rows = pack_sequences(
            df, seq_len=4, bucket_size=2, tokens_col="toks"
        ).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert sorted(by_doc) == [0, 1, 2, 3]
        for d in (1, 2):
            (r,) = by_doc[d]
            assert r.n_tok == 0 and r.doc_start == r.doc_end == 0
            assert r.chunk_id == 1  # off=4 → the chunk that starts there
        manifest = pack_sequences(
            df, seq_len=4, bucket_size=2, tokens_col="toks"
        )
        chunks = {
            r.chunk_id: list(r.token_ids)
            for r in pack_export(manifest, df, tokens_col="toks").collect()
        }
        assert chunks == {0: ["a", "b", "c", "d"], 1: ["e", "f"]}

    def test_bpe_tokens_pack_roundtrip(self, spark):
        """The real tokenize→pack pipeline: bpe_apply's token arrays
        drive the manifest and export; chunks round-trip the concatenated
        BPE stream and every non-last chunk is exactly seq_len."""
        from ocr_spark.operators.bpe import bpe_apply, bpe_train, word_counts
        from ocr_spark.operators.packing import pack_export, pack_sequences

        texts = [
            (i, " ".join(["lower newer wider low new"] * (1 + i % 3)))
            for i in range(12)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        merges = bpe_train(word_counts(df), n_merges=8)
        assert merges  # the corpus repeats, so merges must be learned
        toked = bpe_apply(df, merges)
        manifest = pack_sequences(
            toked, seq_len=8, bucket_size=4, tokens_col="tokens"
        )
        chunks = {
            r.chunk_id: list(r.token_ids)
            for r in pack_export(
                manifest, toked, tokens_col="tokens"
            ).collect()
        }
        last = max(chunks)
        for cid, toks in chunks.items():
            assert len(toks) == 8 if cid < last else 0 < len(toks) <= 8
        stream = [t for cid in sorted(chunks) for t in chunks[cid]]
        want = [
            t
            for r in sorted(toked.collect(), key=lambda r: r.doc_id)
            for t in r.tokens
        ]
        assert stream == want


class TestConnectedComponents:
    """Duplicate-cluster assignment: min-label propagation vs a pure-
    Python union-find ground truth, convergence audit, and the
    end-to-end cluster-aware dedup."""

    @staticmethod
    def _union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical: every node -> min id of its component
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        return {
            n: min(members)
            for members in comp.values()
            for n in members
        }

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        from ocr_spark.operators.dedup import connected_components

        for seed in (7, 41, 1337):
            rng = random.Random(seed)
            nodes = list(range(200))
            edges = [
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            expected = self._union_find(edges)
            pairs = spark.createDataFrame(
                edges, "doc_a long, doc_b long"
            )
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(pairs).collect()
            }
            assert got == expected, seed

    def test_long_chain_converges(self, spark):
        """A pure path graph (worst-case diameter) must still converge
        within the iteration budget — labels flow one hop per round."""
        from ocr_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
        )
        out = connected_components(pairs, max_iterations=25).collect()
        assert {r.cluster_id for r in out} == {0}
        assert len(out) == 21

    def test_nonconvergence_raises_never_silent(self, spark):
        from ocr_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iterations=2)

    def test_dedup_by_clusters_transitive(self, spark):
        """A~B and B~C must keep exactly ONE of the three (pairwise
        winner-per-pair would keep two near-copies)."""
        from ocr_spark.operators.dedup import dedup_by_clusters

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in (1, 2, 3, 50)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a long, doc_b long"
        )
        kept = sorted(
            r.doc_id for r in dedup_by_clusters(docs, pairs).collect()
        )
        assert kept == [1, 50]

    def test_dedup_by_clusters_scored_representative(self, spark):
        """score_col keeps the BEST member per component (FineWeb-style
        keep-the-longest), ties to min id, NULL scores always lose."""
        from ocr_spark.operators.dedup import dedup_by_clusters

        docs = spark.createDataFrame(
            [
                # component {1,2,3}: 2 has the highest score
                (1, 5.0), (2, 9.0), (3, 7.0),
                # component {10,11}: tie -> min id (10)
                (10, 4.0), (11, 4.0),
                # component {20,21}: NULL loses to a real score
                (20, None), (21, 1.0),
                # unpaired: always kept, score irrelevant
                (50, None),
            ],
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
        )
        kept = sorted(
            r.doc_id
            for r in dedup_by_clusters(docs, pairs, score_col="q").collect()
        )
        assert kept == [2, 10, 21, 50]
        # prefer='min' inverts the choice (keep the LOWEST score)
        kept_min = sorted(
            r.doc_id
            for r in dedup_by_clusters(
                docs, pairs, score_col="q", prefer="min"
            ).collect()
        )
        assert kept_min == [1, 10, 21, 50]
        # a real -Infinity score still beats NULL (the null flag leads
        # the winner key; a bare +inf sentinel would tie — review
        # finding, pinned)
        docs_inf = spark.createDataFrame(
            [(1, None), (2, float("-inf"))], "doc_id long, q double"
        )
        pairs_inf = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        assert [
            r.doc_id
            for r in dedup_by_clusters(
                docs_inf, pairs_inf, score_col="q"
            ).collect()
        ] == [2]
        # all-NULL component falls back to min id
        docs2 = spark.createDataFrame(
            [(1, None), (2, None)], "doc_id long, q double"
        )
        pairs2 = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        assert [
            r.doc_id
            for r in dedup_by_clusters(
                docs2, pairs2, score_col="q"
            ).collect()
        ] == [1]
        # guards
        with pytest.raises(ValueError, match="prefer"):
            dedup_by_clusters(docs, pairs, score_col="q", prefer="best")
        with pytest.raises(ValueError, match="score_col"):
            dedup_by_clusters(docs, pairs, score_col="nope")


class TestLmScore:
    """CCNet-style unigram LM gate (operators/lm.py): train counts on a
    reference, score documents by smoothed mean log-probability."""

    def test_hand_computed_logprobs(self, spark):
        import math

        from ocr_spark.operators.lm import lm_score, unigram_counts

        ref = spark.createDataFrame(
            [(0, "a a b")], "doc_id long, text string"
        )
        score = spark.createDataFrame(
            [(1, "a c")], "doc_id long, text string"
        )
        counts = unigram_counts(ref)
        row = lm_score(score, counts).collect()[0]
        # N=3 tokens, V=2 vocab → denom 6; lp(a)=ln(3/6), lp(c OOV)=ln(1/6)
        expected = (math.log(3 / 6) + math.log(1 / 6)) / 2
        assert row.mean_logprob == expected
        assert row.n_tokens == 2
        assert row.n_oov == 1
        # exp() is NOT bit-identical across JVM/glibc (measured 1-ulp
        # spread) — the reason ppl is a convenience column excluded from
        # the oracle twin, while mean_logprob above compares EXACTLY.
        assert math.isclose(row.ppl, math.exp(-expected), rel_tol=1e-12)

    def test_reference_like_text_outranks_gibberish(self, spark, docs):
        from ocr_spark.operators.lm import lm_score, unigram_counts

        counts = unigram_counts(docs)
        probe = spark.createDataFrame(
            [
                (1, "the and of to in is that for the and"),
                (2, "zqxj vvkw pplm qqrs ttuv wwxy zzab cdef ghij klmn"),
            ],
            "doc_id long, text string",
        )
        by_id = {r.doc_id: r for r in lm_score(probe, counts).collect()}
        assert by_id[1].mean_logprob > by_id[2].mean_logprob
        assert by_id[1].ppl < by_id[2].ppl
        assert by_id[2].n_oov == 10

    def test_null_and_empty_text_score(self, spark):
        from ocr_spark.operators.lm import lm_score, unigram_counts

        ref = spark.createDataFrame(
            [(0, "a b c")], "doc_id long, text string"
        )
        probe = spark.createDataFrame(
            [(1, None), (2, "")], "doc_id long, text string"
        )
        rows = {
            r.doc_id: r
            for r in lm_score(probe, unigram_counts(ref)).collect()
        }
        # NULL behaves as '' — one empty-string token, OOV, finite score
        for r in rows.values():
            assert r.n_tokens == 1
            assert r.n_oov == 1
            assert r.mean_logprob < 0

    def test_lowercase_fold_matches_training(self, spark):
        from ocr_spark.operators.lm import lm_score, unigram_counts

        ref = spark.createDataFrame(
            [(0, "The THE the")], "doc_id long, text string"
        )
        probe = spark.createDataFrame(
            [(1, "tHe")], "doc_id long, text string"
        )
        row = lm_score(probe, unigram_counts(ref)).collect()[0]
        assert row.n_oov == 0

    def test_determinism_across_partitionings(self, spark, docs):
        from ocr_spark.operators.lm import lm_score, unigram_counts

        counts = unigram_counts(docs.filter(F.col("doc_id") % 2 == 0))
        a = sorted(
            map(tuple, lm_score(docs.repartition(1), counts).collect())
        )
        b = sorted(
            map(tuple, lm_score(docs.repartition(13), counts).collect())
        )
        assert a == b


class TestBigramLm:
    """Interpolated bigram gate (lm.bigram_counts / lm_score_bigram) —
    the 'swap the counts table for a richer model' upgrade, differential
    against a transparent Python reference."""

    REF = ["the cat sat", "the cat ran", "a cat sat here"]

    def _models(self, spark):
        from ocr_spark.operators.lm import bigram_counts, unigram_counts

        ref = spark.createDataFrame(
            list(enumerate(self.REF)), "doc_id long, text string"
        )
        return unigram_counts(ref), bigram_counts(ref)

    def _py_score(self, text, lam):
        import math
        from collections import Counter

        unis, bis = Counter(), Counter()
        for t in self.REF:
            ws = t.split(" ")
            unis.update(ws)
            bis.update(zip(ws, ws[1:]))
        n, v = sum(unis.values()), len(unis)
        ctx = Counter()
        for (a, _b), c in bis.items():
            ctx[a] += c
        ws = (text or "").lower().split(" ")
        acc = 0.0
        for i, w in enumerate(ws):
            pu = (unis.get(w, 0) + 1) / (n + v + 1)
            if i == 0:
                p = pu
            else:
                pb = (bis.get((ws[i - 1], w), 0) + 1) / (
                    ctx.get(ws[i - 1], 0) + v + 1
                )
                p = lam * pb + (1 - lam) * pu
            acc += math.log(p)
        return acc / len(ws)

    def test_matches_python_reference_exactly(self, spark):
        from ocr_spark.operators.lm import lm_score_bigram

        uc, bc = self._models(spark)
        probe = spark.createDataFrame(
            [(1, "the cat sat"), (2, "dog ran fast"), (3, "the"),
             (4, None)],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in lm_score_bigram(probe, uc, bc, lam=0.7).collect()
        }
        for i, t in [(1, "the cat sat"), (2, "dog ran fast"), (3, "the"),
                     (4, None)]:
            assert rows[i].mean_logprob == self._py_score(t, 0.7), i

    def test_lam_zero_reproduces_unigram_gate_bitwise(self, spark, docs):
        from ocr_spark.operators.lm import (
            bigram_counts,
            lm_score,
            lm_score_bigram,
            unigram_counts,
        )

        ref = docs.filter(F.col("doc_id") % 2 == 0)
        uc, bc = unigram_counts(ref), bigram_counts(ref)
        a = {r.doc_id: r.mean_logprob for r in lm_score(docs, uc).collect()}
        b = {
            r.doc_id: r.mean_logprob
            for r in lm_score_bigram(docs, uc, bc, lam=0.0).collect()
        }
        assert a == b  # exact: 0·p_bi + 1·p_u is the identity in IEEE

    def test_bigram_context_separates_same_unigrams(self, spark):
        from ocr_spark.operators.lm import lm_score_bigram

        uc, bc = self._models(spark)
        probe = spark.createDataFrame(
            [(1, "the cat sat"), (2, "sat cat the")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r.mean_logprob
            for r in lm_score_bigram(probe, uc, bc, lam=0.7).collect()
        }
        # identical bags of words; only the bigram term can tell the
        # reference-like order from the scrambled one
        assert rows[1] > rows[2]

    def test_partitioning_invariance_and_bad_lam(self, spark, docs):
        import pytest as _pytest

        from ocr_spark.operators.lm import (
            bigram_counts,
            lm_score_bigram,
            unigram_counts,
        )

        ref = docs.filter(F.col("doc_id") % 2 == 0)
        uc, bc = unigram_counts(ref), bigram_counts(ref)
        a = sorted(map(tuple, lm_score_bigram(
            docs.repartition(1), uc, bc).collect()))
        b = sorted(map(tuple, lm_score_bigram(
            docs.repartition(13), uc, bc).collect()))
        assert a == b
        with _pytest.raises(ValueError, match="lam"):
            lm_score_bigram(docs, uc, bc, lam=1.5)


class TestSpanDedup:
    """Substring-granularity dedup (operators/dedup.py corpus_span_dedup):
    the Lee et al. 2022 exact-substring semantics over windowed digests."""

    def _corpus(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        return spark.createDataFrame(
            [
                (1, "intro one two " + shared + " tail xx"),
                (2, "other prefix words " + shared + " different end here"),
                (3, "no duplication in this document at all whatsoever"),
                (4, None),
                (5, "short doc"),
                (6, "rep rep rep rep rep rep rep rep rep rep"),
            ],
            "doc_id long, text string",
        )

    def test_winner_keeps_loser_drops(self, spark):
        from ocr_spark.operators.dedup import corpus_span_dedup

        out = {
            r.doc_id: r
            for r in corpus_span_dedup(self._corpus(spark), width=5).collect()
        }
        # doc 1 (lexicographic-min occurrence) keeps the shared span intact
        assert "alpha beta gamma delta epsilon" in out[1].clean_text
        assert out[1].n_dup_spans == 0
        # doc 2 loses exactly the 8 shared tokens (windows 3..6 → [3, 11))
        assert out[2].clean_text == "other prefix words different end here"
        assert out[2].n_tokens == 14
        assert out[2].n_tokens_kept == 6
        assert out[2].n_dup_spans == 1

    def test_untouched_docs_pass_through(self, spark):
        from ocr_spark.operators.dedup import corpus_span_dedup

        out = {
            r.doc_id: r
            for r in corpus_span_dedup(self._corpus(spark), width=5).collect()
        }
        assert out[3].clean_text.startswith("no duplication")
        assert out[3].n_tokens == out[3].n_tokens_kept
        # shorter than width → no windows → untouched
        assert out[5].clean_text == "short doc"
        # NULL text behaves as '' and the row SURVIVES: a NULL must not
        # silently drop a document
        assert out[4].clean_text == ""
        assert out[4].n_dup_spans == 0

    def test_periodic_text_degenerate_case_pinned(self, spark):
        """Self-overlapping repeated text keeps only the first window
        winner's head token — documented greedy-substring-dedup behavior;
        pin it so a change is a deliberate semantics change."""
        from ocr_spark.operators.dedup import corpus_span_dedup

        out = {
            r.doc_id: r
            for r in corpus_span_dedup(self._corpus(spark), width=5).collect()
        }
        assert out[6].clean_text == "rep"
        assert out[6].n_tokens_kept == 1

    def test_spans_merge_overlapping_windows(self, spark):
        from ocr_spark.operators.dedup import duplicate_spans

        spans = duplicate_spans(self._corpus(spark), width=5).collect()
        by_doc = {}
        for s in spans:
            by_doc.setdefault(s.doc_id, []).append(
                (s.span_start, s.span_end)
            )
        # doc 2: four overlapping loser windows merged into ONE span
        assert by_doc[2] == [(3, 11)]
        # half-open, in-bounds, disjoint everywhere
        for rows in by_doc.values():
            rows.sort()
            for (s1, e1), (s2, _) in zip(rows, rows[1:]):
                assert e1 < s2 or (e1 <= s2)
            assert all(s < e for s, e in rows)

    def test_full_copy_corpus_loses_entire_window_region(self, spark, docs):
        """The contract exercise in miniature: corpus ∪ copy → every
        >=width-token copy loses its whole windowed region; originals
        keep everything they kept before."""
        from ocr_spark.operators.dedup import corpus_span_dedup

        base = docs.select("doc_id", "text").limit(40)
        corpus = base.unionByName(
            base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        out = {r.doc_id: r for r in corpus_span_dedup(corpus, width=20).collect()}
        for did, r in out.items():
            if did < 1000000:
                continue
            if r.n_tokens >= 20:
                # the copy's windows all lose to the original
                assert r.n_dup_spans >= 1
                assert r.n_tokens_kept < r.n_tokens
            else:
                assert r.clean_text != "" or r.n_tokens_kept == r.n_tokens

    def test_determinism_across_partitionings(self, spark):
        from ocr_spark.operators.dedup import corpus_span_dedup

        c = self._corpus(spark)
        a = sorted(
            map(tuple, corpus_span_dedup(c.repartition(1), width=5).collect())
        )
        b = sorted(
            map(tuple, corpus_span_dedup(c.repartition(7), width=5).collect())
        )
        assert a == b


class TestNormalizeAndDomainCap:
    def test_domain_cap_keeps_n_smallest_per_host(self, spark):
        from ocr_spark.operators.text_analysis import cap_per_domain

        rows = [(i, f"https://big.example.com/{i}") for i in range(50)]
        rows += [(100 + i, f"https://small.example.com/{i}") for i in range(2)]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        kept = sorted(
            r.doc_id for r in cap_per_domain(df, 3).collect()
        )
        assert kept == [0, 1, 2, 100, 101]
        # salted and unsalted agree exactly
        kept1 = sorted(
            r.doc_id for r in cap_per_domain(df, 3, salts=1).collect()
        )
        assert kept1 == kept

    def test_domain_cap_keeps_caller_temp_named_columns(self, spark):
        """Caller columns named like the salted rank's temporaries come
        back unchanged, and the kept rows equal the single-window cap."""
        from ocr_spark.operators.text_analysis import cap_per_domain

        rows = [
            (i, f"https://big.example.com/{i}", f"s{i}", -i)
            for i in range(50)
        ]
        rows += [
            (100 + i, f"https://small.example.com/{i}", f"s{100 + i}", i)
            for i in range(2)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, url string, _domain_salt string, "
            "_domain_rank long",
        )
        out = cap_per_domain(df, 3, salts=8)
        assert out.columns == df.columns
        got = sorted(tuple(r) for r in out.collect())
        by_id = {r[0]: r for r in rows}
        assert got == [by_id[i] for i in (0, 1, 2, 100, 101)]
        one = cap_per_domain(df, 3, salts=1).collect()
        assert got == sorted(tuple(r) for r in one)


class TestHashedEmbedding:
    """Feature-hashed document embeddings (operators/embed.py) — the
    model-free text→vector bridge into the similarity operators."""

    ROWS = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),  # exact dup
        (2, "the dog sat on the mat today"),  # near dup
        (3, "quantum flux capacitors engage warp drive"),  # distinct
        (4, None),  # NULL text → [''] (one empty token, never dropped)
        (5, ""),  # empty text → same vector as NULL
    ]

    @staticmethod
    def _py_ref(text, dim):
        """Pure-Python reference: portable hash, sequential folds."""
        import hashlib

        toks = (text or "").lower().split(" ")
        cnt = [0.0] * dim
        for t in toks:
            h = int(
                hashlib.md5(("emb:" + t).encode()).hexdigest()[:12], 16
            ) % dim
            cnt[h] += 1.0
        ss = 0.0
        for v in cnt:
            ss += v * v
        nrm = math.sqrt(ss)
        vec = cnt if nrm == 0 else [v / nrm for v in cnt]
        return len(toks), nrm, vec

    @pytest.mark.parametrize("strategy", ["hof", "explode"])
    def test_bit_identical_to_python_reference(self, spark, strategy):
        from ocr_spark.operators.embed import hashed_embedding

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in hashed_embedding(
                df, dim=16, hash_mode="portable", strategy=strategy
            ).collect()
        }
        assert len(out) == len(self.ROWS)  # NULL/empty rows never dropped
        for i, text in self.ROWS:
            n, nrm, vec = self._py_ref(text, 16)
            r = out[i]
            assert r.n_tokens == n
            assert r.norm == nrm  # bit-identical, not approx
            assert list(r.embedding) == vec

    @pytest.mark.parametrize("hash_mode", ["portable", "xxhash64"])
    def test_strategies_bit_identical(self, docs, hash_mode):
        """'hof' and 'explode' are physical strategies only — same
        vectors, bit for bit, on the real documents table."""
        from ocr_spark.operators.embed import hashed_embedding

        a = sorted(
            hashed_embedding(
                docs, dim=16, hash_mode=hash_mode, strategy="hof"
            ).collect()
        )
        b = sorted(
            hashed_embedding(
                docs, dim=16, hash_mode=hash_mode, strategy="explode"
            ).collect()
        )
        assert a == b

    def test_partitioning_invariant(self, docs):
        from ocr_spark.operators.embed import hashed_embedding

        a = sorted(
            hashed_embedding(docs.repartition(1), dim=8).collect()
        )
        b = sorted(
            hashed_embedding(docs.repartition(7), dim=8).collect()
        )
        assert a == b

    def test_normalized_vectors_unit_norm(self, docs):
        from ocr_spark.operators.embed import hashed_embedding

        rows = hashed_embedding(docs, dim=16).collect()
        for r in rows:
            assert r.norm > 0
            assert abs(
                math.sqrt(sum(v * v for v in r.embedding)) - 1.0
            ) < 1e-12


class TestClassifierScore:
    """Supervised token log-odds classifier (operators/classifier.py) —
    the FineWeb-Edu quality-gate shape, trained by plain aggregation."""

    POS = [(0, "the study of science and learning"),
           (1, "education research and analysis")]
    NEG = [(10, "click here buy now cheap deals"),
           (11, "win free money now")]

    def _fixture(self, spark):
        from ocr_spark.operators.classifier import class_token_counts

        pos = spark.createDataFrame(self.POS, "doc_id long, text string")
        neg = spark.createDataFrame(self.NEG, "doc_id long, text string")
        return pos, neg, class_token_counts(pos, neg)

    def test_matches_python_reference(self, spark):
        """Exact integer outputs match a pure-Python model exactly; the
        float score matches to ~1e-12 (the JVM's ln intrinsic differs
        from CPython's glibc log by 1 ulp on some operands — measured —
        so bitwise equality to a CPython reference is NOT the contract;
        within-Spark bitwise determinism is, see the next test)."""
        from collections import Counter

        from ocr_spark.operators.classifier import classifier_score

        pos, neg, counts = self._fixture(spark)
        rows = self.POS + self.NEG + [(20, "science learning zebra"),
                                      (21, None)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in classifier_score(docs, counts).collect()}
        assert len(out) == len(rows)  # NULL text never dropped

        cp, cn = Counter(), Counter()
        for _, t in self.POS:
            cp.update(t.lower().split(" "))
        for _, t in self.NEG:
            cn.update(t.lower().split(" "))
        vocab = set(cp) | set(cn)
        np_, nn_, v = sum(cp.values()), sum(cn.values()), len(vocab)
        for i, t in rows:
            toks = (t or "").lower().split(" ")
            s, oov = 0.0, 0
            for w in toks:
                if w not in vocab:
                    oov += 1
                s += math.log((cp.get(w, 0) + 1) / (np_ + v + 1)) - math.log(
                    (cn.get(w, 0) + 1) / (nn_ + v + 1)
                )
            r = out[i]
            assert r.n_tokens == len(toks)
            assert r.n_oov == oov
            assert abs(r.mean_log_odds - s / len(toks)) < 1e-12

    def test_discriminates_and_oov_is_constant(self, spark):
        from ocr_spark.operators.classifier import classifier_score

        pos, neg, counts = self._fixture(spark)
        docs = pos.unionByName(neg).unionByName(
            spark.createDataFrame(
                [(30, "zzz qqq xxx")], "doc_id long, text string"
            )
        )
        out = {r.doc_id: r for r in classifier_score(docs, counts).collect()}
        for i, _ in self.POS:
            assert out[i].mean_log_odds > 0
        for i, _ in self.NEG:
            assert out[i].mean_log_odds < 0
        # an all-OOV doc scores the constant ln((Nn+V+1)/(Np+V+1))
        r = out[30]
        assert r.n_oov == r.n_tokens == 3

    def test_partitioning_invariant_bitwise(self, docs, spark):
        """Within Spark the score is bit-reproducible under any
        partitioning (sorted sequential fold; the JVM ln intrinsic is
        JIT-state-independent — probed)."""
        from ocr_spark.operators.classifier import (
            class_token_counts,
            classifier_score,
        )

        counts = class_token_counts(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 == 1),
        )
        a = sorted(classifier_score(docs.repartition(1), counts).collect())
        b = sorted(classifier_score(docs.repartition(7), counts).collect())
        assert a == b

    def test_broadcast_counts_identical(self, docs, spark):
        from ocr_spark.operators.classifier import (
            class_token_counts,
            classifier_score,
        )

        counts = class_token_counts(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 == 1),
        )
        a = sorted(classifier_score(docs, counts).collect())
        b = sorted(
            classifier_score(docs, counts, broadcast_counts=True).collect()
        )
        assert a == b


class TestTokenBudgetSample:
    """Token-budget mixture (splits.token_budget_sample) — the Dolma/Pile
    "N tokens per source" recipe as a deterministic two-phase prefix sum."""

    BUDGETS = {"src0": 700, "src1": 100, "src2": 99999}

    def _kept(self, docs, **kw):
        from ocr_spark.operators.splits import token_budget_sample

        return token_budget_sample(docs, self.BUDGETS, **kw)

    def test_budget_rule_and_bounded_overshoot(self, docs):
        kept = self._kept(docs).withColumn(
            "_nt", F.expr("size(split(coalesce(text, ''), ' '))")
        )
        rows = kept.groupBy("source").agg(
            F.sum("_nt").alias("tok"), F.max("_nt").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
        by_src = {r.source: r for r in rows}
        all_counts = {
            r["source"]: (r["n"], r["tok"])
            for r in docs.withColumn(
                "_nt", F.expr("size(split(coalesce(text, ''), ' '))")
            ).groupBy("source").agg(
                F.count(F.lit(1)).alias("n"), F.sum("_nt").alias("tok")
            ).collect()
        }
        # default_budget=0: unlisted sources fully dropped
        assert set(by_src) <= set(self.BUDGETS)
        for s, budget in self.BUDGETS.items():
            n_all, tok_all = all_counts[s]
            r = by_src.get(s)
            if tok_all <= budget:
                # under-budget stratum keeps every document
                assert r is not None and r.n == n_all
            else:
                # kept tokens reach the budget but overshoot by < 1 doc
                assert r is not None
                assert r.tok >= budget  # boundary doc included
                assert r.tok - r.mx < budget  # pre-offset rule

    def test_default_none_keeps_unlisted(self, docs):
        kept = self._kept(docs, default_budget=None)
        unlisted = kept.filter(~F.col("source").isin(*self.BUDGETS))
        total_unlisted = docs.filter(
            ~F.col("source").isin(*self.BUDGETS)
        ).count()
        assert unlisted.count() == total_unlisted

    @pytest.mark.parametrize("hash_mode", ["portable", "xxhash64"])
    def test_partitioning_invariant(self, docs, hash_mode):
        a = sorted(
            r.doc_id
            for r in self._kept(
                docs.repartition(1), hash_mode=hash_mode
            ).collect()
        )
        b = sorted(
            r.doc_id
            for r in self._kept(
                docs.repartition(7), hash_mode=hash_mode
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_schema_passthrough(self, docs):
        kept = self._kept(docs)
        assert kept.columns == docs.columns  # internals dropped


class TestParagraphDedup:
    """delimiter='\\n\\n' turns corpus_line_dedup into the RefinedWeb
    duplicate-PARAGRAPH removal — same winner rule, bigger units."""

    def test_paragraph_winner_rule(self, spark):
        from ocr_spark.operators.dedup import corpus_line_dedup

        para = "this is a shared boilerplate paragraph of real length"
        rows = [
            (1, f"unique one alpha beta gamma delta\n\n{para}"),
            (2, f"{para}\n\nunique two epsilon zeta eta theta"),
            (3, "only unique content in this document right here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in corpus_line_dedup(df, delimiter="\n\n").collect()
        }
        # doc 1 (lowest id) keeps the shared paragraph; doc 2 loses it
        assert para in got[1].clean_text
        assert para not in got[2].clean_text
        assert got[2].clean_text == "unique two epsilon zeta eta theta"
        assert got[3].clean_text == rows[2][1]
        # "\n" inside other docs is NOT a paragraph boundary
        assert got[1].n_lines == 2 and got[2].n_lines == 2

    def test_delimiter_must_be_literal(self, spark):
        from ocr_spark.operators.dedup import corpus_line_dedup

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            corpus_line_dedup(df, delimiter=".")


class TestShardCorpus:
    """Deterministic global pseudo-shuffle (splits.shard_corpus): every
    doc gets (shard, seq); seq is a dense 0-based rank per shard."""

    @pytest.mark.parametrize("hash_mode", ["portable", "xxhash64"])
    def test_seq_is_dense_per_shard(self, docs, hash_mode):
        from ocr_spark.operators.splits import shard_corpus

        out = shard_corpus(
            docs.select("doc_id"), 8, hash_mode=hash_mode,
            n_buckets_log2=4,
        )
        per = (
            out.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("seq").alias("lo"),
                F.max("seq").alias("hi"),
                F.count_distinct("seq").alias("d"),
            )
            .collect()
        )
        assert sum(r.n for r in per) == docs.count()
        for r in per:
            assert (r.lo, r.hi, r.d) == (0, r.n - 1, r.n), r

    def test_partitioning_invariant_and_salt_redeal(self, docs):
        from ocr_spark.operators.splits import shard_corpus

        ids = docs.select("doc_id")
        a = {
            (r.doc_id): (r.shard, r.seq)
            for r in shard_corpus(ids.repartition(1), 8).collect()
        }
        b = {
            (r.doc_id): (r.shard, r.seq)
            for r in shard_corpus(ids.repartition(7), 8).collect()
        }
        assert a == b
        c = {
            (r.doc_id): (r.shard, r.seq)
            for r in shard_corpus(ids, 8, salt="v2").collect()
        }
        assert c != a  # a new salt re-deals the permutation

    def test_order_decorrelated_from_id_order(self, docs):
        """Within a shard, seq order must not be id order (the whole
        point: crawl order is clustered; hash order is not)."""
        from ocr_spark.operators.splits import shard_corpus

        rows = (
            shard_corpus(docs.select("doc_id"), 2)
            .filter("shard = 0")
            .orderBy("seq")
            .collect()
        )
        ids = [r.doc_id for r in rows]
        assert ids != sorted(ids)

    def test_no_single_partition_exchange(self, docs):
        from ocr_spark.operators.splits import shard_corpus

        plan = (
            shard_corpus(docs.select("doc_id"), 8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange SinglePartition" not in plan, plan


class TestC4LineFilter:
    def test_rules_applied_per_line(self, spark):
        from ocr_spark.operators.text_analysis import c4_line_filter

        df = spark.createDataFrame(
            [
                (1, "one two three.\nshort.\nhas javascript code here.\n"
                    "four five six!\nno terminal punct line")
            ],
            "doc_id bigint, text string",
        )
        r = c4_line_filter(df).collect()[0]
        assert r.clean_text == "one two three.\nfour five six!"
        assert r.c4_lines_removed == 3

    def test_null_and_empty_text_never_dropped(self, spark):
        from ocr_spark.operators.text_analysis import c4_line_filter

        df = spark.createDataFrame(
            [(1, None), (2, "")], "doc_id bigint, text string"
        )
        rows = {r.doc_id: r for r in c4_line_filter(df).collect()}
        assert len(rows) == 2
        assert rows[1].clean_text == "" and rows[2].clean_text == ""

    def test_pure_projection_no_shuffle(self, spark):
        from ocr_spark.operators.text_analysis import c4_line_filter

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = (
            c4_line_filter(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestBlockedWordsFilter:
    def test_token_match_not_substring(self, spark):
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame(
            [
                (1, "a perfectly fine document"),
                (2, "contains the Badword, with punctuation"),
                (3, "notbadword embedded does not match"),
            ],
            "doc_id bigint, text string",
        )
        kept = sorted(
            r.doc_id
            for r in blocked_words_filter(df, ["badword"]).collect()
        )
        assert kept == [1, 3]

    def test_empty_list_blocks_nothing_flag_variant(self, spark):
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        assert blocked_words_filter(df, []).count() == 1
        flagged = blocked_words_filter(df, [], keep_flag=True).collect()[0]
        assert flagged.has_blocked_word is False

    def test_pure_projection_no_join(self, spark):
        from ocr_spark.operators.text_analysis import blocked_words_filter

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = (
            blocked_words_filter(docs, ["slow", "vector"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan and "Exchange" not in plan

    def test_punctuated_entries_normalize_like_text(self, spark):
        """Real C4-style blocklist entries carry hyphens/punctuation; the
        r4 ADVICE finding was that only the TEXT was normalized, so such
        entries could never match any token."""
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame(
            [
                (1, "mentions face-sitting mid sentence"),
                (2, "mentions face sitting with a space"),
                (3, "facesitting as one glued word"),
                (4, "entirely clean prose"),
                (5, "surface sitting is a different phrase"),
            ],
            "doc_id bigint, text string",
        )
        kept = sorted(
            r.doc_id
            for r in blocked_words_filter(df, ["face-sitting"]).collect()
        )
        # hyphen normalizes to a space on both sides: matches the
        # hyphenated AND spaced forms as a whole-token phrase; never the
        # glued form or a phrase whose first token merely ENDS in "face"
        assert kept == [3, 4, 5]

    def test_multiword_phrase_matches_whole_tokens(self, spark):
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame(
            [
                (1, "click here to win big"),
                (2, "click elsewhere to win"),
                (3, "double-click here please"),
            ],
            "doc_id bigint, text string",
        )
        out = {
            r.doc_id: r.has_blocked_word
            for r in blocked_words_filter(
                df, ["Click here"], keep_flag=True
            ).collect()
        }
        # entry lowercased + tokenized; doc 3's "double-click here"
        # normalizes to "double click here" so the phrase IS present as
        # whole tokens there
        assert out == {1: True, 2: False, 3: True}

    def test_entry_vanishing_under_normalization_raises(self, spark):
        """A blocklist entry that normalizes to nothing would silently
        never match — the never-silent policy says raise."""
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="vanish"):
            blocked_words_filter(df, ["ok", "!!!"])

    def test_temp_norm_column_never_leaks(self, spark):
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame(
            [(1, "a b", "pre")], "doc_id bigint, text string, _bw_norm string"
        )
        out = blocked_words_filter(df, ["zz top"], keep_flag=True)
        assert out.columns == ["doc_id", "text", "_bw_norm", "has_blocked_word"]
        assert out.collect()[0]._bw_norm == "pre"


class TestChunkText:
    def test_coverage_and_overlap(self, spark):
        """Every token appears in >= 1 chunk; neighbours overlap by
        size - stride; last chunk may be short; round-trip with stride
        == size reconstructs the document."""
        from ocr_spark.operators.packing import chunk_text

        words = [f"w{i}" for i in range(100)]
        df = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id bigint, text string"
        )
        rows = sorted(
            chunk_text(df, size=32, stride=24).collect(),
            key=lambda r: r.chunk_i,
        )
        assert [r.n_chunk_tok for r in rows] == [32, 32, 32, 28]
        # start positions advance by stride
        for j, r in enumerate(rows):
            got = r.chunk_text.split(" ")
            assert got == words[j * 24 : j * 24 + 32]
        # non-overlapping variant round-trips exactly
        nolap = sorted(
            chunk_text(df, size=32, stride=32).collect(),
            key=lambda r: r.chunk_i,
        )
        assert " ".join(r.chunk_text for r in nolap) == " ".join(words)

    def test_short_null_empty_docs(self, spark):
        from ocr_spark.operators.packing import chunk_text

        df = spark.createDataFrame(
            [(1, "just three words"), (2, None), (3, "")],
            "doc_id bigint, text string",
        )
        rows = chunk_text(df, size=8, stride=4).collect()
        assert len(rows) == 1  # NULL/empty docs yield zero chunks
        assert rows[0].doc_id == 1 and rows[0].n_chunk_tok == 3

    def test_pure_projection(self, spark):
        from ocr_spark.operators.packing import chunk_text

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        plan = (
            chunk_text(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Join" not in plan


class TestBlockedWordsPlanShape:
    def test_phrase_branch_single_normalize_pass(self, spark):
        """PushDownPredicates inlines a once-referenced alias into the
        filter predicate, so an exists()-lambda phrase check re-ran the
        two regexp_replace normalize passes over the whole document PER
        ENTRY per row (measured in the optimized plan — r5 review
        finding).  Pin the fixed shape: the normalize chain appears a
        constant number of times regardless of entry count, and no
        lambda wraps it."""
        from ocr_spark.operators.text_analysis import blocked_words_filter

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        entries = [f"bad phrase {i}" for i in range(40)] + ["solo"]
        plan = (
            blocked_words_filter(df, entries)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("regexp_replace") <= 4
        assert "lambdafunction" not in plan


class TestNullRowSemantics:
    """NULL text/url rows must not silently vanish or corrupt keys
    (r5 review findings; the bloom-module lesson generalized)."""

    def test_pack_sequences_keeps_null_text_docs(self, spark):
        from ocr_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [(0, "a b c"), (1, None), (2, "d e")],
            "doc_id bigint, text string",
        )
        m = pack_sequences(df, seq_len=4).collect()
        # pre-fix the NULL doc vanished (sequence(NULL) explodes to zero
        # rows); now it occupies one empty token like text=''
        assert sorted({r.doc_id for r in m}) == [0, 1, 2]
        null_doc = [r for r in m if r.doc_id == 1]
        assert len(null_doc) == 1 and null_doc[0].n_tok == 1

    def test_filter_blocked_domains_keeps_null_url(self, spark):
        from ocr_spark.operators.urls import filter_blocked_domains

        df = spark.createDataFrame(
            [(None,), ("http://evil.com/x",), ("http://fine.com/y",)],
            "url string",
        )
        kept = [
            r.url for r in filter_blocked_domains(df, ["evil.com"]).collect()
        ]
        # NULL url = unparseable host = kept (pre-fix: three-valued
        # exists() silently dropped it regardless of the list)
        assert sorted(kept, key=str) == [None, "http://fine.com/y"]


class TestSplitsReservedColumns:
    def test_shard_corpus_refuses_colliding_columns(self, docs):
        from ocr_spark.operators.splits import shard_corpus

        sharded = shard_corpus(docs, 4)
        # re-sharding an already-sharded table without dropping shard/seq
        # would silently mis-join or emit ambiguous columns: raise
        with pytest.raises(ValueError, match="reserved"):
            shard_corpus(sharded, 8)
        # dropping the outputs makes it legal again
        shard_corpus(sharded.drop("shard", "seq"), 8).schema

    def test_token_budget_refuses_colliding_columns(self, docs):
        from ocr_spark.operators.splits import token_budget_sample

        bad = docs.withColumn("_h", F.lit(1))
        with pytest.raises(ValueError, match="reserved"):
            token_budget_sample(bad, {"web": 100})


class TestThirdPassGuards:
    """Round-5 third review pass: zero-evidence language calls, NULL
    digests, bands arithmetic, empty-model scores."""

    def test_language_id_zero_votes_is_und_not_en(self, spark):
        from ocr_spark.operators.text_analysis import language_id

        df = spark.createDataFrame(
            [
                (1, "ciao mondo come stai oggi"),   # no profile stopwords
                (2, "the cat sat on the mat"),       # clearly en
                (3, ""),                             # empty
            ],
            "doc_id bigint, text string",
        )
        got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
        # pre-fix: zero votes tied at 0 and the argmax chain called
        # everything 'en' (the first profile)
        assert got == {1: "und", 2: "en", 3: "und"}

    def test_exact_dedup_null_text_equals_empty(self, spark):
        from ocr_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, None), (4, "real")],
            "doc_id bigint, text string",
        )
        rows = {r.digest: r for r in exact_dedup(df).collect()}
        assert len(rows) == 2  # {null≡empty, real}
        empty_group = [r for r in rows.values() if r.n_copies == 3]
        assert len(empty_group) == 1
        assert empty_group[0].representative == 1
        assert all(r.digest is not None for r in rows.values())

    def test_line_dedup_keeps_null_text_doc(self, spark):
        from ocr_spark.operators.dedup import corpus_line_dedup

        df = spark.createDataFrame(
            [(1, "a real line that is long enough\nsecond line here ok"),
             (2, None)],
            "doc_id bigint, text string",
        )
        got = {r.doc_id: r for r in corpus_line_dedup(df).collect()}
        # pre-fix doc 2 vanished (posexplode of NULL emits zero rows) and
        # curate_job's inner join dropped it from the corpus
        assert set(got) == {1, 2}
        assert got[2].clean_text == "" and got[2].n_lines == 1

    def test_lsh_bands_must_divide_num_perm(self, docs):
        from ocr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(docs, num_perm=8)
        for bad in (16, 3, 0):
            with pytest.raises(ValueError, match="evenly divide"):
                lsh_candidate_pairs(sigs, num_perm=8, bands=bad)

    def test_lm_score_empty_counts_scores_zero_not_null(self, spark):
        from ocr_spark.operators.lm import lm_score, unigram_counts

        docs = spark.createDataFrame(
            [(1, "some words here")], "doc_id bigint, text string"
        )
        empty_ref = spark.createDataFrame([], "doc_id bigint, text string")
        r = lm_score(docs, unigram_counts(empty_ref)).collect()[0]
        # smoothed uniform: every token scores ln((0+1)/(0+0+1)) = 0
        assert r.mean_logprob == 0.0

    def test_pii_null_text_zero_counts(self, spark):
        from ocr_spark.operators.pii import pii_document_flags

        df = spark.createDataFrame([(1, None)], "doc_id bigint, text string")
        r = pii_document_flags(df).collect()[0]
        assert (r.n_emails, r.n_ips, r.n_phones) == (0, 0, 0)
        assert r.clean_text == "" and r.pii_drop is False

    def test_cap_per_domain_preserves_user_domain_column(self, spark):
        from ocr_spark.operators.text_analysis import cap_per_domain

        df = spark.createDataFrame(
            [(i, f"https://h{i % 2}.com/p{i}", "keepme")
             for i in range(6)],
            "doc_id bigint, url string, _domain string",
        )
        out = cap_per_domain(df, 2)
        assert "_domain" in out.columns
        rows = out.collect()
        assert len(rows) == 4  # 2 per host
        assert all(r._domain == "keepme" for r in rows)

    def test_incremental_near_dedup_short_doc_passthrough(self, spark):
        """Documents shorter than n words have no shingles and pass the
        NEAR layer untouched (documented contract) — the exact layer is
        the one that catches short re-captures."""
        from ocr_spark.operators.bloom import incremental_dedup
        from ocr_spark.operators.dedup import incremental_near_dedup

        old = spark.createDataFrame(
            [(1, "hi there")], "doc_id bigint, text string"
        )
        new = spark.createDataFrame(
            [(2, "hi there")], "doc_id bigint, text string"
        )
        assert incremental_near_dedup(new, old).count() == 1  # passes near
        assert incremental_dedup(new, old).count() == 0       # exact drops


class TestSemDeDup:
    """similarity.semdedup_pairs / semdedup_corpus — the cluster-scoped
    semantic dedup pipeline (SemDeDup, arXiv 2303.09540)."""

    @pytest.fixture(scope="class")
    def cents(self, embs):
        from ocr_spark.operators.similarity import train_centroids

        return train_centroids(embs, n_centroids=4, iters=1)

    def test_pairs_are_within_cell_threshold_pairs(self, embs, cents):
        """Differential: the operator's pair set is EXACTLY the same-cell
        subset of the brute-force all-pairs-≥-threshold set."""
        from ocr_spark.operators.similarity import (
            assign_cells,
            semdedup_pairs,
        )

        thr = 0.35
        got = {
            (r.doc_a, r.doc_b): (r.cell, r.cos)
            for r in semdedup_pairs(embs, cents, threshold=thr).collect()
        }
        cell_of = {
            r.vec_id: r.cell for r in assign_cells(embs, cents).collect()
        }
        rows = embs.select("vec_id", "embedding").collect()
        vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        ids = sorted(vecs)
        want = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if cell_of[a] == cell_of[b]:
                    c = cos(vecs[a], vecs[b])
                    if c >= thr:
                        want[(a, b)] = (cell_of[a], c)
        assert set(got) == set(want)
        assert want, "threshold too high — differential is vacuous"
        for k, (cell, c) in want.items():
            assert got[k][0] == cell
            assert got[k][1] == pytest.approx(c, abs=1e-9)

    def test_corpus_keeps_one_rep_per_transitive_group(self, spark, embs):
        """Three planted copies of one vector (A~B, B~C via identical
        embeddings) collapse to the min-id representative even though
        every pair is only reachable transitively through the closure."""
        from ocr_spark.operators.similarity import semdedup_corpus

        base = embs.filter(F.col("vec_id") == 0).select("embedding")
        copies = (
            spark.range(3)
            .withColumn("vec_id", F.col("id") + 900000)
            .crossJoin(base)
            .select("vec_id", "embedding")
        )
        corpus = embs.select("vec_id", "embedding").unionByName(copies)
        kept = {
            r.vec_id
            for r in semdedup_corpus(
                corpus, n_centroids=4, train_iters=1, threshold=0.999
            ).collect()
        }
        # vec 0 and its three copies are mutual near-dups: min id (0) kept
        assert 0 in kept
        assert kept.isdisjoint({900000, 900001, 900002})
        # nothing else in the testdata reaches cos 0.999 — all others kept
        assert len(kept) == embs.count() - 0 + 0 + 1 - 1  # = embs.count()

    def test_corpus_identity_when_no_pairs(self, embs):
        from ocr_spark.operators.similarity import semdedup_corpus

        out = semdedup_corpus(
            embs, n_centroids=4, train_iters=1, threshold=0.9999
        )
        assert out.count() == embs.count()

    def test_max_cell_cap_with_audit(self, spark):
        """A degenerate constant-embedding corpus lands in one mega-cell;
        the opt-in cap excludes it (no quadratic pair set) and the audit
        view reports exactly that cell — never silent."""
        from ocr_spark.operators.similarity import (
            assign_cells,
            semdedup_hot_cells,
            semdedup_pairs,
            train_centroids,
        )

        n = 300
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr("array(1.0D, 0.0D, 0.0D, 0.0D)").alias("embedding"),
        )
        cents = train_centroids(df, n_centroids=2, iters=1)
        cells = assign_cells(df, cents).persist()
        try:
            uncapped = semdedup_pairs(cells=cells, threshold=0.5)
            assert uncapped.count() == n * (n - 1) // 2
            capped = semdedup_pairs(cells=cells, threshold=0.5, max_cell=100)
            assert capped.count() == 0
            audit = semdedup_hot_cells(cells=cells, max_cell=100).collect()
            assert len(audit) == 1 and audit[0].n_docs == n
        finally:
            cells.unpersist()

    def test_shared_cells_frame_guards(self, embs, cents):
        from ocr_spark.operators.similarity import (
            assign_cells,
            semdedup_pairs,
            train_centroids,
        )

        cells = assign_cells(embs, cents)
        other = train_centroids(embs, n_centroids=2, iters=1)
        with pytest.raises(ValueError, match="centroids"):
            semdedup_pairs(cells=cells, cents=other)
        with pytest.raises(ValueError, match="lacks columns"):
            semdedup_pairs(cells=cells.drop("embedding"))
        with pytest.raises(ValueError, match="pass"):
            semdedup_pairs(threshold=0.5)

    def test_zero_norm_vector_never_pairs(self, spark):
        from ocr_spark.operators.similarity import (
            semdedup_pairs,
            train_centroids,
        )

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        cents = train_centroids(df, n_centroids=1, iters=0)
        rows = semdedup_pairs(df, cents, threshold=0.5).collect()
        # the zero vector's cosine is defined to 0 (no NaN poisoning the
        # filter); only the two real unit vectors pair
        assert {(r.doc_a, r.doc_b) for r in rows} == {(0, 2)}


class TestPrototypePrune:
    """similarity.prototype_scores / prototype_prune — D4 stage two
    (Sorscher et al. 2022 prototype pruning after SemDeDup)."""

    @pytest.fixture(scope="class")
    def cents(self, embs):
        from ocr_spark.operators.similarity import train_centroids

        return train_centroids(embs, n_centroids=4, iters=1)

    def test_pandas_paths_refuse_nan_elements(self, spark):
        """Arrow coerces a NULL element to NaN; the pandas worker must
        refuse it loudly (the literal expression silently lands such
        rows in the lowest cid — review finding, pinned)."""
        from ocr_spark.operators.similarity import (
            prototype_scores,
            train_centroids,
        )

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.0, None])],
            "vec_id long, embedding array<double>",
        )
        cents = train_centroids(df.filter("vec_id = 0"), n_centroids=1,
                                iters=0)
        with pytest.raises(Exception, match="NaN|PythonException"):
            prototype_scores(df, cents, strategy="pandas").collect()

    def test_scores_match_assignment_and_bruteforce_cos(self, embs, cents):
        """Differential: cell == assign_cells' cell for every row, and
        proto_cos == the brute-force max cosine over the centroids."""
        from ocr_spark.operators.similarity import (
            assign_cells,
            prototype_scores,
        )

        got = {
            r.vec_id: (r.cell, r.proto_cos)
            for r in prototype_scores(embs, cents).collect()
        }
        cell_of = {
            r.vec_id: r.cell for r in assign_cells(embs, cents).collect()
        }
        vecs = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in embs.select("vec_id", "embedding").collect()
        }

        def cos(a, b):
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            if na == 0 or nb == 0:
                return 0.0
            return sum(x * y for x, y in zip(a, b)) / (na * nb)

        assert set(got) == set(vecs)
        for vid, (cell, pc) in got.items():
            assert cell == cell_of[vid]
            want = max(cos(vecs[vid], cvec) for _, cvec in cents)
            assert pc == pytest.approx(want, abs=1e-9)

    def test_scores_plan_is_shuffle_free(self, embs, cents):
        from ocr_spark.operators.similarity import prototype_scores

        plan = (
            prototype_scores(embs, cents)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_prune_drops_exact_per_cell_counts(self, embs, cents):
        """floor(frac·n) most-prototypical rows dropped per cell; the
        survivors are exactly the rank > floor(frac·n) tail."""
        from ocr_spark.operators.similarity import (
            prototype_prune,
            prototype_scores,
        )

        frac = 0.5
        scored = prototype_scores(embs, cents).collect()
        by_cell: dict[int, list] = {}
        for r in scored:
            by_cell.setdefault(r.cell, []).append(r)
        want = set()
        for cell, rows in by_cell.items():
            rows.sort(key=lambda r: (-r.proto_cos, r.vec_id))
            k = int(frac * len(rows))
            want |= {r.vec_id for r in rows[k:]}
        got = {
            r.vec_id
            for r in prototype_prune(embs, cents, prune_fraction=frac).collect()
        }
        assert got == want
        # survivors carry the audit columns
        out = prototype_prune(embs, cents, prune_fraction=frac)
        assert {"cell", "proto_cos", "proto_rank", "cell_n"} <= set(out.columns)

    def test_prune_fraction_zero_keeps_all_and_singletons_survive(
        self, spark, embs, cents
    ):
        from ocr_spark.operators.similarity import prototype_prune

        assert (
            prototype_prune(embs, cents, prune_fraction=0.0).count()
            == embs.count()
        )
        # a singleton cell loses nothing at fraction < 1
        one = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        from ocr_spark.operators.similarity import train_centroids

        c2 = train_centroids(one, n_centroids=2, iters=0)
        assert prototype_prune(one, c2, prune_fraction=0.9).count() == 2

    def test_partition_invariance(self, embs, cents):
        from ocr_spark.operators.similarity import prototype_prune

        a = {
            r.vec_id
            for r in prototype_prune(embs, cents, prune_fraction=0.5).collect()
        }
        b = {
            r.vec_id
            for r in prototype_prune(
                embs.repartition(13), cents, prune_fraction=0.5
            ).collect()
        }
        assert a == b

    def test_max_cell_exempts_hot_cell_conservatively(self, spark):
        """A constant-embedding mega-cell above the cap is KEPT wholesale
        (a cap must never widen what gets dropped) and the shared scored
        frame feeds the hot-cell audit."""
        from ocr_spark.operators.similarity import (
            prototype_prune,
            prototype_scores,
            semdedup_hot_cells,
            train_centroids,
        )

        n = 200
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr("array(1.0D, 0.0D)").alias("embedding"),
        )
        cents = train_centroids(df, n_centroids=2, iters=1)
        scored = prototype_scores(df, cents).persist()
        try:
            pruned = prototype_prune(
                df, cents, prune_fraction=0.5, scored=scored
            )
            assert pruned.count() == n // 2
            exempt = prototype_prune(
                df, cents, prune_fraction=0.5, scored=scored, max_cell=100
            )
            assert exempt.count() == n
            audit = semdedup_hot_cells(cells=scored, max_cell=100).collect()
            assert len(audit) == 1 and audit[0].n_docs == n
        finally:
            scored.unpersist()

    def test_pandas_strategy_parity_and_guards(self, spark, embs, cents):
        """The Arrow/NumPy scoring strategy (the large-k path — the
        literal argmax is HOF-interpreted, never codegen'd, measured 8×
        slower at k=256) assigns the SAME cells as the bit-exact fold
        path, cosines within 1 ulp; malformed vectors raise loudly."""
        from ocr_spark.operators.similarity import (
            prototype_prune,
            prototype_scores,
            _check_cells,
        )

        lit = {
            r.vec_id: (r.cell, r.proto_cos)
            for r in prototype_scores(
                embs, cents, strategy="literal"
            ).collect()
        }
        pdx = {
            r.vec_id: (r.cell, r.proto_cos)
            for r in prototype_scores(
                embs, cents, strategy="pandas"
            ).collect()
        }
        assert set(lit) == set(pdx)
        for k in lit:
            assert lit[k][0] == pdx[k][0]
            assert pdx[k][1] == pytest.approx(lit[k][1], abs=1e-12)
        # the cell metadata contract survives the mapInPandas schema
        _check_cells(
            prototype_scores(embs, cents, strategy="pandas"),
            "vec_id", "embedding", len(cents),
        )
        # prune survivors identical under either strategy
        a = {
            r.vec_id
            for r in prototype_prune(
                embs, cents, prune_fraction=0.5, strategy="literal"
            ).collect()
        }
        b = {
            r.vec_id
            for r in prototype_prune(
                embs, cents, prune_fraction=0.5, strategy="pandas"
            ).collect()
        }
        assert a == b
        with pytest.raises(ValueError, match="strategy"):
            prototype_scores(embs, cents, strategy="numpy")
        # NULL / wrong-dim vectors fail loudly inside the worker
        bad = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, None)],
            "vec_id long, embedding array<double>",
        )
        from ocr_spark.operators.similarity import train_centroids

        c2 = train_centroids(bad.filter("vec_id = 0"), n_centroids=1,
                             iters=0)
        with pytest.raises(Exception, match="NULL|PythonException"):
            prototype_scores(bad, c2, strategy="pandas").collect()

    def test_stale_superset_scored_frame_ranks_current_members(
        self, spark
    ):
        """A shared scored frame computed BEFORE a dedup stage removed
        rows must rank over df's CURRENT members — stale rows would
        inflate floor(frac·n) past the survivors and silently drop an
        entire cell (review finding, pinned).  And a df row the frame
        cannot score raises instead of vanishing through the join."""
        from ocr_spark.operators.similarity import (
            prototype_prune,
            prototype_scores,
            train_centroids,
        )

        # one cell of 10 collinear vectors: proto_cos identical, so the
        # rank order is by id and floor(0.5*n) semantics are transparent
        df = spark.range(10).select(
            F.col("id").alias("vec_id"),
            F.expr("array(CAST(id + 1 AS DOUBLE), 0D)").alias("embedding"),
        )
        cents = train_centroids(df, n_centroids=1, iters=0)
        scored = prototype_scores(df, cents)
        survivors = df.filter(F.col("vec_id") >= 5)  # "dedup" took 0-4
        kept = prototype_prune(
            survivors, cents, prune_fraction=0.5, scored=scored
        )
        # 5 current members -> drop floor(2.5)=2, keep 3 (stale ranking
        # over all 10 would drop 5 and keep ZERO)
        assert kept.count() == 3
        with pytest.raises(ValueError, match="absent from the scored"):
            prototype_prune(
                df, cents, prune_fraction=0.5,
                scored=scored.filter(F.col("vec_id") < 8),
            )

    def test_guards(self, embs, cents):
        from ocr_spark.operators.similarity import (
            assign_cells,
            prototype_prune,
            train_centroids,
        )

        with pytest.raises(ValueError, match="prune_fraction"):
            prototype_prune(embs, cents, prune_fraction=1.0)
        with pytest.raises(ValueError, match="reserved output"):
            prototype_prune(
                embs.withColumn("cell", F.lit(1)), cents
            )
        with pytest.raises(ValueError, match="pass cents"):
            prototype_prune(embs)
        # an assign_cells frame has no score column — refused loudly
        with pytest.raises(ValueError, match="proto_cos"):
            prototype_prune(
                embs, cents, scored=assign_cells(embs, cents)
            )
        # mismatched geometry refused via the shared cell metadata
        from ocr_spark.operators.similarity import prototype_scores

        other = train_centroids(embs, n_centroids=2, iters=1)
        with pytest.raises(ValueError, match="centroids"):
            prototype_prune(
                embs, cents, scored=prototype_scores(embs, other)
            )
        # the metadata the refusal reads survives a shared frame's
        # persist-and-select lifecycle
        shared = prototype_scores(embs, other).persist()
        try:
            with pytest.raises(ValueError, match="n_cents=2"):
                prototype_prune(
                    embs, cents, scored=shared.select(*shared.columns)
                )
        finally:
            shared.unpersist()


def _removed_lines(texts, rows):
    """``{line: {doc ids}}`` of the input lines missing from each filtered
    row's ``clean_text``; checks that ``n_lines - n_lines_kept`` counts
    them and that no removed line survives anywhere in its document."""
    removed = {}
    for r in rows:
        lines = (texts[r.doc_id] or "").split("\n")
        kept = r.clean_text.split("\n")
        gone = [line for line in lines if line not in kept]
        assert (r.n_lines, r.n_lines - r.n_lines_kept) == (
            len(lines), len(gone)
        ), r
        for line in gone:
            removed.setdefault(line, set()).add(r.doc_id)
    return removed


class TestBoilerplateFilter:
    """corpus_boilerplate_filter removes ALL occurrences of high-document-
    frequency lines (vs corpus_line_dedup's keep-one winner), and its own
    ``clean_text`` / ``n_lines_kept`` outputs are the audit of what it
    removed."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        footer = "subscribe to our newsletter today"
        return spark.createDataFrame(
            [
                (1, f"unique prose of document one\n{footer}\nok"),
                (2, f"document two distinct body\n{footer}\nok"),
                (3, f"third document text here\n{footer}\nok\nshared tail line"),
                (4, "fourth document only prose\nshared tail line"),
                (5, None),
            ],
            "doc_id long, text string",
        )

    def test_removes_every_occurrence(self, spark, corpus):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        got = {
            r.doc_id: r
            for r in corpus_boilerplate_filter(corpus, min_docs=2).collect()
        }
        # the footer is gone from ALL three docs — no first-winner kept
        assert got[1].clean_text == "unique prose of document one\nok"
        assert got[2].clean_text == "document two distinct body\nok"
        # DF=2 lines removed too; DF=1 lines kept
        assert got[3].clean_text == "third document text here\nok"
        assert got[4].clean_text == "fourth document only prose"
        # NULL text → one empty (short, NULL-digest) line, kept
        assert got[5].clean_text == "" and got[5].n_lines_kept == 1
        assert (got[3].n_lines, got[3].n_lines_kept) == (4, 2)

    def test_short_lines_never_participate(self, spark, corpus):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        got = {
            r.doc_id: r.clean_text
            for r in corpus_boilerplate_filter(corpus, min_docs=2).collect()
        }
        # "ok" is in 3 docs but < min_line_chars — never removed
        assert all("ok" in got[d] for d in (1, 2, 3))

    def test_within_doc_repeats_are_not_boilerplate(self, spark):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        line = "repeated inside one document only"
        df = spark.createDataFrame(
            [(1, f"{line}\n{line}\n{line}"), (2, "other content entirely")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in corpus_boilerplate_filter(df, min_docs=2).collect()
        }
        # document frequency is DISTINCT docs: 3 occurrences in one doc = 1
        assert got[1].n_lines_kept == 3

    def test_report_is_the_filters_audit(self, spark, corpus):
        """The lines the filter removed, read off its own outputs, are
        exactly the lines in two or more documents, each gone from every
        document that had it."""
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        texts = {r.doc_id: r.text for r in corpus.collect()}
        rows = corpus_boilerplate_filter(corpus, min_docs=2).collect()
        assert _removed_lines(texts, rows) == {
            "subscribe to our newsletter today": {1, 2, 3},
            "shared tail line": {3, 4},
        }

    def test_scope_col_counts_within_scope(self, spark):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        nav = "home products about contact"
        df = spark.createDataFrame(
            [
                (1, "a.com", f"{nav}\nalpha site page one"),
                (2, "a.com", f"{nav}\nalpha site page two"),
                (3, "b.com", f"{nav}\nbeta site single page"),
            ],
            "doc_id long, domain string, text string",
        )
        rows = corpus_boilerplate_filter(
            df, min_docs=2, scope_col="domain"
        ).collect()
        got = {r.doc_id: r.clean_text for r in rows}
        # nav repeats WITHIN a.com → removed there; b.com has it once → kept
        assert got[1] == "alpha site page one"
        assert got[2] == "alpha site page two"
        assert got[3] == f"{nav}\nbeta site single page"
        texts = {r.doc_id: r.text for r in df.collect()}
        assert _removed_lines(texts, rows) == {nav: {1, 2}}

    def test_partitioning_invariant(self, spark, docs):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        base = docs.select("doc_id", "text").limit(50)
        dup = base.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        corpus = base.unionByName(dup)
        a = sorted(map(tuple, corpus_boilerplate_filter(corpus).collect()))
        b = sorted(
            map(
                tuple,
                corpus_boilerplate_filter(corpus.repartition(13)).collect(),
            )
        )
        assert a == b
        # duplicated docs lose their eligible lines in BOTH copies
        by_id = {r[0]: r for r in a}
        for r in a:
            if r[0] >= 500000:
                assert by_id[r[0] - 500000][1] == r[1]

    def test_validation(self, spark, corpus):
        from ocr_spark.operators.dedup import corpus_boilerplate_filter

        with pytest.raises(ValueError, match="min_docs"):
            corpus_boilerplate_filter(corpus, min_docs=0)
        with pytest.raises(ValueError, match="delimiter"):
            corpus_boilerplate_filter(corpus, delimiter=".")
