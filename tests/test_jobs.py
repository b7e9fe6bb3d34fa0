"""spark-submit entrypoints (jobs/): run as real subprocesses — the
deployment surface a cluster operator actually invokes (`python job.py`
locally ≡ `spark-submit job.py` with --py-files on a cluster)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _run(args):
    out = subprocess.run(
        [sys.executable, *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def extracted_dir(spark, tmp_path_factory):
    from ocr_spark.fixtures import make_doc, write_pages_parquet
    from ocr_spark.oracle import extract_document

    base = tmp_path_factory.mktemp("jobs")
    pages = base / "pages.parquet"
    write_pages_parquet(pages, 30)
    out = base / "extracted"
    summary = _run(
        [
            "jobs/extract_job.py",
            "--input", str(pages),
            "--output", str(out),
        ]
    )
    assert summary["docs_attempted_this_pass"] == 30
    assert summary["docs_in_output"] == 30
    # cap-audit / guard totals always appear in the final JSON line —
    # the never-silent policy must survive operators who don't read docs
    assert summary["truncated_pages_total"] == 0
    assert summary["failed_docs"] == 0
    # the north star's pages, ocr-vs-native ratio and failure codes
    golden = [extract_document(d["html"], d["lang"])
              for d in map(make_doc, range(30))]
    assert summary["pages"] == sum(g["n_pages"] for g in golden)
    assert summary["ocr_pages"] == sum(g["ocr_pages"] for g in golden)
    assert 0 < summary["ocr_pages"] < summary["pages"]
    assert summary["failure_codes"] == []
    return out


class TestJobs:
    def test_extract_job_resume_is_noop(self, extracted_dir, tmp_path):
        # second pass over the same output: everything already COMPLETED
        summary = _run(
            [
                "jobs/extract_job.py",
                "--input", str(extracted_dir.parent / "pages.parquet"),
                "--output", str(extracted_dir),
            ]
        )
        assert summary["docs_attempted_this_pass"] == 0
        assert summary["docs_in_output"] == 30

    def test_extract_job_surfaces_guard_hits(self, tmp_path):
        """A giant HTML document cut by the decode guards must surface as
        a nonzero truncated_pages_total in the job's final JSON line —
        the never-silent policy at the deployment surface."""
        from ocr_spark import htmlpage
        from ocr_spark.fixtures import generate_html_rows, write_rows_parquet

        rows = generate_html_rows(3)
        block = "<p>" + "word " * 120 + "</p>"
        giant = "<html><body>" + block * 8000 + "</body></html>"
        assert len(giant) > htmlpage.MAX_HTML_BYTES
        rows[0]["html"] = giant.encode()
        pages = tmp_path / "giant_pages.parquet"
        write_rows_parquet(pages, rows)
        out = tmp_path / "extracted_giant"
        summary = _run(
            [
                "jobs/extract_job.py",
                "--input", str(pages),
                "--output", str(out),
            ]
        )
        assert summary["docs_in_output"] == 3
        assert summary["truncated_pages_total"] >= 1
        assert summary["failed_docs"] == 0

    @pytest.mark.parametrize("fmt", ["warc", "warc-stream"])
    def test_extract_job_warc_format(self, tmp_path, fmt):
        """--format warc / warc-stream: a directory of crawl archives
        runs the same resumable extraction, and torn-record totals reach
        the job's final JSON line (never-silent at the deployment
        surface) — identically under the fused and the bounded-memory
        streaming reader."""
        from ocr_spark.fixtures import make_doc, make_html_doc
        from ocr_spark.warc import build_record, build_warc

        d = tmp_path / "crawl"
        d.mkdir()
        recs = [
            build_record(
                f"http://crawl.test/{k}",
                "2025-01-01T00:00:00Z",
                (make_doc if k % 2 else make_html_doc)(k)["html"],
            )
            for k in range(4)
        ]
        (d / "a.warc.gz").write_bytes(build_warc(recs[:2]))
        torn = build_record(
            "http://crawl.test/torn", "2025-01-01T00:00:00Z", b"x" * 80
        )[:-40]
        (d / "b.warc.gz").write_bytes(
            build_warc(recs[2:]) + build_warc([torn])
        )
        out = tmp_path / "extracted_warc"
        summary = _run(
            [
                "jobs/extract_job.py",
                "--input", str(d),
                "--format", fmt,
                "--output", str(out),
            ]
        )
        assert summary["warc_files"] == 2
        assert summary["warc_errors_total"] == 1
        assert summary["docs_attempted_this_pass"] == 4
        assert summary["docs_in_output"] == 4
        assert summary["failed_docs"] == 0

    def test_extract_job_warc_duplicate_captures_newest_wins(
        self, tmp_path
    ):
        """Two captures of one url in a raw crawl batch must not MERGE
        into a single corrupted document at the assembly groupBy (r5
        review finding): the job defaults to a newest-capture pick and
        reports the capture volume it saw."""
        from ocr_spark.fixtures import make_html_doc
        from ocr_spark.warc import build_record, build_warc

        d = tmp_path / "crawl"
        d.mkdir()
        html_a = make_html_doc(0)["html"]
        html_b = make_html_doc(5)["html"]  # different content, same url
        url = "http://crawl.test/revisit"
        (d / "a.warc.gz").write_bytes(
            build_warc([build_record(url, "2025-01-01T00:00:00Z", html_a)])
        )
        (d / "b.warc.gz").write_bytes(
            build_warc([build_record(url, "2025-02-01T00:00:00Z", html_b)])
        )
        out = tmp_path / "extracted_revisit"
        summary = _run(
            [
                "jobs/extract_job.py",
                "--input", str(d),
                "--format", "warc",
                "--output", str(out),
            ]
        )
        assert summary["warc_captures_seen"] == 2
        assert summary["docs_attempted_this_pass"] == 1
        assert summary["docs_in_output"] == 1
        assert summary["warc_files_listed"] == 2
        # the committed text is the NEWEST capture's extraction
        import duckdb

        got = duckdb.sql(
            f"SELECT text, n_pages FROM read_parquet('{out}/**/*.parquet', "
            "hive_partitioning=1)"
        ).fetchall()
        assert len(got) == 1
        from ocr_spark.oracle import extract_document

        want = extract_document(html_b, "en")["text"]
        assert got[0][0] == want
        assert got[0][1] == 1  # never the merged 2-page corruption

    def test_curate_job_full_chain(self, extracted_dir, tmp_path):
        blocklist = tmp_path / "blocked.txt"
        blocklist.write_text("blocked.example\n")
        import pyarrow as pa
        import pyarrow.parquet as pq_w

        ref = tmp_path / "edu_ref.parquet"
        pq_w.write_table(
            pa.table(
                {
                    "text": [
                        "the study of science and careful analysis",
                        "education research methods and learning outcomes",
                    ]
                }
            ),
            ref,
        )
        out = tmp_path / "curated"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--latest-capture",
                "--blocklist", str(blocklist),
                "--lang", "en",
                "--gopher",
                "--c4-hard-drops",
                "--incremental-ref", str(ref),
                "--near-dup-ref", str(ref),
                "--near-dup",
                "--max-per-domain", "50",
                "--boilerplate", "2",
                "--line-dedup",
                "--span-dedup", "20",
                "--lm-head", "0.95",
                "--classifier-ref", str(ref),
                "--classifier-head", "0.9",
                "--decontam-ref", str(ref),
                "--decontam-ngram", "5",
                "--pii",
                "--split", "train=0.9,val=0.05,test=0.05",
            ]
        )
        assert summary["input_docs"] == 30
        assert summary["input_truncated_pages"] == 0  # guard total surfaced
        # revisit dedup ran; fixture urls are unique so nothing is removed
        # (winner semantics are oracle-checked by dedup_latest_capture)
        assert summary["after_latest_capture"] == 30
        assert summary["after_lang"] > 0  # language filter ran (en survives)
        assert summary["lsh_capped_buckets"] == 0  # audit always reported
        # incremental dedup ran; the edu ref shares no exact content with
        # the synthetic corpus so nothing is removed (removal semantics
        # are oracle-checked by dedup_incremental)
        assert summary["after_incremental"] == summary["after_exact_dedup"]
        # near-dup-ref ran; the edu ref shares no minhash band keys with
        # the synthetic corpus (semantics oracle-checked by
        # dedup_incremental_near)
        assert summary["after_incremental_near"] == summary["after_incremental"]
        assert "dup_clusters" in summary  # cluster-aware near-dup ran
        assert summary["after_domain_cap"] > 0
        assert "boilerplate_lines_removed" in summary  # boilerplate ran
        assert "dup_span_tokens_removed" in summary  # span dedup ran
        assert summary["lm_threshold"] < 0  # LM cut reported, never silent
        assert summary["after_lm_head"] > 0
        assert "classifier_threshold" in summary  # cut reported, never silent
        assert summary["after_classifier_head"] > 0
        # decontamination ran; the edu ref shares no 5-grams with the
        # synthetic corpus so nothing is removed (removal semantics are
        # oracle-checked by decontam_overlap / decontam_clean_corpus)
        assert summary["after_decontam"] == summary["after_classifier_head"]
        assert summary["output_docs"] > 0
        # the curated table is readable and split-labeled
        import pyarrow.parquet as pq

        cols = set(pq.read_schema(next(out.glob("*.parquet"))).names)
        assert {"doc_id", "url", "text", "split"} <= cols
        # per-stage wall-times: one entry per enabled stage + the write
        # (the cost attribution a capacity planner reads off the summary)
        st = summary["stage_seconds"]
        for k in ("latest_capture", "input_scan", "blocklist", "lang",
                  "quality", "exact_dedup", "incremental",
                  "incremental_near", "near_dup", "domain_cap",
                  "boilerplate", "line_dedup", "span_dedup", "lm_head",
                  "classifier_head", "decontam", "write"):
            assert k in st and st[k] >= 0, k

    def test_curate_job_latest_capture_same_url_revisits(self, tmp_path):
        """Crawl revisits of the SAME url — the case a revisit dedup
        exists for.  Every url is captured three times with distinct
        timestamps; exactly the newest capture's text must survive, and
        the surviving doc_ids must be unique (duplicate doc_ids would
        corrupt every later id-keyed stage: exact-dedup reps, LSH pair
        graph, splits)."""
        import pyarrow as pa
        import pyarrow.parquet as pq_w

        urls, texts, tss = [], [], []
        for i in range(4):
            for cap in range(3):
                urls.append(f"https://rev.example/page{i}")
                texts.append(
                    f"capture {cap} of page {i} " + "word " * 30
                )
                tss.append(1_600_000_000 + cap * 1000 + i)
        urls.append("https://rev.example/unique")
        texts.append("the only capture of this page " + "word " * 30)
        tss.append(1_600_000_000)
        src = tmp_path / "revisits.parquet"
        pq_w.write_table(
            pa.table({"url": urls, "text": texts, "warc_ts": tss}), src
        )
        out = tmp_path / "curated"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(src),
                "--output", str(out),
                "--latest-capture",
            ]
        )
        assert summary["after_latest_capture"] == 5
        assert summary["output_docs"] == 5
        import pyarrow.parquet as pq

        tbl = pq.read_table(out).to_pandas()
        assert tbl["doc_id"].is_unique
        # the NEWEST capture (cap=2) won for every revisited url
        revisited = tbl[tbl.url.str.contains("page")]
        assert len(revisited) == 4
        assert all(t.startswith("capture 2 ") for t in revisited["text"])

    def test_curate_job_line_filter_and_word_blocklist(self, tmp_path):
        """The C4 line/word stages: lines without terminal punctuation are
        removed (docs emptied by it are dropped, counts reported) and
        blocked-word docs are dropped."""
        import pyarrow as pa
        import pyarrow.parquet as pq_w

        src = tmp_path / "docs_in"
        src.mkdir()
        pq_w.write_table(
            pa.table(
                {
                    "url": [
                        "https://a.example.com/1",
                        "https://a.example.com/2",
                        "https://a.example.com/3",
                    ],
                    "text": [
                        "good first line stays.\nbad line no punct\n"
                        "another keeper line here!",
                        "all lines lack punctuation\nso this doc dies",
                        "contains a Blockedword, so it is dropped first.",
                    ],
                }
            ),
            src / "part.parquet",
        )
        wl = tmp_path / "words.txt"
        wl.write_text("blockedword\n")
        out = tmp_path / "curated"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(src),
                "--output", str(out),
                "--word-blocklist", str(wl),
                "--c4-line-filter",
            ]
        )
        assert summary["after_word_blocklist"] == 2
        assert summary["after_c4_line_filter"] == 1
        assert summary["c4_lines_removed"] == 3  # 1 from doc1 + 2 from doc2
        assert summary["output_docs"] == 1

    def test_curate_job_sharded_export(self, extracted_dir, tmp_path):
        """--shards writes one hash-shuffled directory per shard with the
        deterministic within-shard rank column (the training-export
        layout; rank semantics oracle-checked by corpus_shard)."""
        out = tmp_path / "sharded"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--shards", "4",
            ]
        )
        assert summary["shards"] == 4
        dirs = sorted(p.name for p in out.glob("shard=*"))
        assert len(dirs) > 0 and all(d.startswith("shard=") for d in dirs)
        import pyarrow.parquet as pq

        seqs = []
        for d in sorted(out.glob("shard=*")):
            t = pq.read_table(d)
            s = t.column("seq").to_pylist()
            assert s == sorted(s)  # shard files are rank-ordered
            assert s[0] == 0 and s[-1] == len(s) - 1  # dense rank
            seqs.append(len(s))
        assert sum(seqs) == summary["output_docs"]

    def test_curate_job_d4_semdedup_and_prototype(
        self, extracted_dir, tmp_path
    ):
        """--semdedup + --prototype compose the D4 pipeline over hashed
        embeddings: stage two ranks the stage-one SURVIVORS, drops
        floor(frac·n) per cell, and both stage keys + wall-times appear
        in the summary (pruning semantics oracle-checked by
        sim_prototype_prune; pair/closure semantics by
        sim_semdedup_pairs / sim_semdedup_corpus)."""
        out = tmp_path / "d4"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--semdedup", "0.999",
                "--prototype", "0.25",
                "--n-clusters", "4",
                "--max-cell", "1000",
            ]
        )
        n0 = summary["after_exact_dedup"]
        # cos 0.999 over distinct synthetic docs: nothing semantic-dups
        assert summary["after_semdedup"] == n0
        # pruning then drops >= floor(0.25 * n_cell) summed over cells:
        # never more than a quarter, and nonzero on 4 cells of ~30 docs
        assert summary["after_prototype"] < n0
        assert summary["after_prototype"] >= n0 - n0 // 4
        assert summary["semdedup_hot_cells"] == 0  # cap audit never silent
        for k in ("semdedup", "prototype"):
            assert k in summary["stage_seconds"], k
        # the pruning audit columns are internal — output schema is clean
        import pyarrow.parquet as pq

        cols = set(pq.read_schema(next(out.glob("*.parquet"))).names)
        assert "proto_rank" not in cols and "cell" not in cols
        # prototype alone (no semdedup): ranks over the full corpus
        out2 = tmp_path / "proto_only"
        s2 = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out2),
                "--prototype", "0.25",
                "--n-clusters", "4",
            ]
        )
        assert s2["after_prototype"] == summary["after_prototype"]

    def test_curate_job_keep_longest_representative(self, tmp_path):
        """--keep-longest makes the semantic-dup winner the LONGEST
        member, not the min-xxhash member: a short page and its tripled
        expansion are exact semantic dups (cos = 1 for a scaled TF
        vector), and the long one must survive regardless of how the
        url hashes land."""
        import pyarrow as pa
        import pyarrow.parquet as pq_w

        short = "alpha beta gamma delta epsilon zeta"
        rows = {
            "url": [
                "https://a.example/short",
                "https://b.example/long",
                "https://c.example/other",
            ],
            "text": [
                short,
                " ".join([short] * 3),
                "completely different unrelated content words here",
            ],
        }
        src = tmp_path / "mini.parquet"
        pq_w.write_table(pa.table(rows), src)
        out = tmp_path / "curated_longest"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(src),
                "--output", str(out),
                "--semdedup", "0.95",
                "--n-clusters", "2",
                "--keep-longest",
            ]
        )
        assert summary["after_semdedup"] == 2
        import pyarrow.parquet as pq

        urls = set()
        for p in out.glob("*.parquet"):
            urls |= set(pq.read_table(p).column("url").to_pylist())
        assert "https://b.example/long" in urls
        assert "https://a.example/short" not in urls
        assert "https://c.example/other" in urls

    def test_curate_job_dsir_keep(self, extracted_dir, tmp_path):
        """--dsir-keep resamples the corpus toward --dsir-ref: exactly K
        docs survive and the stage wall-time is attributed in the
        summary (weight/sampling semantics oracle-checked by
        select_dsir_weights / select_dsir_sample)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ref = tmp_path / "dsir_target.parquet"
        pq.write_table(
            pa.table(
                {"text": ["clean prose flows here", "clean text here"]}
            ),
            ref,
        )
        out = tmp_path / "dsir"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--dsir-ref", str(ref),
                "--dsir-keep", "10",
            ]
        )
        assert summary["after_dsir"] == 10
        assert summary["output_docs"] == 10
        assert "dsir" in summary["stage_seconds"]
        t = pq.read_table(out)
        assert t.num_rows == 10

    def test_curate_job_bpe_tokenize(self, extracted_dir, tmp_path):
        """--bpe-merges trains the vocabulary on the CURATED corpus and
        the export carries decodable token columns: concat(bpe_tokens)
        round-trips to the lowercased text + trailing end marker, and
        the summary holds the merge list (the tokenizer artifact)."""
        out = tmp_path / "bpe"
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--bpe-merges", "12",
            ]
        )
        assert 0 < summary["bpe_merges_learned"] <= 12
        merges = [tuple(m) for m in summary["bpe_merges"]]
        assert len(merges) == summary["bpe_merges_learned"]
        import pyarrow.parquet as pq

        t = pq.read_table(out).to_pylist()
        assert len(t) == summary["output_docs"]
        from ocr_spark.operators.bpe import tokenize_word

        ranks = {m: i for i, m in enumerate(merges)}
        for row in t:
            toks = row["bpe_tokens"]
            assert row["bpe_n_tokens"] == len(toks)
            # decodable: concat == lowercased text + one trailing marker
            assert "".join(toks) == row["text"].lower() + " "
            # and exactly what the reference tokenizer produces
            want = [
                tk
                for w in row["text"].lower().split(" ")
                for tk in tokenize_word(w, ranks)
            ]
            assert toks == want

    def test_curate_job_pack_export(self, extracted_dir, tmp_path):
        """--pack-seq-len writes <output>_packed: fixed-length training
        sequences whose concatenation (chunk_id order) round-trips the
        concatenated per-doc BPE token stream (doc_id order), every
        non-last chunk exactly L tokens."""
        out = tmp_path / "packed_job"
        L = 32
        summary = _run(
            [
                "jobs/curate_job.py",
                "--input", str(extracted_dir),
                "--output", str(out),
                "--bpe-merges", "8",
                "--pack-seq-len", str(L),
            ]
        )
        assert summary["pack_seq_len"] == L
        import pyarrow.parquet as pq

        docs = sorted(
            pq.read_table(out).to_pylist(), key=lambda r: r["doc_id"]
        )
        want = [t for r in docs for t in r["bpe_tokens"]]
        chunks = sorted(
            pq.read_table(str(out) + "_packed").to_pylist(),
            key=lambda r: r["chunk_id"],
        )
        assert summary["packed_chunks"] == len(chunks)
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        for c in chunks[:-1]:
            assert c["n_tok"] == L and len(c["token_ids"]) == L
        assert 0 < chunks[-1]["n_tok"] <= L
        got = [t for c in chunks for t in c["token_ids"]]
        assert got == want
