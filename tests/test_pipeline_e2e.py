"""Golden E2E: the Spark pipeline must be byte-identical to the pure-Python
oracle per url — the analogue of the reference's golden-fixture compare
(tests/conftest.py:25-34: strict zip, equality on line text + block type)."""

import pandas as pd
import pytest

from ocr_spark.oracle import extract_document, flat_lines
from ocr_spark.pipeline import extract, flatten_lines, read_pages


@pytest.fixture(scope="module")
def extracted(spark, pages_parquet):
    return extract(read_pages(spark, pages_parquet)).cache()


@pytest.fixture(scope="module")
def goldens(spark, pages_parquet):
    src = spark.read.parquet(pages_parquet).select("url", "html", "lang").toPandas()
    return {
        r.url: extract_document(bytes(r.html), r.lang) for r in src.itertuples()
    }


class TestGoldenE2E:
    def test_all_urls_present(self, extracted, goldens):
        urls = {r.url for r in extracted.select("url").collect()}
        assert urls == set(goldens)

    def test_text_byte_identical(self, extracted, goldens):
        for r in extracted.select("url", "text").collect():
            assert r.text == goldens[r.url]["text"], r.url

    def test_metrics_match(self, extracted, goldens):
        rows = extracted.select(
            "url", "n_pages", "n_blocks", "ocr_pages", "status"
        ).collect()
        for r in rows:
            g = goldens[r.url]
            assert (r.n_pages, r.n_blocks, r.ocr_pages) == (
                g["n_pages"],
                g["n_blocks"],
                g["ocr_pages"],
            ), r.url
            assert r.status == "COMPLETED"

    def test_full_tree_strict_join(self, extracted, goldens):
        """Strict compare on (url, page_i, block_i, line_i): content + type,
        exactly the reference equality oracle (conftest.py:29-33)."""
        got = {
            (r.url, r.page_i, r.block_i, r.line_i): (r.block_type, r.content)
            for r in flatten_lines(extracted).collect()
        }
        want = {}
        for url, g in goldens.items():
            for u, p, b, t, li, c in flat_lines(g, url):
                want[(u, p, b, li)] = (t, c)
        assert got == want

    def test_bboxes_roundtrip_float64(self, extracted, goldens):
        rows = extracted.select("url", "pages").collect()
        for r in rows:
            g = goldens[r.url]
            for p_got, p_want in zip(r.pages, g["pages"], strict=True):
                assert p_got.i == p_want["i"]
                for b_got, b_want in zip(p_got.blocks, p_want["blocks"], strict=True):
                    assert list(b_got.bbox) == b_want["bbox"]
                    for l_got, l_want in zip(b_got.lines, b_want["lines"], strict=True):
                        assert list(l_got.bbox) == l_want["bbox"]


class TestPipelineVariants:
    @pytest.mark.parametrize("partitions", [1, 16])
    def test_fused_tree_independent_of_input_partitions(
        self, spark, pages_parquet, extracted, partitions
    ):
        """The tree does not depend on how the input rows are spread over
        partitions (and so over UDF batches and Python workers) —
        determinism across parallelism."""
        spread = extract(
            read_pages(spark, pages_parquet).repartition(partitions)
        )
        key = ["url", "page_i", "block_i", "block_type", "line_i", "content"]
        a = sorted(map(tuple, flatten_lines(spread).select(key).collect()))
        b = sorted(map(tuple, flatten_lines(extracted).select(key).collect()))
        assert a == b

    def test_digit_rule_matches_python_semantics(self, spark):
        """Regression (P4): tab-padded and Unicode-digit blocks must get
        the same ignore/keep decision as the oracle's strip().isdigit()
        (the old SQL used trim()+[0-9], which diverged)."""
        import datetime as dt

        from ocr_spark.fixtures import PAGE_H
        from ocr_spark.payload import encode_doc

        def page_with(content):
            return {
                "i": 0, "width": 612.0, "height": PAGE_H,
                "layout": [{"type": "text", "bbox": [72.0, 72.0, 540.0, 92.0]}],
                "native_lines": [
                    {"bbox": [74.0, 74.0, 538.0, 90.0], "spans": [content]}
                ],
                "ocr_lines": [],
            }

        cases = ["42\t", "\u0664\u0662", "42", "not a number 42"]
        rows = [
            (
                f"u://digit/{i}",
                dt.datetime(2025, 1, 1),
                bytearray(encode_doc([page_with(c)], dpi=200, kind="A")),
                "",
                "en",
            )
            for i, c in enumerate(cases)
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        out = extract(spark.createDataFrame(rows, schema)).collect()
        got = {r.url: r.pages[0].blocks[0].type for r in out}
        for i, c in enumerate(cases):
            want = "ignore" if c.strip().isdigit() else "text"
            assert got[f"u://digit/{i}"] == want, (c, got)

    def test_zero_page_doc_survives_as_empty_tree(self, spark):
        """A zero-page document must appear in the output as an empty
        COMPLETED tree (the reference yields pages=[])."""
        import datetime as dt

        from ocr_spark.payload import encode_doc

        row = (
            "u://empty",
            dt.datetime(2025, 1, 1),
            bytearray(encode_doc([], dpi=200, kind="A")),
            "",
            "en",
        )
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        out = extract(spark.createDataFrame([row], schema)).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.status, r.n_pages, r.text, list(r.pages)) == (
            "COMPLETED", 0, "", [],
        )

    def test_duplicate_url_captures_stay_separate_rows(self, spark):
        """Two captures of one url are two input rows, and the default
        plan finishes each on its own: two output rows, each equal to the
        oracle's extraction of its own payload.  The jobs pick the newest
        capture per url first."""
        import datetime as dt

        from ocr_spark.fixtures import make_doc

        docs = [make_doc(1), make_doc(2)]
        rows = [
            ("u://twice", dt.datetime(2025, 1, 1 + n), bytearray(d["html"]),
             "", d["lang"])
            for n, d in enumerate(docs)
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        out = extract(spark.createDataFrame(rows, schema)).collect()
        assert len(out) == 2
        fields = ("text", "pages", "n_pages", "n_blocks", "ocr_pages",
                  "truncated_pages")
        by_day = {r.warc_ts.day: r.asDict(recursive=True) for r in out}
        assert sorted(by_day) == [1, 2]
        for n, d in enumerate(docs):
            got = by_day[1 + n]
            want = extract_document(d["html"], d["lang"])
            assert got["status"] == "COMPLETED"
            assert {k: got[k] for k in fields} == {k: want[k] for k in fields}

    def test_corrupt_payload_yields_failed_row(self, spark):
        pdf = pd.DataFrame(
            {
                "url": ["https://bad.example/1"],
                "warc_ts": [pd.Timestamp("2025-01-01", tz="UTC")],
                "html": [b"garbage not a payload"],
                "text": [""],
                "lang": ["en"],
            }
        )
        df = spark.createDataFrame(pdf)
        out = extract(df).collect()
        assert len(out) == 1
        r = out[0]
        assert r.status == "FAILED"
        assert r.error.startswith("PARSE_ERROR")
        assert r.text == "" and r.pages == []

    def test_kernel_throwing_page_yields_failed_row_not_task_abort(
        self, spark
    ):
        """A payload that decodes cleanly but blows up inside the page
        kernels (here: a NaN layout coordinate, which the detector's int
        cast rejects) must become an EXTRACT_ERROR
        lineage row — never a Spark task failure, and never poison the
        healthy documents sharing its batch."""
        import datetime as dt

        from ocr_spark.fixtures import make_doc
        from ocr_spark.payload import MAGIC

        bad = (
            MAGIC
            + b'<doc dpi="200" kind="A"><page i="0" w="612.0" h="792.0">'
            b'<layout type="text" bbox="nan,2.0,3.0,4.0"/>'
            b'<nline bbox="1.0,2.0,3.0,4.0" s="aGk="/></page></doc>'
        )
        good = make_doc(1)
        rows = [
            ("u://kernel-bad", dt.datetime(2025, 1, 1), bytearray(bad), "", "en"),
            (good["url"], good["warc_ts"].replace(tzinfo=None),
             bytearray(good["html"]), "", good["lang"]),
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        df = spark.createDataFrame(rows, schema)
        out = {r.url: r for r in extract(df).collect()}
        assert len(out) == 2
        r = out["u://kernel-bad"]
        assert r.status == "FAILED"
        assert r.error.startswith("EXTRACT_ERROR"), r.error
        g = out[good["url"]]
        assert g.status == "COMPLETED" and g.n_pages > 0

    def test_error_granularity_identical_across_modes(self, spark):
        """Error lineage is per PAGE: a document mixing good and
        kernel-throwing pages keeps its good pages' text and records ONE
        EXTRACT_ERROR for the bad page, and the good pages' tree is the
        oracle's extraction of a document holding only those pages."""
        import datetime as dt

        from ocr_spark.payload import MAGIC

        head = MAGIC + b'<doc dpi="200" kind="A">'
        good0 = (
            b'<page i="0" w="612.0" h="792.0">'
            b'<layout type="text" bbox="72.0,72.0,540.0,100.0"/>'
            b'<nline bbox="74.0,75.0,538.0,99.0" s="Z29vZCBwYWdl"/></page>'
        )
        bad1 = (
            b'<page i="1" w="612.0" h="792.0">'
            b'<layout type="text" bbox="nan,2.0,3.0,4.0"/>'
            b'<nline bbox="74.0,75.0,538.0,99.0" s="YmFk"/></page>'
        )
        good2 = (
            b'<page i="2" w="612.0" h="792.0">'
            b'<layout type="text" bbox="72.0,72.0,540.0,100.0"/>'
            b'<nline bbox="74.0,75.0,538.0,99.0" s="dGFpbCBwYWdl"/></page>'
        )
        mixed = head + good0 + bad1 + good2 + b"</doc>"
        df = spark.createDataFrame(
            [("u://mixed", dt.datetime(2025, 1, 1), bytearray(mixed), "", "en")],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        )
        out = extract(df).collect()
        assert len(out) == 1
        r = out[0].asDict(recursive=True)
        assert r["status"] == "FAILED"  # the bad page taints status
        assert r["error"].startswith("EXTRACT_ERROR"), r["error"]
        # good pages SURVIVE at page granularity
        assert [p["i"] for p in r["pages"]] == [0, 2]
        assert r["text"] == "good pagetail page"
        want = extract_document(head + good0 + good2 + b"</doc>", "en")
        fields = ("text", "pages", "n_pages", "n_blocks", "ocr_pages")
        assert {k: r[k] for k in fields} == {k: want[k] for k in fields}
