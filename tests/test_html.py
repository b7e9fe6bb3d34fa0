"""HTML extraction path (htmlpage.py): hand-written goldens, boilerplate
strip semantics, and Spark↔oracle byte-identity over a mixed PDF+HTML
corpus — the north rule's "HTML boilerplate strip … DOM heuristics"."""

import pytest

from ocr_spark import htmlpage
from ocr_spark.oracle import extract_document, flat_lines
from ocr_spark.fixtures import generate_html_rows, generate_pages_rows
from ocr_spark.payload import decode_doc


class TestSniff:
    def test_doctype(self):
        assert htmlpage.looks_like_html(b"  <!DOCTYPE html><html></html>")

    def test_bare_html_tag(self):
        assert htmlpage.looks_like_html(b"<HTML lang=en><body>x</body>")

    def test_head_body_only(self):
        assert htmlpage.looks_like_html(b"<body class=x>hello</body>")

    def test_sgdoc_not_html(self):
        assert not htmlpage.looks_like_html(
            b'<!DOCTYPE sgdoc><doc dpi="200" kind="A"></doc>'
        )

    def test_binary_junk_not_html(self):
        assert not htmlpage.looks_like_html(b"\x89PNG\r\n\x1a\nxxxx")

    def test_sniff_window_is_bounded(self):
        # <html> past the first KB is not sniffed (streaming safety)
        assert not htmlpage.looks_like_html(b"x" * 2000 + b"<html>")


class TestHandGoldens:
    """Expected outputs written by hand — independent of the implementation."""

    def test_canonical_page(self):
        html = (
            b"<!DOCTYPE html><html><head><title>T</title>"
            b"<script>var a='<p>no</p>';</script><style>p{}</style></head>"
            b"<body><header>Banner</header><nav><a href=x>Home</a></nav>"
            b"<main><h1>Heading One</h1><p>Alpha beta gamma.</p>"
            b"<p>Delta  epsilon.</p></main>"
            b"<footer>contact us</footer></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "title", "lines": ["Heading One"]},
            {"type": "text", "lines": ["Alpha beta gamma."]},
            {"type": "text", "lines": ["Delta epsilon."]},
        ]

    def test_br_splits_lines_inside_block(self):
        html = b"<html><body><p>one<br>two<br/>three</p></body></html>"
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["one", "two", "three"]}
        ]

    def test_entities_decoded(self):
        html = b"<html><body><p>A &amp; B &lt;c&gt; &#169;</p></body></html>"
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["A & B <c> ©"]}
        ]

    def test_inline_tags_do_not_split(self):
        html = b"<html><body><p>a<b>b</b><i>c</i> d</p></body></html>"
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["abc d"]}
        ]

    def test_link_farm_dropped_content_link_kept(self):
        html = (
            b"<html><body>"
            b"<div><a href=1>one</a> <a href=2>two</a> <a href=3>three</a></div>"
            b"<p>Real prose with a small <a href=x>link</a> in much more text."
            b"</p></body></html>"
        )
        blocks = htmlpage.parse_html_blocks(html)
        assert blocks == [
            {
                "type": "text",
                "lines": ["Real prose with a small link in much more text."],
            }
        ]

    def test_table_rows_are_blocks(self):
        html = (
            b"<html><body><table><tr><td>a1</td><td>a2</td></tr>"
            b"<tr><td>b1</td></tr></table></body></html>"
        )
        blocks = htmlpage.parse_html_blocks(html)
        assert [b["lines"] for b in blocks] == [["a1"], ["a2"], ["b1"]]
        assert {b["type"] for b in blocks} == {"table"}

    def test_rich_block_types_from_dom_context(self):
        """Tables/captions/figcaptions map onto the reference's layout
        class vocabulary (kernels/layout.LAYOUT_CHOICES), not just
        title/text."""
        html = (
            b"<html><body>"
            b"<figure><figcaption>Figure 1: a chart</figcaption></figure>"
            b"<table><caption>Quarterly totals</caption>"
            b"<tr><td>Q1</td></tr></table>"
            b"<p>prose</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "figure_caption", "lines": ["Figure 1: a chart"]},
            {"type": "table_caption", "lines": ["Quarterly totals"]},
            {"type": "table", "lines": ["Q1"]},
            {"type": "text", "lines": ["prose"]},
        ]

    def test_tfoot_and_mathml_typed(self):
        """tfoot cells and MathML content map onto the remaining reference
        layout classes (table_footnote, isolate_formula); TeX alternates
        inside <annotation> never duplicate the rendered math text."""
        html = (
            b"<html><body>"
            b"<table><tr><td>Q1 totals</td></tr>"
            b"<tfoot><tr><td>Grand total: 42</td></tr></tfoot></table>"
            b"<math><mi>x</mi><mo>=</mo><mn>2</mn>"
            b"<annotation encoding='application/x-tex'>x = 2</annotation>"
            b"</math>"
            b"<p>prose after</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "table", "lines": ["Q1 totals"]},
            {"type": "table_footnote", "lines": ["Grand total: 42"]},
            {"type": "isolate_formula", "lines": ["x=2"]},
            {"type": "text", "lines": ["prose after"]},
        ]
        # differential: the fast tokenizer agrees with the stdlib engine
        assert htmlpage.parse_html_blocks(
            html, engine="stdlib"
        ) == htmlpage.parse_html_blocks(html, engine="fast")

    def test_malformed_markup_survives(self):
        html = (
            b"<html><body><P>unclosed upper"  # uppercase + unclosed
            b"</div>"  # stray close
            b"<p>second para</body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["unclosed upper"]},
            {"type": "text", "lines": ["second para"]},
        ]

    def test_nested_boilerplate_counters(self):
        html = (
            b"<html><body><nav>outer <nav>inner</nav> still-nav</nav>"
            b"<p>content</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["content"]}
        ]

    def test_class_id_chrome_dropped(self):
        html = (
            b'<html><body><div class="site-footer"><p>copyright</p></div>'
            b'<div id="sidebar"><div><p>widget</p></div></div>'
            b'<ul class="nav-list"><li>Home</li></ul>'
            b'<div class="article-body"><p>real content</p></div>'
            b"</body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["real content"]}
        ]

    def test_class_token_not_substring(self):
        # "roadmap" contains "ad" as a substring but not as a token
        html = b'<html><body><div class="roadmap"><p>kept</p></div></body></html>'
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["kept"]}
        ]

    def test_attr_drop_ends_at_matching_close(self):
        html = (
            b'<html><body><div class=menu><div><p>deep</p></div></div>'
            b"<p>after</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["after"]}
        ]

    def test_fast_and_stdlib_engines_agree(self):
        """Differential pin: the regex tokenizer and the html.parser
        reference path must produce identical blocks on the whole fixture
        corpus and the malformed/attr cases."""
        from ocr_spark.fixtures import generate_html_rows

        cases = [
            bytes(r["html"])
            for r in generate_html_rows(120, with_crawl_text=False)
        ]
        cases += [
            b"<html><body><p>a < b and a&amp;b</p></body></html>",
            b"<html><body><p>x<script>var s='</p>';</script><p>y</p>",
            b"<html><body><!-- <p>no</p> --><p>yes</p></body></html>",
            b'<html><body><DIV CLASS=Menu><p>m</p></DIV><p>ok</p></body></html>',
            b'<html><body><div class="a&amp;b"><p>kept</p></div></body></html>',
            b"<html><body><p>truncated <b>bold",
        ]
        for h in cases:
            assert htmlpage.parse_html_blocks(
                h, engine="fast"
            ) == htmlpage.parse_html_blocks(h, engine="stdlib"), h[:80]

    def test_pure_boilerplate_zero_pages(self):
        html = b"<html><head><script>x</script></head><body><nav>H</nav></body></html>"
        doc = decode_doc(html)
        assert doc["kind"] == "H" and doc["pages"] == []
        ex = extract_document(html)
        assert (ex["text"], ex["n_pages"], ex["n_blocks"]) == ("", 0, 0)


class TestVirtualPageGeometry:
    def test_page_dict_shape_matches_decode_doc(self):
        html = b"<html><body><h1>T</h1><p>body text</p></body></html>"
        (page,) = decode_doc(html)["pages"]  # dispatches on the html sniff
        assert page["i"] == 0 and page["width"] == htmlpage.PAGE_W
        assert [b["type"] for b in page["layout"]] == ["title", "text"]
        assert len(page["native_lines"]) == 2 and page["ocr_lines"] == []
        # integral floats → the 72-dpi int-cast chain is an exact identity
        for b in page["layout"]:
            assert all(c == float(int(c)) for c in b["bbox"])

    def test_html_routes_native_never_ocr(self):
        for r in generate_html_rows(25, with_crawl_text=False):
            assert extract_document(bytes(r["html"]))["ocr_pages"] == 0

    def test_reading_order_preserved(self):
        html = b"<html><body>" + b"".join(
            b"<p>para %d</p>" % i for i in range(12)
        ) + b"</body></html>"
        ex = extract_document(html)
        assert ex["text"] == "\n\n".join(f"para {i}" for i in range(12))


@pytest.fixture(scope="module")
def mixed_parquet(tmp_path_factory):
    from ocr_spark.fixtures import write_rows_parquet

    rows = generate_pages_rows(24) + generate_html_rows(36)
    path = tmp_path_factory.mktemp("mixed") / "pages.parquet"
    return str(write_rows_parquet(path, rows))


class TestMixedCorpusE2E:
    """One Spark job over PDF-payload + HTML docs: same schema, per-url
    byte identity with the oracle."""

    @pytest.fixture(scope="class")
    def goldens(self, spark, mixed_parquet):
        src = (
            spark.read.parquet(mixed_parquet)
            .select("url", "html", "lang")
            .toPandas()
        )
        return {
            r.url: extract_document(bytes(r.html), r.lang)
            for r in src.itertuples()
        }

    @pytest.fixture(scope="class")
    def extracted(self, spark, mixed_parquet):
        from ocr_spark.pipeline import extract, read_pages

        return extract(read_pages(spark, mixed_parquet)).cache()

    def test_text_byte_identical(self, extracted, goldens):
        got = {r.url: r.text for r in extracted.select("url", "text").collect()}
        assert got == {u: g["text"] for u, g in goldens.items()}

    def test_tree_strict(self, extracted, goldens):
        from ocr_spark.pipeline import flatten_lines

        got = {
            (r.url, r.page_i, r.block_i, r.line_i): (r.block_type, r.content)
            for r in flatten_lines(extracted).collect()
        }
        want = {
            (u, p, b, li): (t, c)
            for url, g in goldens.items()
            for u, p, b, t, li, c in flat_lines(g, url)
        }
        assert got == want

    def test_statuses_all_completed(self, extracted):
        rows = extracted.select("status").distinct().collect()
        assert {r.status for r in rows} == {"COMPLETED"}


class TestCharsets:
    """Common-Crawl pages are not all UTF-8: the HTML5-style encoding
    sniff (BOM → declared meta charset → utf-8) must recover them."""

    def test_latin1_declared(self):
        html = (
            '<html><head><meta charset="iso-8859-1"></head>'
            "<body><p>café résumé</p></body></html>"
        ).encode("iso-8859-1")
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["café résumé"]}
        ]

    def test_gbk_via_http_equiv(self):
        html = (
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=gbk"></head>'
            "<body><p>\u4e2d\u6587\u6587\u672c</p></body></html>"
        ).encode("gbk")
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["\u4e2d\u6587\u6587\u672c"]}
        ]

    def test_utf8_bom_stripped(self):
        html = b"\xef\xbb\xbf<html><body><p>bom text</p></body></html>"
        assert htmlpage.looks_like_html(html)
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["bom text"]}
        ]

    def test_utf16le_bom(self):
        html = "<html><body><p>sixteen bits</p></body></html>".encode(
            "utf-16"
        )  # BOM-led
        assert htmlpage.looks_like_html(html)
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["sixteen bits"]}
        ]

    def test_unknown_charset_falls_back_utf8(self):
        html = (
            b'<html><head><meta charset="no-such-enc"></head>'
            b"<body><p>fallback ok</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["fallback ok"]}
        ]

    def test_misdeclared_bytes_never_raise(self):
        # declared gbk but contains invalid byte sequences → replacement
        # chars, deterministic, no exception
        html = (
            b'<html><head><meta charset="gbk"></head><body><p>ok '
            b"\x81\x20 tail</p></body></html>"
        )
        blocks = htmlpage.parse_html_blocks(html)
        assert len(blocks) == 1 and blocks[0]["lines"][0].startswith("ok")

    def test_charset_inside_unrelated_content_value_ignored(self):
        """The spec prescan parses meta ATTRIBUTES: a `charset=` substring
        inside an unrelated attribute VALUE (here a description) must not
        hijack the document decoding to koi8-r."""
        html = (
            '<html><head><meta name="description" '
            'content="see charset=koi8-r docs"></head>'
            "<body><p>привет мир</p></body></html>"
        ).encode("utf-8")
        assert htmlpage._prescan_charset(html) is None
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["привет мир"]}
        ]

    def test_content_charset_needs_http_equiv(self):
        # content="...charset=..." WITHOUT http-equiv=content-type is not
        # a declaration either (same prescan rule)
        html = (
            b'<html><head><meta name="x" content="charset=gbk"></head>'
            b"<body><p>plain</p></body></html>"
        )
        assert htmlpage._prescan_charset(html) is None
        # and unquoted standalone charset attrs still count
        assert (
            htmlpage._prescan_charset(
                b"<html><head><meta charset=windows-1251></head>"
            )
            == "windows-1251"
        )

    def test_utf16_end_to_end_through_pipeline(self, spark):
        import datetime as dt

        from ocr_spark.pipeline import extract

        html = "<html><body><h1>Titre</h1><p>déjà vu</p></body></html>".encode(
            "utf-16"
        )
        df = spark.createDataFrame(
            [("u://u16", dt.datetime(2025, 1, 1), bytearray(html), "", "fr")],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        )
        r = extract(df).collect()[0]
        assert r.status == "COMPLETED"
        assert r.text == "Titre\n\ndéjà vu"


class TestReviewRegressions:
    """Pinned fixes from the round-2 adversarial review."""

    def test_data_id_attr_does_not_drop(self):
        html = (
            b'<html><body><div data-id="menu"><p>kept content</p></div>'
            b"</body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["kept content"]}
        ]

    def test_class_inside_quoted_value_does_not_drop(self):
        html = (
            b'<html><body><div title="class=nav decoy"><p>kept too</p>'
            b"</div></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["kept too"]}
        ]

    def test_case_folding_length_change_before_script(self):
        """'İ'.lower() is two codepoints — the rawtext close search must
        not use a lowercased copy whose indices drift."""
        body = ("İ" * 12 + "<script>var a = 1;</script>"
                "<p>sonra gelen metin</p>").encode()
        html = b"<html><body>" + body + b"</body></html>"
        got = htmlpage.parse_html_blocks(html)
        assert got == htmlpage.parse_html_blocks(html, engine="stdlib")
        assert got[-1] == {"type": "text", "lines": ["sonra gelen metin"]}

    def test_unclosed_anchor_does_not_nuke_document(self):
        html = (
            b'<html><body><div><a href="/x">Home</div>'
            b"<p>Real paragraph of content here</p>"
            b"<p>more text follows here</p></body></html>"
        )
        got = htmlpage.parse_html_blocks(html)
        assert [b["lines"][0] for b in got] == [
            "Real paragraph of content here",
            "more text follows here",
        ]

    def test_charset_in_script_src_does_not_hijack_encoding(self):
        html = (
            b'<html><head><script src="lib.js?charset=shift_jis">'
            b"</script></head><body><p>caf\xc3\xa9 utf8</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["café utf8"]}
        ]

    def test_value_only_attr_does_not_leak_class(self):
        html = (
            b'<html><body><div ="class=ad"><p>content kept</p></div>'
            b"</body></html>"
        )
        got = htmlpage.parse_html_blocks(html)
        assert got == htmlpage.parse_html_blocks(html, engine="stdlib")
        assert got == [{"type": "text", "lines": ["content kept"]}]

    def test_anchor_wrapping_blocks_stays_linked(self):
        """HTML5 card links (<a> around h3+p teasers) are fully linked
        content and must be link-density-dropped; the unlinked article
        prose after them must survive."""
        html = (
            b"<html><body>"
            b'<a href="/1"><h3>Teaser one</h3><p>teaser description</p></a>'
            b'<a href="/2"><h3>Teaser two</h3><p>other teaser text</p></a>'
            b"<p>Actual article prose with plenty of unlinked words.</p>"
            b"</body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {
                "type": "text",
                "lines": ["Actual article prose with plenty of unlinked words."],
            }
        ]

    def test_charset_deep_in_long_meta_tag(self):
        html = (
            b'<html><head><meta data-pad="' + b"x" * 220
            + b'" http-equiv="content-type" '
            b'content="text/html; charset=iso-8859-1"></head>'
            b"<body><p>caf\xe9</p></body></html>"
        )
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["café"]}
        ]


class TestGiantHtmlGuard:
    """A pathological giant single HTML page is ONE virtual page, so the
    decode guard must bound the task (truncate at a tag boundary) and
    report it in lineage, never silently."""

    def test_truncation_deterministic_and_idempotent(self):
        block = "<p>" + "word " * 200 + "</p>"  # ~1 KB per block
        html = ("<html><body>" + block * 12000 + "</body></html>").encode()
        assert len(html) > htmlpage.MAX_HTML_BYTES
        blocks, truncated = htmlpage._parse_blocks(html)
        assert truncated
        # far fewer blocks than the full 12k (the guard actually cut)
        assert 0 < len(blocks) < 6000
        # parsing the truncated bytes reproduces the same blocks exactly
        cut = htmlpage._truncate_at_tag(html, htmlpage.MAX_HTML_BYTES)
        assert htmlpage.parse_html_blocks(cut) == blocks

    def test_small_pages_unaffected(self):
        html = b"<html><body><p>normal page</p></body></html>"
        blocks, truncated = htmlpage._parse_blocks(html)
        assert not truncated
        doc = decode_doc(html)
        assert doc["truncated"] is False

    def test_giant_page_bounded_and_reported_e2e(self, spark):
        """The pipeline finishes in bounded time on a corpus with one giant
        page, reports truncated_pages in the output row, stays COMPLETED
        (truncation is partial success, not failure), and matches the
        oracle byte-for-byte."""
        import datetime as dt
        import time

        from ocr_spark.pipeline import extract

        block = "<p>" + "word " * 200 + "</p>"
        giant = ("<html><body>" + block * 12000 + "</body></html>").encode()
        small = b"<html><body><p>tiny sibling doc</p></body></html>"
        rows = [
            ("u://giant", dt.datetime(2025, 1, 1), bytearray(giant), "", "en"),
            ("u://small", dt.datetime(2025, 1, 1), bytearray(small), "", "en"),
        ]
        df = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string",
        )
        t0 = time.time()
        out = {r.url: r for r in extract(df).collect()}
        elapsed = time.time() - t0
        g = out["u://giant"]
        assert g.status == "COMPLETED"
        assert g.truncated_pages == 1
        assert out["u://small"].truncated_pages == 0
        assert elapsed < 120, f"unbounded giant-page task: {elapsed:.0f}s"
        oracle = extract_document(bytes(giant), "en")
        assert g.text == oracle["text"]
        assert oracle["truncated_pages"] == 1

    def test_zero_page_giant_doc_still_reports_truncated(self):
        """A giant document cut by the byte cap whose SURVIVING blocks are
        all boilerplate (zero pages) must still report truncated=True —
        guard hits are never silent, even when no content survives (the
        r4 ADVICE fix: the flag used to derive from the page dict, which
        is None here)."""
        filler = "<nav>" + "menu item " * 200 + "</nav>"  # boilerplate-only
        html = ("<html><body>" + filler * 12000 + "</body></html>").encode()
        assert len(html) > htmlpage.MAX_HTML_BYTES
        doc = htmlpage.html_doc(html)
        assert doc["pages"] == []  # nothing survives
        assert doc["truncated"] is True
        oracle = extract_document(html, "en")
        assert oracle["truncated_pages"] == 1

    def test_block_count_cap_bounds_dense_listings(self):
        """Thousands of tiny blocks under the byte limit are still a
        kernel straggler (the probe/consolidate loops are O(blocks x
        lines)) — the block cap bounds them and flags the same lineage."""
        html = ("<html><body>" + "<p>w</p>" * 5000 + "</body></html>").encode()
        assert len(html) < htmlpage.MAX_HTML_BYTES
        doc = decode_doc(html)
        assert doc["truncated"] is True
        (page,) = doc["pages"]
        assert page["truncated"] is True
        assert len(page["layout"]) == htmlpage.MAX_HTML_BLOCKS
        # the cap is deterministic: a second decode gives the same page
        assert decode_doc(html)["pages"] == [page]


class TestR5ReviewRegressions:
    """Pinned fixes from the round-5 adversarial review."""

    def test_dangling_anchor_in_nav_does_not_nuke_document(self):
        """An unclosed <a> inside a dropped <nav> subtree used to leak
        _link_depth past the subtree close (the close handler
        early-returns for nav), flagging 100% of the page as linked and
        link-density-dropping every real block."""
        html = (
            b'<html><body><nav><a href="/">Home</nav>'
            b"<p>This is the real article content of the page.</p>"
            b"<p>Second paragraph with more words.</p></body></html>"
        )
        got = htmlpage.parse_html_blocks(html)
        assert [b["lines"][0] for b in got] == [
            "This is the real article content of the page.",
            "Second paragraph with more words.",
        ]

    def test_dangling_heading_and_table_in_dropped_subtree(self):
        """Same leak class for heading/table context: an unclosed <h1> or
        <table> inside chrome must not type the rest of the page."""
        html = (
            b'<html><body><nav><h1>Site<table><td>x</nav>'
            b"<p>body prose stays plain text.</p></body></html>"
        )
        got = htmlpage.parse_html_blocks(html)
        assert got == [
            {"type": "text", "lines": ["body prose stays plain text."]}
        ]

    def test_unquoted_href_trailing_slash_is_value_not_selfclose(self):
        """<a href=http://x/foo/> — the '/' is part of the unquoted VALUE
        (html.parser / HTML5 unquoted-attribute-value state): the url
        must keep its trailing slash and the anchor text must survive."""
        html = (
            b"<html><body><p>see "
            b"<a href=http://example.com/foo/>my site</a> now</p>"
            b"</body></html>"
        )
        m = htmlpage._TAG_OPEN_RE.match("<a href=http://example.com/foo/>")
        tag, chunk, self_closing = htmlpage._open_tag_parts(m)
        assert tag == "a"
        assert self_closing is False
        assert dict(htmlpage._scan_attrs(chunk))["href"] == (
            "http://example.com/foo/"
        )
        fast = htmlpage.parse_html_blocks(html)
        assert "my site" in fast[0]["lines"][0]
        # engines agree on link-density accounting for such anchors
        std = htmlpage.parse_html_blocks(html, engine="stdlib")
        assert fast == std

    def test_br_selfclose_still_selfclosing(self):
        html = b"<html><body><p>one<br/>two</p></body></html>"
        assert htmlpage.parse_html_blocks(html) == [
            {"type": "text", "lines": ["one", "two"]}
        ]

    def test_nontext_codec_charset_falls_back_utf8(self):
        """Registered NON-TEXT codecs ('hex', 'base64', ...) pass
        codecs.lookup but raise (or garble) on decode — the contract is
        NEVER raise, fall back to utf-8."""
        for cs in (b"hex", b"base64", b"zlib", b"idna", b"punycode"):
            html = (
                b'<html><head><meta charset="' + cs + b'"></head>'
                b"<body><p>plain ascii body survives.</p></body></html>"
            )
            got = htmlpage.parse_html_blocks(html)
            assert got == [
                {"type": "text", "lines": ["plain ascii body survives."]}
            ], cs

    def test_utf16_alias_labels_do_not_mojibake(self):
        """'utf_16'/'u16' resolve to utf-16 via codecs aliases and used to
        bypass the hyphen-only guard, decoding ASCII bytes as UTF-16 CJK
        mojibake shipped as COMPLETED text."""
        for cs in (b"utf_16", b"utf_16be", b"u16", b"utf-16"):
            html = (
                b'<html><head><meta charset="' + cs + b'"></head>'
                b"<body><p>Hello plain ascii page content.</p></body></html>"
            )
            got = htmlpage.parse_html_blocks(html)
            assert got == [
                {"type": "text", "lines": ["Hello plain ascii page content."]}
            ], cs

    def test_duplicate_charset_attr_first_wins(self):
        from ocr_spark.htmlpage import decode_html_bytes

        # HTML5: repeated attributes are ignored; last-wins would decode
        # this page as koi8-r and mojibake the text
        html = (
            '<html><head><meta charset="utf-8" charset="koi8-r"></head>'
            "<body><p>résumé</p></body></html>"
        ).encode("utf-8")
        assert "résumé" in decode_html_bytes(html)
