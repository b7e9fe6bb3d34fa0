"""Payload round-trip + oracle behavior + property tests on consolidation."""

import re

import pytest
from hypothesis import given, settings, strategies as st

from ocr_spark.fixtures import generate_pages_rows, kind_for, make_doc, url_for
from ocr_spark.kernels.consolidate import consolidate_blocks, sort_blocks
from ocr_spark.oracle import extract_document
from ocr_spark.payload import decode_doc, encode_doc


class TestPayloadRoundTrip:
    def test_doc_roundtrip(self):
        row = make_doc(3)
        doc = decode_doc(row["html"])
        assert doc["dpi"] == 200
        assert [p["i"] for p in doc["pages"]] == list(range(len(doc["pages"])))
        # the decoded pages re-encode to a payload that decodes identically
        again = decode_doc(encode_doc(doc["pages"], doc["dpi"], doc["kind"]))
        assert again["pages"] == doc["pages"]

    def test_unicode_content(self):
        pages = [
            {
                "i": 0,
                "width": 612.0,
                "height": 792.0,
                "layout": [{"type": "text", "bbox": [0.0, 0.0, 100.0, 100.0]}],
                "native_lines": [
                    {"bbox": [1.0, 1.0, 99.0, 10.0], "spans": ["héllo ", "wörld™ — §4"]}
                ],
                "ocr_lines": [],
            }
        ]
        doc = decode_doc(encode_doc(pages))
        assert doc["pages"][0]["native_lines"][0]["spans"] == ["héllo ", "wörld™ — §4"]

    def test_bad_payload_raises(self):
        with pytest.raises(ValueError):
            decode_doc(b"not a payload")


class TestOracle:
    def test_deterministic(self):
        row = make_doc(11)
        a = extract_document(row["html"], row["lang"])
        b = extract_document(row["html"], row["lang"])
        assert a == b

    def test_kind_routing(self):
        # kind A docs never OCR; kind B docs always OCR every page
        for k in range(30):
            row = make_doc(k)
            e = extract_document(row["html"], row["lang"])
            if kind_for(k) == "A":
                assert e["ocr_pages"] == 0, url_for(k)
            elif kind_for(k) == "B":
                assert e["ocr_pages"] == e["n_pages"], url_for(k)

    def test_giant_page_trips_raster_cap(self):
        # kind C page 0 is 1700pt wide → 4722px @200dpi → 72-dpi fallback →
        # layout shrinks by 72/200 → coverage fails → OCR
        row = make_doc(9)
        e = extract_document(row["html"], row["lang"])
        assert e["ocr_pages"] >= 1

    def test_postprocess_marks_ignore(self):
        found = {"digit": False, "abandon": False}
        for k in range(0, 30):
            if kind_for(k) != "A":
                continue
            e = extract_document(make_doc(k)["html"], "en")
            for p in e["pages"]:
                for b in p["blocks"]:
                    if b["type"] == "ignore":
                        text = "\n".join(ln["content"] for ln in b["lines"])
                        if text.strip().isdigit():
                            found["digit"] = True
                        else:
                            found["abandon"] = True
        assert found["digit"]

    def test_text_join_semantics(self):
        # doc text = ''.join(page texts), page = '\n\n'.join(block texts),
        # block = '\n'.join(line contents)  (document.py:150,328,389)
        row = make_doc(1)
        e = extract_document(row["html"], row["lang"])
        manual = "".join(
            "\n\n".join(
                "\n".join(ln["content"] for ln in b["lines"]) for b in p["blocks"]
            )
            for p in e["pages"]
        )
        assert e["text"] == manual

    def test_crawl_text_mix(self):
        rows = generate_pages_rows(10)
        exact = sum(
            1
            for k, r in enumerate(rows)
            if r["text"] == extract_document(r["html"], r["lang"])["text"]
            and r["text"]
        )
        empty = sum(1 for r in rows if r["text"] == "")
        assert exact == 3 and empty == 3  # 30% exact / 30% empty per k%10


_box = st.tuples(
    st.floats(0, 500), st.floats(0, 700), st.floats(1, 100), st.floats(1, 100)
).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


@st.composite
def _page(draw):
    layout = [
        {"type": draw(st.sampled_from(["text", "title", "abandon"])), "bbox": draw(_box)}
        for _ in range(draw(st.integers(0, 6)))
    ]
    lines = [
        {"bbox": draw(_box), "content": f"line{i}"}
        for i in range(draw(st.integers(0, 12)))
    ]
    return layout, lines


class TestConsolidationProperties:
    """Invariants from SURVEY.md §5.4."""

    @settings(max_examples=200, deadline=None)
    @given(_page())
    def test_every_line_in_exactly_one_block(self, page):
        layout, lines = page
        out = consolidate_blocks(lines, layout)
        got = [ln["content"] for b in out for ln in b["lines"]]
        assert sorted(got) == sorted(ln["content"] for ln in lines)

    @settings(max_examples=200, deadline=None)
    @given(_page())
    def test_block_bbox_contains_member_lines(self, page):
        layout, lines = page
        for b in consolidate_blocks(lines, layout):
            x1, y1, x2, y2 = b["bbox"]
            for ln in b["lines"]:
                lx1, ly1, lx2, ly2 = ln["bbox"]
                assert lx1 >= x1 and ly1 >= y1 and lx2 <= x2 and ly2 <= y2

    @settings(max_examples=200, deadline=None)
    @given(_page())
    def test_sorted_output_monotone_y(self, page):
        layout, lines = page
        out = sort_blocks(consolidate_blocks(lines, layout))
        ys = [b["bbox"][1] for b in out]
        assert ys == sorted(ys)

    @settings(max_examples=100, deadline=None)
    @given(_page())
    def test_no_empty_layout_blocks_survive(self, page):
        layout, lines = page
        for b in consolidate_blocks(lines, layout):
            assert len(b["lines"]) > 0


class TestPayloadCorruption:
    """Structural sgdoc corruption must be a LOUD PARSE_ERROR, never a
    shorter COMPLETED document, and never a quadratic parse (r5 review:
    the non-greedy page regex measured 10.5 s on 218 KiB of unclosed
    tags and silently dropped/absorbed pages with corrupt tags)."""

    def _doc(self, n_pages=2):
        from ocr_spark.fixtures import make_doc

        return make_doc(3)["html"]

    def test_unclosed_page_raises(self):
        import pytest

        from ocr_spark.payload import decode_doc

        data = self._doc()
        cut = data.rfind(b"</page>")
        with pytest.raises(ValueError, match="unclosed"):
            decode_doc(data[:cut] + data[cut + 7:])

    def test_missing_middle_close_raises_not_silent_merge(self):
        """Deleting a MIDDLE </page> used to pass the orphan-close count
        (find() spans two pages, so opens parsed == closes remaining) and
        silently MERGE the next page's content into this one — a shorter
        COMPLETED document (r5 review)."""
        import pytest

        from ocr_spark.payload import decode_doc

        data = self._doc()
        cut = data.find(b"</page>")  # FIRST close, not the last
        with pytest.raises(ValueError, match="mismatch"):
            decode_doc(data[:cut] + data[cut + 7:])

    def test_corrupt_open_tag_raises_not_silent_drop(self):
        import pytest

        from ocr_spark.payload import decode_doc

        data = self._doc()
        assert decode_doc(data)["pages"]  # sanity: well-formed parses
        broken = data.replace(b"<page ", b"<pgae ", 1)
        with pytest.raises(ValueError, match="mismatch|unclosed"):
            decode_doc(broken)

    def test_unclosed_tag_bomb_fails_fast(self):
        import time

        import pytest

        from ocr_spark.payload import MAGIC, decode_doc

        bomb = (
            MAGIC + b'<doc dpi="200" kind="A">'
            + b'<page i="0" w="612.0" h="792.0">' * 8000
            + b"</doc>"
        )
        t0 = time.time()
        with pytest.raises(ValueError):
            decode_doc(bomb)
        assert time.time() - t0 < 1.0  # was ~10.5 s quadratic

    def test_corrupt_span_base64_raises(self):
        import binascii

        import pytest

        from ocr_spark.payload import decode_doc

        data = self._doc()
        i = data.find(b' s="')
        assert i > 0
        # flip a span byte to a non-alphabet char: must raise into the
        # PARSE_ERROR path, not silently decode shifted text
        broken = data[: i + 4] + b"!" + data[i + 5:]
        with pytest.raises((ValueError, binascii.Error)):
            decode_doc(broken)

    @pytest.mark.parametrize("n_coords", [3, 5])
    def test_wrong_bbox_arity_is_parse_error(self, n_coords):
        """A bbox with other than four coordinates is a malformed payload:
        the decode raises, so the document is a PARSE_ERROR row (not an
        EXTRACT_ERROR from the probe's unpack) and the oracle raises."""
        import pyarrow as pa

        from ocr_spark.operators.extract_udfs import extract_doc_rows

        data = self._doc()
        start = data.find(b'<nline bbox="') + len(b'<nline bbox="')
        end = data.find(b'"', start)
        coords = data[start:end].split(b",")
        assert len(coords) == 4
        coords = coords[:3] if n_coords == 3 else coords + [b"1.0"]
        broken = data[:start] + b",".join(coords) + data[end:]

        batch = pa.RecordBatch.from_pydict(
            {
                "url": ["u://bad-bbox"],
                "warc_ts": pa.array([0], pa.timestamp("us", tz="UTC")),
                "html": [broken],
                "lang": ["en"],
            }
        )
        [out] = list(extract_doc_rows(iter([batch])))
        row = out.to_pylist()[0]
        assert row["status"] == "FAILED"
        assert row["error"].startswith("PARSE_ERROR"), row["error"]
        assert row["pages"] == [] and row["n_pages"] == 0
        with pytest.raises(ValueError, match="values to unpack"):
            extract_document(broken, "en")


class TestPayloadPageScan:
    """The page scan matches each page's header in place and slices its
    body; it must yield the pages the whole-page regex
    ``<page ...>(.*?)</page>`` yields, and still reject a header that
    runs into the close tag or is malformed."""

    _WHOLE_PAGE_RE = re.compile(
        rb'<page i="(\d+)" w="([^"]+)" h="([^"]+)">(.*?)</page>', re.S
    )

    def test_pages_equal_whole_page_regex_groups(self):
        from ocr_spark.payload import _page_from_groups

        for k in range(400):
            data = make_doc(k)["html"]
            want = sorted(
                (
                    _page_from_groups(*m.groups())
                    for m in self._WHOLE_PAGE_RE.finditer(data)
                ),
                key=lambda page: page["i"],
            )
            assert decode_doc(data)["pages"] == want, k

    @pytest.mark.parametrize(
        "old, new",
        [
            (b'w="612.0"', b'w="6</page>12.0"'),
            (b'h="792.0"', b'h="79</page>2.0"'),
            (b'<page i="0"', b'<page i="x"'),
            (b'<page i="0" w="612.0"', b'<page i="0"  w="612.0"'),
            (b'w="612.0"', b'w=""'),
        ],
    )
    def test_bad_header_is_parse_error(self, old, new):
        from ocr_spark.operators.extract_udfs import _extract_doc

        data = make_doc(3)["html"]
        assert data.count(old) >= 1
        broken = data.replace(old, new, 1)
        with pytest.raises(ValueError):
            decode_doc(broken)
        pages, _, error = _extract_doc(broken, "en")
        assert pages == [] and error.startswith("PARSE_ERROR")
