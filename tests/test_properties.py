"""Property-based tests (hypothesis) for the geometry/consolidation kernels
— SURVEY.md §5 item 4: invariants that must hold for ANY box configuration,
not just the golden corpus."""

from hypothesis import given, settings, strategies as st

from ocr_spark.kernels.consolidate import consolidate_blocks, sort_blocks
from ocr_spark.kernels.geometry import box_overlap_pct, merge_boxes
from ocr_spark.kernels.layout import merge_overlapping_blocks

coord = st.floats(
    min_value=0.0, max_value=1000.0, allow_nan=False, allow_infinity=False
)


@st.composite
def boxes(draw):
    x1, y1 = draw(coord), draw(coord)
    w = draw(st.floats(min_value=0.1, max_value=400.0))
    h = draw(st.floats(min_value=0.1, max_value=400.0))
    return [x1, y1, x1 + w, y1 + h]


@st.composite
def lines(draw):
    return {"bbox": draw(boxes()), "content": draw(st.text(max_size=12))}


@st.composite
def layouts(draw):
    return {
        "type": draw(st.sampled_from(["text", "title", "table", "figure"])),
        "bbox": draw(boxes()),
    }


class TestGeometryProperties:
    @given(a=boxes(), b=boxes())
    @settings(max_examples=200, deadline=None)
    def test_overlap_pct_bounded_and_symmetric_zero(self, a, b):
        p = box_overlap_pct(a, b)
        assert 0.0 <= p <= 1.0
        # zero iff no positive-area intersection, symmetric in that regard
        q = box_overlap_pct(b, a)
        assert (p == 0.0) == (q == 0.0)

    @given(a=boxes(), b=boxes())
    @settings(max_examples=200, deadline=None)
    def test_merge_contains_both(self, a, b):
        m = merge_boxes(a, b)
        for box in (a, b):
            assert m[0] <= box[0] and m[1] <= box[1]
            assert m[2] >= box[2] and m[3] >= box[3]


class TestConsolidationProperties:
    @given(ls=st.lists(lines(), max_size=12), lay=st.lists(layouts(), max_size=6))
    @settings(max_examples=150, deadline=None)
    def test_every_line_in_exactly_one_block(self, ls, lay):
        out = consolidate_blocks(ls, lay)
        emitted = [id(line) for b in out for line in b["lines"]]
        assert sorted(emitted) == sorted(id(line) for line in ls)
        assert len(set(emitted)) == len(emitted)

    @given(ls=st.lists(lines(), max_size=12), lay=st.lists(layouts(), max_size=6))
    @settings(max_examples=150, deadline=None)
    def test_block_bbox_contains_member_lines(self, ls, lay):
        for b in consolidate_blocks(ls, lay):
            x1, y1, x2, y2 = b["bbox"]
            for line in b["lines"]:
                lx1, ly1, lx2, ly2 = line["bbox"]
                assert x1 <= lx1 and y1 <= ly1 and x2 >= lx2 and y2 >= ly2

    @given(ls=st.lists(lines(), max_size=10), lay=st.lists(layouts(), max_size=5))
    @settings(max_examples=100, deadline=None)
    def test_sorted_output_nondecreasing_y(self, ls, lay):
        out = sort_blocks(consolidate_blocks(ls, lay))
        ys = [b["bbox"][1] for b in out]
        assert ys == sorted(ys)


class TestLayoutMergeProperties:
    @given(lay=st.lists(layouts(), max_size=8))
    @settings(max_examples=150, deadline=None)
    def test_every_input_contained_in_some_output(self, lay):
        """Each input box ends up inside some result bbox (union growth).

        NB: "no result pair overlaps > 0.5" is deliberately NOT asserted —
        the reference's greedy loop (layout.py:57-86) only rescans the
        *unprocessed* pool, so an earlier seed's union growth can overlap a
        later result; the kernel replicates that observable behavior."""
        out = merge_overlapping_blocks(lay)
        assert len(out) <= len(lay)
        for blk in lay:
            x1, y1, x2, y2 = blk["bbox"]
            assert any(
                m["bbox"][0] <= x1 and m["bbox"][1] <= y1
                and m["bbox"][2] >= x2 and m["bbox"][3] >= y2
                for m in out
            )

    @given(lay=st.lists(layouts(), max_size=8))
    @settings(max_examples=100, deadline=None)
    def test_merge_is_deterministic(self, lay):
        import copy

        a = merge_overlapping_blocks(copy.deepcopy(lay))
        b = merge_overlapping_blocks(copy.deepcopy(lay))
        assert a == b


# ---------------------------------------------------------------------------
# Reference transcriptions: the per-page loops as the reference writes them
# (document.py:21-88, layout.py:32-89), calling the scalar geometry kernels
# pair by pair.  The production loops inline those kernels, and the oracle
# runs the production loops too, so no Spark-vs-oracle test can see a drift
# between them; these differentials can.


def _ref_page_needs_ocr(layout, lines, min_overlap=0.5):
    """document.py:40-55 (the engine's no-layout and zero-area returns
    kept)."""
    if not layout:
        return True
    total_area = 0.0
    covered_area = 0.0
    for block in layout:
        x1_min, y1_min, x1_max, y1_max = block["bbox"]
        block_area = (x1_max - x1_min) * (y1_max - y1_min)
        block_coverage = 0.0
        for line in lines:
            overlap = box_overlap_pct(
                block["bbox"], line["bbox"], use_first_as_denominator=True
            )
            block_coverage += overlap
        block_coverage = min(block_coverage, 1.0)
        total_area += block_area
        covered_area += block_area * block_coverage
    if total_area == 0:
        return True
    return covered_area / total_area < min_overlap


def _ref_consolidate_blocks(lines, layout):
    """document.py:58-88: the shared line pool, the block bbox rebound
    inside the line loop, empty blocks dropped, leftovers as singletons."""
    text_lines = list(lines)
    blocks = []
    for block in layout:
        block = dict(block)
        block_lines = []
        remaining = []
        new_bbox = block["bbox"]
        for line in text_lines:
            if box_overlap_pct(block["bbox"], line["bbox"]) > 0.5:
                block_lines.append(line)
                new_bbox = merge_boxes(new_bbox, line["bbox"])
            else:
                remaining.append(line)
            block["bbox"] = new_bbox
        text_lines = remaining
        if block_lines:
            blocks.append(
                {"bbox": new_bbox, "type": block["type"], "lines": block_lines}
            )
    for line in text_lines:
        blocks.append({"bbox": line["bbox"], "type": "text", "lines": [line]})
    return blocks


def _ref_merge_overlapping_blocks(blocks):
    """layout.py:32-89: FIFO seed, rescan from 0 after every absorption,
    overlap against the running union, priority-typed winner."""
    from ocr_spark.kernels.layout import TYPE_PRIORITY

    if not blocks:
        return []
    unprocessed = [dict(block) for block in blocks]
    result = []
    while unprocessed:
        current = unprocessed.pop(0)
        merged = True
        while merged:
            merged = False
            i = 0
            while i < len(unprocessed):
                other = unprocessed[i]
                if box_overlap_pct(current["bbox"], other["bbox"]) > 0.5:
                    if TYPE_PRIORITY[other["type"]] < TYPE_PRIORITY[current["type"]]:
                        current["type"] = other["type"]
                    current["bbox"] = merge_boxes(current["bbox"], other["bbox"])
                    unprocessed.pop(i)
                    merged = True
                else:
                    i += 1
        result.append(current)
    result.sort(key=lambda x: (x["bbox"][1], x["bbox"][0]))
    return result


def _outcome(f, *args):
    """repr of the result, or of the exception type: NaN-safe (repr(nan)
    == 'nan') and exact for every float."""
    try:
        return repr(f(*args))
    except Exception as e:  # noqa: BLE001 - the raise is the outcome
        return f"raises {type(e).__name__}"


# edges from a small grid make touching, shared and zero-width edges
# common; the specials cover NaN, ±inf, -0.0 and products that underflow
_edge = st.one_of(
    st.integers(-2, 12).map(float),
    st.sampled_from(
        [float("nan"), float("inf"), float("-inf"), -0.0, 1e-200, 2e-200]
    ),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
)


@st.composite
def wild_boxes(draw):
    """Any four coordinates: inverted, zero-area, touching, non-finite."""
    if draw(st.booleans()):
        return [draw(_edge) for _ in range(4)]
    x1, y1 = draw(_edge), draw(_edge)
    w, h = draw(st.sampled_from([0.0, 1.0, 2.0, 3.0])), draw(_edge)
    return [x1, y1, x1 + w, y1 + h]


_wild_lines = st.lists(
    st.builds(
        lambda b, c: {"bbox": b, "content": c},
        wild_boxes(),
        st.sampled_from(["a", "b", "c"]),
    ),
    max_size=10,
)
_wild_layout = st.lists(
    st.builds(
        lambda b, t: {"type": t, "bbox": b},
        wild_boxes(),
        st.sampled_from(["text", "title", "table", "figure", "abandon"]),
    ),
    max_size=6,
)


class TestReferenceTranscription:
    @given(lay=_wild_layout, ls=_wild_lines)
    @settings(max_examples=600, deadline=None)
    def test_page_needs_ocr_matches_reference(self, lay, ls):
        from ocr_spark.kernels.consolidate import page_needs_ocr

        assert _outcome(page_needs_ocr, lay, ls) == _outcome(
            _ref_page_needs_ocr, lay, ls
        )

    @given(lay=_wild_layout, ls=_wild_lines)
    @settings(max_examples=600, deadline=None)
    def test_consolidate_blocks_matches_reference(self, lay, ls):
        assert _outcome(consolidate_blocks, ls, lay) == _outcome(
            _ref_consolidate_blocks, ls, lay
        )

    @given(lay=_wild_layout)
    @settings(max_examples=600, deadline=None)
    def test_merge_overlapping_blocks_matches_reference(self, lay):
        assert _outcome(merge_overlapping_blocks, lay) == _outcome(
            _ref_merge_overlapping_blocks, lay
        )


class TestPayloadFuzz:
    @given(data=st.binary(max_size=400))
    @settings(max_examples=300, deadline=None)
    def test_decode_never_hangs_or_crashes_unexpectedly(self, data):
        """Arbitrary bytes either raise ValueError (clean PARSE_ERROR
        lineage) or decode to a well-formed doc dict."""
        from ocr_spark.payload import MAGIC, decode_doc

        try:
            doc = decode_doc(data)
        except ValueError:
            return
        assert data.startswith(MAGIC)
        assert isinstance(doc["pages"], list)
        for page in doc["pages"]:
            assert set(page) >= {"i", "width", "height", "layout",
                                 "native_lines", "ocr_lines"}

    @given(k=st.integers(min_value=0, max_value=3000))
    @settings(max_examples=60, deadline=None)
    def test_roundtrip_any_doc_index(self, k):
        """encode → decode is the identity on every generator output."""
        from ocr_spark.fixtures import make_doc
        from ocr_spark.payload import decode_doc

        d = make_doc(k)
        doc = decode_doc(d["html"])
        assert len(doc["pages"]) >= 0
        assert all(p["i"] == i for i, p in enumerate(doc["pages"]))


# ---------------------------------------------------------------------------
# HTML parser fuzz: total functions over arbitrary bytes; engine parity
# over grammar-generated markup.

_TAG_POOL = [
    "p", "div", "span", "li", "ul", "table", "tr", "td", "h1", "h2",
    "nav", "footer", "aside", "a", "b", "i", "em", "script", "style",
    "figure", "figcaption", "caption", "br", "main", "article",
]
_WORDS = ["alpha", "beta", "gamma", "delta", "nav", "menu", "text",
          "a&amp;b", "x &lt; y", "café", "100", "two words"]


def _markup(draw, depth=0):
    import random as _r

    rng = _r.Random(draw)
    out = []
    for _ in range(rng.randint(1, 8)):
        roll = rng.random()
        if roll < 0.45 or depth > 3:
            out.append(rng.choice(_WORDS) + " ")
        else:
            tag = rng.choice(_TAG_POOL)
            attr = rng.choice(
                ["", " class=menu", ' class="content main"',
                 ' id="sidebar"', ' data-id="nav"', ' href="/x"',
                 " =\"class=ad\""]
            )
            inner = _markup(rng.randint(0, 10**9), depth + 1)
            close = rng.random() > 0.15  # 15% unclosed
            out.append(f"<{tag}{attr}>{inner}")
            if close:
                out.append(f"</{tag}>")
    return "".join(out)


class TestHtmlParserFuzz:
    @given(data=st.binary(min_size=0, max_size=400))
    @settings(max_examples=300, deadline=None)
    def test_never_raises_on_arbitrary_bytes(self, data):
        from ocr_spark import htmlpage

        for engine in ("fast", "stdlib"):
            blocks = htmlpage.parse_html_blocks(
                b"<html><body>" + data + b"</body></html>", engine=engine
            )
            for b in blocks:  # shape invariant
                assert b["type"] in {
                    "title", "text", "table", "table_caption",
                    "figure_caption",
                } and all(ln.strip() for ln in b["lines"])

    @given(seed=st.integers(min_value=0, max_value=10**9))
    @settings(max_examples=250, deadline=None)
    def test_engines_agree_on_generated_markup(self, seed):
        from ocr_spark import htmlpage

        html = ("<html><body>" + _markup(seed) + "</body></html>").encode()
        fast = htmlpage.parse_html_blocks(html, engine="fast")
        std = htmlpage.parse_html_blocks(html, engine="stdlib")
        assert fast == std, html[:300]

    @given(seed=st.integers(min_value=0, max_value=10**9))
    @settings(max_examples=60, deadline=None)
    def test_oracle_total_on_generated_markup(self, seed):
        """The whole per-document pipeline (not just the parser) is total
        over generated markup and deterministic."""
        from ocr_spark.oracle import extract_document

        html = ("<html><body>" + _markup(seed) + "</body></html>").encode()
        a = extract_document(html)
        b = extract_document(html)
        assert a == b
        assert a["n_pages"] in (0, 1)


class TestLineDedupProperties:
    """corpus_line_dedup vs an independent pure-Python reference: winner
    selection, short-line immunity, and text reconstruction, over random
    corpora with engineered line collisions."""

    @staticmethod
    def _ref(docs: dict[int, str], min_chars: int = 15):
        lines = [
            (d, i, ln)
            for d, t in docs.items()
            for i, ln in enumerate(t.split("\n"))
        ]
        first: dict[str, tuple[int, int]] = {}
        for d, i, ln in sorted(lines):
            if len(ln) >= min_chars and ln not in first:
                first[ln] = (d, i)
        out = {}
        for d, t in docs.items():
            kept = [
                ln
                for i, ln in enumerate(t.split("\n"))
                if len(ln) < min_chars or first[ln] == (d, i)
            ]
            out[d] = "\n".join(kept)
        return out

    _line = st.one_of(
        st.sampled_from(
            [
                "the shared boilerplate footer line",
                "subscribe to the newsletter today",
                "ok",
                "",
            ]
        ),
        st.text(alphabet="abcd ", min_size=0, max_size=25),
    )
    _docs = st.dictionaries(
        st.integers(0, 20),
        st.lists(_line, min_size=1, max_size=6).map("\n".join),
        min_size=1,
        max_size=6,
    )

    @given(docs=_docs)
    @settings(max_examples=10, deadline=None)
    def test_matches_pure_python_reference(self, spark, docs):
        from ocr_spark.operators.dedup import corpus_line_dedup

        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: r.clean_text for r in corpus_line_dedup(df).collect()
        }
        assert got == self._ref(docs)
