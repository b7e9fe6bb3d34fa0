"""Pin the kernels to the reference's OWN golden fixture.

/root/reference/tests/fixtures/document.json is the reference
implementation's byte-identity oracle (its tests/conftest.py:25-34
compares line text + block type of PDFDocument.process() output against
it).  This test re-encodes that golden tree's geometry into our payload
format such that the pipeline must REPRODUCE the tree exactly through its
real kernel chain:

- page 0 → the native route: detector boxes stored at 200-dpi midpoints so
  the int-cast px→pt chain (layout.py:150-154 semantics) lands on the
  fixture's exact 0.36-grid doubles; native lines absorbed + unioned by
  the order-dependent consolidation (document.py:58-88), including the
  leftover-line singleton-block path;
- page 1 → the OCR route (the original page was scanned: every fixture
  line bbox is an integer surya box and no native coverage existed): the
  page is given width 1700 pt so the 4500-px raster-safety cap fires
  (document.py:407-416) and the recognition bboxes pass through the
  72-dpi identity exactly, while layout boxes still shrink through the
  doc-dpi px→pt quirk (the reference passes doc dpi to predict_layout
  even for capped pages).

Equality asserted here is STRONGER than the reference's own check: block
types, line text, AND every bbox double, across both the pure-Python
oracle and the Spark pipeline.
"""

import json

import pytest

GOLDEN = "/root/reference/tests/fixtures/document.json"
SCALE = 72 / 200


def _is_detector(c: float) -> bool:
    """Is c on the 200-dpi detector grid (k * 72/200 exactly)?"""
    return round(c * 200 / 72) * SCALE == c


def _store_detector_200(c: float, side: str) -> float:
    """Stored value whose raster→int-cast→pt chain at dpi 200 yields the
    fixture double exactly (midpoint storage defeats float truncation
    hazards); line-union-derived coords snap strictly inside the block."""
    k = round(c * 200 / 72)
    if k * SCALE == c:
        return (k + 0.5) * SCALE
    k = int(c * 200 / 72)
    if side in ("x1", "y1"):
        while k * SCALE < c:
            k += 1
        return (k + 0.5) * SCALE
    while k * SCALE > c:
        k -= 1
    return (k - 0.5) * SCALE


def _store_detector_capped(c: float) -> float:
    """Capped page: raster at eff 72 dpi, px→pt at DOC dpi (the preserved
    reference quirk) — int(stored) * 72/200 must equal the fixture double."""
    k = round(c * 200 / 72)
    assert k * SCALE == c
    return k + 0.5


def _is_leftover(b: dict) -> bool:
    """A consolidation leftover: a single line became its own text block
    (document.py:78-88 tail) — no detector box existed for it."""
    return (
        all(not _is_detector(c) for c in b["bbox"])
        and len(b["lines"]) == 1
        and b["lines"][0]["bbox"] == b["bbox"]
    )


def build_payload(golden: dict) -> bytes:
    from ocr_spark.payload import encode_doc

    pages = []
    for p in golden["pages"]:
        ocr_page = p["i"] == 1
        layout, native, ocr = [], [], []
        for b in p["blocks"]:
            if not _is_leftover(b):
                bb = b["bbox"]
                if ocr_page:
                    bbox = [_store_detector_capped(c) for c in bb]
                else:
                    bbox = [
                        _store_detector_200(bb[0], "x1"),
                        _store_detector_200(bb[1], "y1"),
                        _store_detector_200(bb[2], "x2"),
                        _store_detector_200(bb[3], "y2"),
                    ]
                layout.append({"type": b["type"], "bbox": bbox})
            for line in b["lines"]:
                if ocr_page:
                    ocr.append(
                        {"bbox": list(line["bbox"]), "content": line["content"]}
                    )
                else:
                    native.append(
                        {"bbox": list(line["bbox"]), "spans": [line["content"]]}
                    )
        pages.append(
            {
                "i": p["i"],
                # width 1700 @200 dpi = 4722 px > 4500 → the raster cap
                "width": 1700.0 if ocr_page else 612.0,
                "height": 792.0,
                "layout": layout,
                "native_lines": native,
                "ocr_lines": ocr,
            }
        )
    return encode_doc(pages, dpi=200, kind="A")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def payload(golden):
    return build_payload(golden)


def _tree(pages) -> list:
    """Normalize either representation to a comparable nested structure."""
    out = []
    for p in pages:
        blocks = []
        for b in (p["blocks"] if isinstance(p, dict) else p.blocks):
            bd = b if isinstance(b, dict) else b.asDict(recursive=True)
            blocks.append(
                (
                    bd["i"],
                    bd["type"],
                    tuple(bd["bbox"]),
                    [
                        (ln["i"], tuple(ln["bbox"]), ln["content"])
                        for ln in bd["lines"]
                    ],
                )
            )
        out.append(((p["i"] if isinstance(p, dict) else p.i), blocks))
    return out


class TestReferenceGolden:
    def test_oracle_reproduces_golden_tree_exactly(self, golden, payload):
        from ocr_spark.oracle import extract_document

        ex = extract_document(payload, postprocess=True)
        assert ex["ocr_pages"] == 1  # page 1 takes the OCR route
        assert _tree(ex["pages"]) == _tree(golden["pages"])

    def test_spark_pipeline_reproduces_golden_tree_exactly(
        self, spark, golden, payload
    ):
        import datetime as dt

        from ocr_spark.pipeline import extract

        rows = [
            (
                "u://reference-golden",
                dt.datetime(2025, 1, 1),
                bytearray(payload),
                "",
                "en",
            )
        ]
        schema = (
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"
        )
        r = extract(spark.createDataFrame(rows, schema)).collect()[0]
        assert r.status == "COMPLETED" and r.ocr_pages == 1
        assert _tree(r.pages) == _tree(golden["pages"])

    def test_golden_text_assembly(self, golden, payload):
        """Doc text equals the fixture lines joined with the reference's
        exact separators (line '\\n', block '\\n\\n', page '')."""
        from ocr_spark.oracle import extract_document

        want = "".join(
            "\n\n".join(
                "\n".join(ln["content"] for ln in b["lines"])
                for b in p["blocks"]
            )
            for p in golden["pages"]
        )
        assert extract_document(payload)["text"] == want
