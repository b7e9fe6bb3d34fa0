"""ModelExtractor conformance: fake fitz/doclayout_yolo/surya modules prove
the model backend's stage protocol (decode_doc / analyze_page /
extract_ocr_text / finish_page signatures and output shapes) matches the
heuristic backend's — so a protocol drift cannot ship silently even though
the real models cannot run in this sandbox.

The fakes mimic the real APIs at the exact call sites model.py uses
(reference layout.py:121-160, ocr.py:37-71, document.py:532-536)."""

import sys
import types

import numpy as np
import pytest

DPI = 200

# One logical page, expressed twice:
# - pt-space ground truth for the heuristic backend's synthetic payload
# - px-space fake model outputs (px = pt * DPI/72, integral by construction)
BLOCK_PT = [72.0, 72.0, 504.0, 216.0]
LINE_PT = [74.0, 74.0, 502.0, 214.0]
LINE_TEXT = "conformance line"
# surya emits raster-pixel boxes; the heuristic backend stores pt ground
# truth and scales by eff_dpi/72 — derive px with the same expression so
# the two backends are bit-comparable
OCR_LINE_PT = [72.0, 216.0, 504.0, 234.0]
OCR_LINE_PX = [c * DPI / 72 for c in OCR_LINE_PT]
OCR_TEXT = "ocr payload"
PAGE_W, PAGE_H = 612.0, 792.0


class _Tensor:
    def __init__(self, v):
        self._v = v

    def item(self):
        return self._v

    def __iter__(self):
        return iter([_Tensor(x) for x in self._v])


class _Boxes:
    def __init__(self, xyxy, cls):
        self.xyxy = [_Tensor(b) for b in xyxy]
        self.cls = [_Tensor(c) for c in cls]


class _Pred:
    def __init__(self, xyxy, cls):
        self.boxes = _Boxes(xyxy, cls)


class _Pixmap:
    width, height = 100, 100
    samples = b"\x00" * (100 * 100 * 3)


class _FakePage:
    def __init__(self, number, with_native):
        self.number = number
        self._with_native = with_native

    def get_pixmap(self, matrix=None, alpha=False):
        return _Pixmap()

    def get_text(self, kind):
        assert kind == "dict"
        if not self._with_native:
            return {"blocks": []}
        return {
            "blocks": [
                {
                    "lines": [
                        {
                            # PyMuPDF returns tuples; numpy scalars stand
                            # in for any non-float library value
                            "bbox": tuple(np.float64(c) for c in LINE_PT),
                            "spans": [
                                {"text": "conformance "},
                                {"text": "line"},
                            ],
                        },
                        {"bbox": (0, 0, 1, 1), "spans": [{"text": "  "}]},
                    ]
                }
            ]
        }


class _FakeDoc:
    def __init__(self, pages):
        self._pages = pages

    def __iter__(self):
        return iter(self._pages)


@pytest.fixture
def fake_models(monkeypatch):
    # fitz (pymupdf)
    fitz = types.ModuleType("fitz")
    fitz.Matrix = lambda a, b: (a, b)

    def _open(kind, data):
        assert kind == "pdf"
        if not data.startswith(b"%PDF"):
            raise ValueError("cannot open broken document")  # fitz behavior
        native = data == b"%PDF-native"
        return _FakeDoc([_FakePage(0, with_native=native)])

    fitz.open = _open
    # doclayout_yolo — one 'text'-class box in raster px
    dy = types.ModuleType("doclayout_yolo")
    from ocr_spark.kernels.layout import LAYOUT_CHOICES

    text_cls = next(k for k, v in LAYOUT_CHOICES.items() if v == "text")

    class YOLOv10:
        def __init__(self, *a, **k):
            pass

        def to(self, device):
            return self

        def __call__(self, imgs, verbose=False):
            px = [np.float32(c * DPI / 72) for c in BLOCK_PT]
            return [_Pred([px], [float(text_cls)])] * len(imgs)

    dy.YOLOv10 = YOLOv10
    # torch
    torch = types.ModuleType("torch")
    torch.cuda = types.SimpleNamespace(is_available=lambda: False)
    # surya
    surya = types.ModuleType("surya")
    sdet = types.ModuleType("surya.detection")
    srec = types.ModuleType("surya.recognition")

    class DetectionPredictor:
        disable_tqdm = False

    class RecognitionPredictor:
        disable_tqdm = False

        def __call__(self, imgs, langs, det):
            line = types.SimpleNamespace(
                bbox=tuple(np.float32(c) for c in OCR_LINE_PX), text=OCR_TEXT
            )
            return [types.SimpleNamespace(text_lines=[line])] * len(imgs)

    sdet.DetectionPredictor = DetectionPredictor
    srec.RecognitionPredictor = RecognitionPredictor
    # PIL
    pil = types.ModuleType("PIL")
    pil_image = types.ModuleType("PIL.Image")
    pil_image.frombytes = lambda mode, size, data: np.zeros(
        (size[1], size[0], 3), dtype=np.uint8
    )
    pil.Image = pil_image

    for name, mod in {
        "fitz": fitz,
        "doclayout_yolo": dy,
        "torch": torch,
        "surya": surya,
        "surya.detection": sdet,
        "surya.recognition": srec,
        "PIL": pil,
        "PIL.Image": pil_image,
    }.items():
        monkeypatch.setitem(sys.modules, name, mod)
    # reset the lazy singletons so the fakes are actually loaded
    # (ocr_spark.extract the ATTRIBUTE is the pipeline function, shadowing
    # the subpackage — import via the module path)
    import importlib

    m = importlib.import_module("ocr_spark.extract.model")

    monkeypatch.setattr(m, "_FITZ", None)
    monkeypatch.setattr(m, "_LAYOUT_MODEL", None)
    monkeypatch.setattr(m, "_RECOGNITION_MODEL", None)
    monkeypatch.setattr(m, "_DETECTION_MODEL", None)
    return m


def _heuristic_page(with_native: bool) -> dict:
    return {
        "i": 0,
        "width": PAGE_W,
        "height": PAGE_H,
        "layout": [{"type": "text", "bbox": list(BLOCK_PT)}],
        "native_lines": (
            [{"bbox": list(LINE_PT), "spans": ["conformance ", "line"]},
             {"bbox": [0.0, 0.0, 1.0, 1.0], "spans": ["  "]}]
            if with_native
            else []
        ),
        "ocr_lines": [{"bbox": OCR_LINE_PT, "content": OCR_TEXT}],
    }


class TestModelProtocolConformance:
    def test_decode_doc_shape(self, fake_models):
        ex = fake_models.ModelExtractor(dpi=DPI)
        doc = ex.decode_doc(b"%PDF-native")
        assert set(doc) == {"dpi", "kind", "pages"}
        assert doc["dpi"] == DPI and len(doc["pages"]) == 1
        assert doc["pages"][0].i == 0  # page index protocol (_page_i)

    def test_analyze_page_matches_heuristic_backend(self, fake_models):
        from ocr_spark.extract import heuristic

        ex = fake_models.ModelExtractor(dpi=DPI)
        doc = ex.decode_doc(b"%PDF-native")
        got = ex.analyze_page(doc["pages"][0], DPI)
        want = heuristic.analyze_page(_heuristic_page(True), DPI)
        assert set(got) == set(want) == {"layout", "native_lines", "needs_ocr"}
        assert got["layout"] == want["layout"]
        assert got["native_lines"] == want["native_lines"]
        assert got["needs_ocr"] == want["needs_ocr"] is False

    def test_ocr_route_matches_heuristic_backend(self, fake_models):
        from ocr_spark.extract import heuristic

        ex = fake_models.ModelExtractor(dpi=DPI)
        doc = ex.decode_doc(b"%PDF-scanned")  # no native text layer
        info = ex.analyze_page(doc["pages"][0], DPI)
        assert info["needs_ocr"] is True
        got = ex.extract_ocr_text(doc["pages"][0], DPI, "en")
        want = heuristic.extract_ocr_text(_heuristic_page(False), DPI, "en")
        assert got == want
        # finish_page parity on the same inputs
        assert ex.finish_page(got, info["layout"]) == heuristic.finish_page(
            want, info["layout"]
        )

    def test_fused_udf_runs_model_backend_end_to_end(
        self, fake_models, monkeypatch
    ):
        """Drive the actual fused UDF generator (extract_doc_rows)
        in-process on an Arrow batch with the model backend selected — the
        full stage protocol as the executor exercises it."""
        out = _fused_rows(
            monkeypatch,
            "model",
            [
                b"%PDF-native",
                b"<html><body><p>from dom</p></body></html>",
                b"\x00garbage",
            ],
        )
        rows = {r["url"]: r for r in out.to_pylist()}
        blocks = rows["u://0"]["pages"][0]["blocks"]
        assert blocks[0]["lines"][0]["content"] == LINE_TEXT
        html_blocks = rows["u://1"]["pages"][0]["blocks"]
        assert html_blocks[0]["lines"][0]["content"] == "from dom"
        assert rows["u://2"]["error"].startswith("PARSE_ERROR")

    def test_fused_pages_column_matches_heuristic_run(
        self, fake_models, monkeypatch
    ):
        """The fake models hand back tuples of numpy scalars; the fused
        UDF's nested ``pages`` column must still carry float64 bboxes
        equal to the heuristic backend's on the same logical pages, on
        both routes."""
        import pyarrow as pa

        from ocr_spark.payload import encode_doc

        got = _fused_rows(
            monkeypatch, "model", [b"%PDF-native", b"%PDF-scanned"]
        )
        want = _fused_rows(
            monkeypatch,
            "heuristic",
            [
                encode_doc([_heuristic_page(True)], dpi=DPI),
                encode_doc([_heuristic_page(False)], dpi=DPI),
            ],
        )
        pages_t = got.schema.field("pages").type
        blocks_t = pages_t.value_type.field("blocks").type.value_type
        lines_t = blocks_t.field("lines").type.value_type
        for bbox_t in (blocks_t.field("bbox").type, lines_t.field("bbox").type):
            assert bbox_t.value_type == pa.float64()
        assert got.column("ocr_pages").to_pylist() == [0, 1]
        assert got.column("pages").equals(want.column("pages"))
        assert got.column("text").equals(want.column("text"))


def _fused_rows(monkeypatch, backend: str, payloads: list[bytes]):
    """``extract_doc_rows`` over one Arrow batch of ``payloads`` (urls
    ``u://0``, ``u://1``, …) with ``backend`` selected, as a Table."""
    import importlib

    import pyarrow as pa

    ext = importlib.import_module("ocr_spark.extract")
    from ocr_spark.operators import extract_udfs

    monkeypatch.setenv("OCR_SPARK_BACKEND", backend)
    monkeypatch.setattr(ext, "_BACKEND", None)  # re-resolve
    n = len(payloads)
    batch = pa.RecordBatch.from_pydict(
        {
            "url": [f"u://{i}" for i in range(n)],
            "warc_ts": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
            "html": payloads,
            "lang": ["en"] * n,
        }
    )
    try:
        return pa.Table.from_batches(
            list(extract_udfs.extract_doc_rows(iter([batch])))
        )
    finally:
        monkeypatch.setattr(ext, "_BACKEND", None)  # don't leak backend
