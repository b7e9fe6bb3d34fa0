"""tools/ scripts that run without Spark."""

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, REPO / "tools" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unreached_defs_is_transitive(tmp_path, capsys):
    """A def used only by an unreached def is unreached too: in the
    a → b chain below nothing reaches ``a``, so ``b`` is listed with it,
    while ``c`` (called from a job's module body) is not.  ``d`` is
    reached by contract.py alone and is listed as such.  ``e`` is called
    only from bench.py's module body and ``f`` only from a bench.py def,
    so both are listed as ``bench``, and so is ``g``, which only a
    perfbench/ script calls: benchmark scripts are not production
    roots."""
    (tmp_path / "ocr_spark").mkdir()
    (tmp_path / "jobs").mkdir()
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "ocr_spark" / "mod.py").write_text(
        "def a():\n    return b()\n\n\n"
        "def b():\n    return 1\n\n\n"
        "def c():\n    return 2\n\n\n"
        "def d():\n    return 3\n\n\n"
        "def e():\n    return 4\n\n\n"
        "def f():\n    return 5\n\n\n"
        "def g():\n    return 6\n"
    )
    (tmp_path / "ocr_spark" / "contract.py").write_text(
        "from .mod import d\n\nROW = d\n"
    )
    (tmp_path / "jobs" / "run.py").write_text(
        "from ocr_spark.mod import c\n\nprint(c())\n"
    )
    (tmp_path / "bench.py").write_text(
        "from ocr_spark.mod import e, f\n\n\n"
        "def run():\n    return f()\n\n\n"
        "print(e(), run())\n"
    )
    (tmp_path / "perfbench" / "layers.py").write_text(
        "from ocr_spark.mod import g\n\n\n"
        "def chain():\n    return g()\n\n\n"
        "print(chain())\n"
    )
    assert _load_tool("unreached_defs").main(["x", str(tmp_path)]) == 0
    rows = [
        line.split("\t")
        for line in capsys.readouterr().out.splitlines()
        if not line.startswith("total")
    ]
    assert [(r[1], r[3]) for r in rows] == [
        ("a", "tests-only"),
        ("b", "tests-only"),
        ("d", "contract"),
        ("e", "bench"),
        ("f", "bench"),
        ("g", "bench"),
    ]


def test_text_analysis_has_no_unreached_defs(capsys):
    """Every def left in operators/text_analysis.py is reached from a job
    or an example; an operator that only a bench row, a contract row or a
    test calls does not belong in the curation chain's module."""
    assert _load_tool("unreached_defs").main(["x", str(REPO)]) == 0
    rows = [
        line
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("ocr_spark/operators/text_analysis.py")
    ]
    assert rows == []
