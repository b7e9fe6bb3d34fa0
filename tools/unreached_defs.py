"""List the top-level defs in ocr_spark/ that no program entry point
reaches, with the LoC of each — the one-consumer-per-operator inventory,
re-runnable.

Reachability is transitive.  The production roots are the top-level
statements that are not defs (module bodies: jobs, tools and examples
scripts, and ocr_spark's own module-level code) in the repo's Python
files outside tests/, contract.py and the benchmark scripts (bench.py,
tools/scale_probes.py and everything under perfbench/).  A def is
reached when a reached statement uses its name (a Name or an attribute
access, not an import); the body of a reached def then reaches further.
A def used only by unreached defs is therefore reported too.  Matching
is by bare name, so a shared name can only hide a def, never invent one.
Each row carries the first label that applies: ``bench`` when the
benchmark scripts reach the def by the same rule (its bench row would go
with it), ``contract`` when contract.py does (its contract row would),
else ``tests-only``.  The script reports; it deletes nothing.

Usage: python tools/unreached_defs.py [repo_root]
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

SKIP_DIRS = {"tests", ".git", "__pycache__"}
BENCH_SCRIPTS = {Path("bench.py"), Path("tools/scale_probes.py")}
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources(root: Path) -> list[Path]:
    return sorted(
        p for p in root.rglob("*.py")
        if not SKIP_DIRS & set(p.relative_to(root).parts)
    )


def _used_names(node: ast.AST) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
    return names


def _reach(todo: list[ast.AST], by_name: dict) -> set[ast.AST]:
    """Every def transitively named by the statements in ``todo``."""
    reached = set()
    while todo:
        for name in _used_names(todo.pop()):
            for _, node in by_name.get(name, ()):
                if node not in reached:
                    reached.add(node)
                    todo.append(node)
    return reached


def main(argv: list[str]) -> int:
    root = Path(argv[1] if len(argv) > 1 else ".").resolve()
    contract = root / "ocr_spark" / "contract.py"
    by_name = defaultdict(list)  # def name -> [(path, node)]
    bench_defs = defaultdict(list)  # the benchmark scripts' own defs
    roots, bench_roots, contract_roots = [], [], []
    for path in _sources(root):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(root)
        bench = rel in BENCH_SCRIPTS or rel.parts[0] == "perfbench"
        for stmt in tree.body:
            if path == contract:
                contract_roots.append(stmt)
            elif isinstance(stmt, _DEFS):
                (bench_defs if bench else by_name)[stmt.name].append(
                    (path, stmt)
                )
            else:
                (bench_roots if bench else roots).append(stmt)
    reached = _reach(roots, by_name)
    in_bench = _reach(
        bench_roots,
        {n: by_name.get(n, []) + bench_defs.get(n, [])
         for n in by_name.keys() | bench_defs.keys()},
    )
    in_contract = _reach(contract_roots, by_name)
    pkg = root / "ocr_spark"
    unreached = sorted(
        ((path, node) for defs in by_name.values() for path, node in defs
         if path.is_relative_to(pkg) and node not in reached),
        key=lambda d: (d[0], d[1].lineno),
    )
    totals = {"bench": 0, "contract": 0, "tests-only": 0}
    for path, node in unreached:
        loc = node.end_lineno - node.lineno + 1
        kind = (
            "bench" if node in in_bench
            else "contract" if node in in_contract
            else "tests-only"
        )
        totals[kind] += loc
        print(
            f"{path.relative_to(root)}:{node.lineno}\t{node.name}\t"
            f"{loc}\t{kind}"
        )
    for kind, loc in totals.items():
        print(f"total {kind}\t{loc} LoC")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
