"""List the top-level defs in ocr_spark/ that nothing outside tests/ and
ocr_spark/contract.py references, with the LoC of each — the
one-consumer-per-operator inventory, re-runnable.

A def counts as reached when its name is used (a Name or an attribute
access, not an import) anywhere in the repo's Python files outside
tests/ and contract.py, other than inside the def itself.  Matching is
by bare name, so a shared name can only hide a def, never invent one.
Each row says whether contract.py uses the def (its contract row would
go with it) or only tests do.  The script reports; it deletes nothing.

Usage: python tools/unreached_defs.py [repo_root]
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

SKIP_DIRS = {"tests", ".git", "__pycache__"}


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


def main(argv: list[str]) -> int:
    root = Path(argv[1] if len(argv) > 1 else ".").resolve()
    contract = root / "ocr_spark" / "contract.py"
    defs = []  # (path, top-level stmt index, node)
    users = defaultdict(set)  # name -> {(path, top-level stmt index)}
    in_contract = set()
    for path in _sources(root):
        tree = ast.parse(path.read_text(), str(path))
        in_pkg = path.is_relative_to(root / "ocr_spark")
        for i, stmt in enumerate(tree.body):
            if path == contract:
                in_contract |= _used_names(stmt)
            else:
                for name in _used_names(stmt):
                    users[name].add((path, i))
            if in_pkg and path != contract and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((path, i, stmt))
    totals = {"contract": 0, "tests-only": 0}
    for path, i, node in defs:
        if users[node.name] - {(path, i)}:
            continue
        loc = node.end_lineno - node.lineno + 1
        kind = "contract" if node.name in in_contract else "tests-only"
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
