"""List the package's top-level functions and classes that only tests reach.

An AST scan: every Name id, Attribute attr, import-alias name and
identifier-shaped string constant (a `getattr` lookup) in the package,
`__spark_entry__.py`, `bench.py`, `perfbench/` and `scripts/` counts as
a reference. Each top-level `def`/`class` of the package whose name
nothing outside `tests/` references is printed with its module, line
and length, then one count line. References inside the definition's own
body (recursion) do not count. The scan is by name, so a name shared by
two definitions keeps both alive.

    python scripts/test_only_defs.py
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "chesscom_etl_tableau_spark"
NON_TEST_SOURCES = (PACKAGE, "__spark_entry__.py", "bench.py", "perfbench", "scripts")


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _names(node: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.append(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.append(n.value)  # a name looked up with getattr
    return out


def main() -> int:
    refs: Counter[str] = Counter()
    defs = []  # (module path, line, length, name)
    for rel in NON_TEST_SOURCES:
        for path in _py_files(rel):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            refs.update(_names(tree))
            if rel != PACKAGE:
                continue
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    length = node.end_lineno - node.lineno + 1
                    defs.append((os.path.relpath(path, ROOT), node.lineno, length, node.name))
                    # recursion is not a caller
                    refs[node.name] -= _names(node).count(node.name)
    test_only = [d for d in defs if refs[d[3]] <= 0]
    for path, line, length, name in test_only:
        print(f"{path}:{line}  {name}  ({length} lines)")
    print(f"{len(test_only)} definitions, {sum(d[2] for d in test_only)} lines")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
