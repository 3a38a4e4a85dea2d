"""Static guard: every top-level package name is reachable from an entry point.

A top-level `def`, `class` or assignment in the package is reached when its
name is used as an identifier (a name, an attribute or an imported name) in
an entry point or in another reached definition. A mention in a docstring, a
comment or a string does not count. Entry points are `__spark_entry__.py`,
the two bench scripts, `perfbench/` and `scripts/`; tests are not, so code
that only a test calls fails here and belongs in `tests/` instead.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "crawler_german_localpoliticans_spark"
ENTRY_POINTS = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
                *(ROOT / "perfbench").glob("*.py"), *(ROOT / "scripts").glob("*.py")]


def _identifiers(tree: ast.AST) -> set[str]:
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):  # `import a.b` reaches a and b
            out.update(node.name.split("."))
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):  # `import a as b` defines b
        return [a.asname for a in stmt.names if a.asname]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_every_package_definition_is_reachable_from_an_entry_point():
    reached = {w for path in ENTRY_POINTS for w in _identifiers(ast.parse(path.read_text()))}
    pending: dict[tuple[str, str], set[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            used = _identifiers(stmt)
            names = [n for n in _defined_names(stmt) if not (n.startswith("__") and n.endswith("__"))]
            for name in names:
                pending[(str(path.relative_to(PACKAGE)), name)] = used - {name}
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= used  # module-level code runs on import
    while hit := [key for key in pending if key[1] in reached]:
        for key in hit:
            reached |= pending.pop(key)
    unreached = [f"{mod}: {name}" for mod, name in sorted(pending)]
    assert not unreached, "package definitions no entry point reaches:\n  " + "\n  ".join(unreached)
