"""Static guard: every top-level package name is reachable from an entry point.

A top-level `def`, `class` or assignment in the package is reached when its
name appears as a word in an entry point or in the source of another reached
definition. Entry points are `__spark_entry__.py`, the two bench scripts,
`perfbench/` and `scripts/`; tests are not, so code that only a test calls
fails here and belongs in `tests/` instead. `KEPT` names the only exceptions.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "crawler_german_localpoliticans_spark"
ENTRY_POINTS = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
                *(ROOT / "perfbench").glob("*.py"), *(ROOT / "scripts").glob("*.py")]
WORD = re.compile(r"[A-Za-z_]\w*")
# Person-name keys of the council-member records (COVERAGE.md C6-C8). No engine
# path builds member rows yet; the keys stay with their parity tests until one
# does or they are cut.
KEPT = {"normalize_name", "unique_key", "slugify"}


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):  # `import a as b` defines b
        return [a.asname for a in stmt.names if a.asname]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_every_package_definition_is_reachable_from_an_entry_point():
    reached = KEPT | {w for path in ENTRY_POINTS for w in WORD.findall(path.read_text())}
    pending: dict[tuple[str, str], set[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        for stmt in ast.parse(src).body:
            words = set(WORD.findall(ast.get_source_segment(src, stmt)))
            names = [n for n in _defined_names(stmt) if not (n.startswith("__") and n.endswith("__"))]
            for name in names:
                pending[(str(path.relative_to(PACKAGE)), name)] = words - {name}
            docstring = isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            if not names and not docstring and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= words  # module-level code runs on import
    while hit := [key for key in pending if key[1] in reached]:
        for key in hit:
            reached |= pending.pop(key)
    unreached = [f"{mod}: {name}" for mod, name in sorted(pending)]
    assert not unreached, "package definitions no entry point reaches:\n  " + "\n  ".join(unreached)
