"""Static guards: the package holds no code and no option that only tests use.

Reachability: a top-level `def`, `class` or assignment in the package is
reached when its name is used as an identifier (a name, an attribute or an
imported name) in an entry point or in another reached definition. A mention
in a docstring, a comment or a string does not count.

Options: every defaulted parameter of a package function or method is passed
by some call in an entry point or in the package. A parameter that no caller
sets is a constant, and belongs in the module as one.

Entry points are `__spark_entry__.py`, the two bench scripts, `perfbench/`
and `scripts/`; tests are not, so code or an option that only a test uses
fails here and belongs in `tests/` instead.
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


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _package_functions(trees: dict[str, ast.Module]):
    """(key, lookup name, positional params, all params, defaulted params,
    node) per package def; a method's self/cls is dropped, and `__init__`
    is looked up under its class name (a call to the class)."""
    out = []

    def visit(node, mod, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, mod, child.name)
            elif isinstance(child, _FUNCS):
                a = child.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in child.decorator_list)
                dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
                dflt += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                pos = pos[1:] if cls and not static else pos
                lookup = cls if cls and child.name == "__init__" else child.name
                key = f"{mod}: {cls + '.' if cls else ''}{child.name}"
                out.append((key, lookup, pos, pos + [k.arg for k in a.kwonlyargs], set(dflt), child))
                visit(child, mod, None)
            else:
                visit(child, mod, cls)

    for mod, tree in trees.items():
        visit(tree, mod, None)
    return out


def test_every_defaulted_parameter_is_passed_by_a_caller():
    """A call passes a parameter by position, by keyword, or through a
    `*args` / `**kwargs` splat. It does not pass one when the argument is
    only an enclosing package function's own defaulted parameter that
    nothing passes in turn (forwarding an unset default sets nothing); that
    rule is applied until nothing changes."""
    trees = {str(path.relative_to(PACKAGE)): ast.parse(path.read_text())
             for path in sorted(PACKAGE.rglob("*.py"))}
    by_name: dict[str, list] = {}
    key_of: dict[int, str] = {}
    defaulted = set()
    for key, lookup, pos, params, dflt, node in _package_functions(trees):
        by_name.setdefault(lookup, []).append((key, pos, params))
        key_of[id(node)] = key
        defaulted |= {(key, p) for p in dflt}

    edges = []  # (callee key, parameter, forwarded (caller key, parameter) or None)

    def forwarded(arg, scopes):
        if not isinstance(arg, ast.Name):
            return None
        for scope in reversed(scopes):
            a = scope.args
            if arg.id in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
                return (key_of.get(id(scope)), arg.id)
        return None

    def visit(node, scopes):
        for child in ast.iter_child_nodes(node):
            inner = scopes + [child] if isinstance(child, (*_FUNCS, ast.Lambda)) else scopes
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                for key, pos, params in by_name.get(name, []):
                    for i, arg in enumerate(child.args):
                        if isinstance(arg, ast.Starred):
                            edges.extend((key, p, None) for p in pos[i:])
                            break
                        if i < len(pos):
                            edges.append((key, pos[i], forwarded(arg, scopes)))
                    for kw in child.keywords:
                        if kw.arg is None:
                            edges.extend((key, p, None) for p in params)
                        else:
                            edges.append((key, kw.arg, forwarded(kw.value, scopes)))
            visit(child, inner)

    for tree in [*trees.values(), *(ast.parse(path.read_text()) for path in ENTRY_POINTS)]:
        visit(tree, [])
    passed: set = set()
    while new := {(k, p) for k, p, via in edges
                  if (k, p) in defaulted - passed and (via not in defaulted or via in passed)}:
        passed |= new
    unpassed = [f"{key}({p})" for key, p in sorted(defaulted - passed)]
    assert not unpassed, "defaulted parameters no caller passes:\n  " + "\n  ".join(unpassed)
