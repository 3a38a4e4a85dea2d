"""Static guards: the package holds no code and no option that only tests use.

Reachability: a top-level `def`, `class` or assignment in the package is
reached when its name is used as an identifier (a name, an attribute or an
imported name) in an entry point or in another reached definition. A method
of a package class whose bases are all package classes is reached when its
name is used as an attribute there (a subclass of an outside class keeps
its methods, which the outside code may call). A mention in a docstring, a
comment or a string does not count.

Options: every defaulted parameter of a package function or method, and
every defaulted field of a frozen package dataclass, is set by some call in
an entry point or in the package (a field by position or by keyword in a
call to its class). A parameter or field that no caller sets is a constant,
and belongs in the module, or on the class as a `ClassVar`, as one.

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


def _attributes(nodes: list[ast.AST]) -> set[str]:
    return {n.attr for node in nodes for n in ast.walk(node) if isinstance(n, ast.Attribute)}


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def test_every_package_definition_is_reachable_from_an_entry_point():
    entry_trees = [ast.parse(path.read_text()) for path in ENTRY_POINTS]
    reached = {w for tree in entry_trees for w in _identifiers(tree)}
    reached_attrs = _attributes(entry_trees)
    modules = {str(path.relative_to(PACKAGE)): ast.parse(path.read_text())
               for path in sorted(PACKAGE.rglob("*.py"))}
    classes = {s.name for tree in modules.values() for s in tree.body if isinstance(s, ast.ClassDef)}
    # (module, definition) -> (name, reached by an attribute use only, the nodes it uses)
    pending: dict[tuple[str, str], tuple[str, bool, list[ast.AST]]] = {}
    for mod, tree in modules.items():
        for stmt in tree.body:
            body: list[ast.AST] = [stmt]
            if isinstance(stmt, ast.ClassDef) and all(
                isinstance(b, ast.Name) and b.id in classes for b in stmt.bases
            ):
                methods = [m for m in stmt.body if isinstance(m, _FUNCS) and not _dunder(m.name)]
                for m in methods:
                    pending[(mod, f"{stmt.name}.{m.name}")] = (m.name, True, [m])
                body = [*stmt.bases, *stmt.keywords, *stmt.decorator_list,
                        *(s for s in stmt.body if s not in methods)]
            names = [n for n in _defined_names(stmt) if not _dunder(n)]
            for name in names:
                pending[(mod, name)] = (name, False, body)
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= _identifiers(stmt)  # module-level code runs on import
                reached_attrs |= _attributes([stmt])
    while hit := [key for key, (name, by_attr, _) in pending.items()
                  if name in (reached_attrs if by_attr else reached)]:
        for key in hit:
            body = pending.pop(key)[2]
            reached |= {w for node in body for w in _identifiers(node)}
            reached_attrs |= _attributes(body)
    unreached = [f"{mod}: {name}" for mod, name in sorted(pending)]
    assert not unreached, "package definitions no entry point reaches:\n  " + "\n  ".join(unreached)


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _frozen_dataclass_fields(cls: ast.ClassDef) -> list[ast.AnnAssign] | None:
    """The fields of a `@dataclass(frozen=True)` class in order (a `ClassVar`
    is no field), or None for any other class."""
    frozen = any(
        isinstance(d, ast.Call) and getattr(d.func, "id", getattr(d.func, "attr", None)) == "dataclass"
        and any(k.arg == "frozen" and getattr(k.value, "value", None) is True for k in d.keywords)
        for d in cls.decorator_list
    )
    if not frozen:
        return None
    return [s for s in cls.body if isinstance(s, ast.AnnAssign) and not (
        isinstance(s.annotation, ast.Subscript) and getattr(s.annotation.value, "id", None) == "ClassVar")]


def _package_functions(trees: dict[str, ast.Module]):
    """(key, lookup name, positional params, all params, defaulted params,
    node) per package def; a method's self/cls is dropped, and `__init__`
    is looked up under its class name (a call to the class). A frozen
    dataclass counts as its generated `__init__`: its fields are the
    parameters, and a field with a default is a defaulted one."""
    out = []

    def visit(node, mod, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                fields = _frozen_dataclass_fields(child)
                if fields is not None:
                    names = [f.target.id for f in fields]
                    dflt = {f.target.id for f in fields if f.value is not None}
                    out.append((f"{mod}: {child.name}", child.name, names, names, dflt, child))
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
    """A call passes a parameter (or sets a field) by position, by keyword,
    or through a `*args` / `**kwargs` splat. It does not pass one when the
    argument is only an enclosing package function's own defaulted
    parameter that nothing passes in turn (forwarding an unset default sets
    nothing); that rule is applied until nothing changes."""
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
    assert not unpassed, "defaulted parameters and fields no caller passes:\n  " + "\n  ".join(unpassed)
