"""Every `scripts/<name>.py` or `.sh` that the package, the scripts,
the tests, the README or the verify skill names must exist, so deleting
a script also means deleting or rewording what points at it. And every
top-level definition of the package must be used somewhere, so code
that nothing calls is deleted rather than kept; likewise every name a
package module imports, and every parameter a package function takes
must be read."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
_REF = re.compile(r"scripts/([A-Za-z0-9_]+\.(?:py|sh))\b")


def _sources():
    for d in ("osm2streets_spark", "scripts", "tests"):
        for p in sorted((ROOT / d).rglob("*")):
            if p.suffix in (".py", ".sh"):
                yield p
    yield ROOT / "README.md"
    yield ROOT / ".claude" / "skills" / "verify" / "SKILL.md"


def test_named_scripts_exist():
    missing = sorted(
        f"{p.relative_to(ROOT)}: scripts/{name}"
        for p in _sources() if p.exists()
        for name in _REF.findall(p.read_text(encoding="utf-8"))
        if not (ROOT / "scripts" / name).exists())
    assert not missing, missing


def _python_files():
    for d in ("osm2streets_spark", "tests", "scripts", "perfbench"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield from sorted(ROOT.glob("bench*.py"))


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id


def test_every_definition_is_used():
    """Each top-level function, class and assignment in
    osm2streets_spark/ (dunders excepted) is loaded by name, read as an
    attribute or named as an identifier string somewhere in the
    package, tests/, scripts/, perfbench/ or bench*.py. Import
    statements do not count as a use."""
    used, defined = set(), []
    for p in _python_files():
        tree = ast.parse(p.read_text(encoding="utf-8"))
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and n.value.isidentifier():
                used.add(n.value)
        if p.is_relative_to(ROOT / "osm2streets_spark"):
            defined += [(p.relative_to(ROOT), name)
                        for name in _top_level_names(tree)
                        if not (name.startswith("__")
                                and name.endswith("__"))]
    unused = sorted(f"{p}: {name}" for p, name in defined
                    if name not in used)
    assert not unused, unused


def test_every_parameter_is_read():
    """Each parameter of every function and lambda in osm2streets_spark/
    is loaded by name somewhere in its body (nested functions
    included). A leading underscore marks a parameter that a callback
    signature requires but the body does not need."""
    unused = []
    for p in sorted((ROOT / "osm2streets_spark").rglob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.Lambda)):
                continue
            a = fn.args
            params = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs
                      + [a.vararg, a.kwarg] if x]
            body = fn.body if isinstance(fn.body, list) else [fn.body]
            read = {n.id for b in body for n in ast.walk(b)
                    if isinstance(n, ast.Name)
                    and isinstance(n.ctx, ast.Load)}
            unused += [f"{p.relative_to(ROOT)}:{fn.lineno}: {name}"
                       for name in params
                       if name not in read and not name.startswith("_")]
    assert not unused, unused


def test_every_import_is_used():
    """Each name a non-__init__ module of osm2streets_spark/ imports
    (the alias, or the first component of a dotted `import a.b`;
    `from __future__` excepted) is loaded by name in that module."""
    unused = []
    for p in sorted((ROOT / "osm2streets_spark").rglob("*.py")):
        if p.name == "__init__.py":
            continue
        tree = ast.parse(p.read_text(encoding="utf-8"))
        imported = []
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                imported += [a.asname or a.name.split(".")[0]
                             for a in n.names]
            elif isinstance(n, ast.ImportFrom) \
                    and n.module != "__future__":
                imported += [a.asname or a.name for a in n.names]
        loaded = {n.id for n in ast.walk(tree)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        unused += [f"{p.relative_to(ROOT)}: {name}" for name in imported
                   if name not in loaded]
    assert not unused, unused


# Defaulted parameters kept although nothing in the scanned trees passes
# them, each with the reason it stays a parameter.
DEFAULT_EXEMPT = {
    ("sources/reference_fixtures.py", "src"):
        "locates the external osm2streets checkout, a deployment path",
}


def _defaulted(fn):
    """(position or None if keyword-only, name) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    for i in range(len(pos) - len(a.defaults), len(pos)):
        yield i, pos[i].arg
    for x, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield None, x.arg


def _called_name(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else \
        f.attr if isinstance(f, ast.Attribute) else None


def test_every_default_is_overridden():
    """For each defaulted parameter of every function in
    osm2streets_spark/, some call of a function by that name (bare or
    as an attribute) in the package, tests/, scripts/, perfbench/,
    bench*.py or __spark_entry__.py passes it, by keyword or at its
    position; a call with `*args` or `**kwargs` passes everything. A
    default that no caller overrides is an option with one value, so
    it is a constant instead."""
    passed = {}  # name -> set of positions and keywords passed
    files = [*_python_files(), ROOT / "__spark_entry__.py"]
    trees = {p: ast.parse(p.read_text(encoding="utf-8")) for p in files}
    for tree in trees.values():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) \
                    or (name := _called_name(call)) is None:
                continue
            got = passed.setdefault(name, set())
            if any(isinstance(x, ast.Starred) for x in call.args) \
                    or any(k.arg is None for k in call.keywords):
                got.add("*")
            got.update(range(len(call.args)))
            got.update(k.arg for k in call.keywords)
    unset = []
    for p, tree in trees.items():
        if not p.is_relative_to(ROOT / "osm2streets_spark"):
            continue
        rel = p.relative_to(ROOT / "osm2streets_spark").as_posix()
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            got = passed.get(fn.name, set())
            unset += [f"{rel}:{fn.lineno}: {fn.name}({arg})"
                      for i, arg in _defaulted(fn)
                      if "*" not in got and arg not in got
                      and (i is None or i not in got)
                      and (rel, arg) not in DEFAULT_EXEMPT]
    assert not unset, unset
