"""Every import statement in the package, the driver entry module and
tools/ resolves, including imports inside function bodies.

Readers and query builders import their parsers lazily, inside the
function that uses them, so a stale import only fails on the first
call. This walks the AST instead: each ``import X`` needs a spec for X,
and each ``from X import Y`` needs a spec for X plus Y as either a
submodule of X or an attribute of it. Imports under a ``try`` that
catches ImportError are optional by design and are skipped.
"""

import ast
import importlib
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "historicaldatadocumentparsersystem_spark"
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def _sources() -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PKG, "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith(".py")]
    return sorted(out)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[:-len(".__init__")] if rel.endswith(".__init__") else rel


def _guards_import_error(node: ast.Try) -> bool:
    for h in node.handlers:
        names = ([h.type] if not isinstance(h.type, ast.Tuple)
                 else h.type.elts) if h.type is not None else []
        if h.type is None or any(
                isinstance(n, ast.Name) and n.id in (
                    "ImportError", "ModuleNotFoundError", "Exception")
                for n in names):
            return True
    return False


def _imports(path: str):
    """(lineno, module, name-or-None) for every non-optional import."""
    tree = ast.parse(open(path).read(), path)
    mod = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    optional = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Try) and _guards_import_error(node):
            for stmt in node.body:
                optional.update(id(n) for n in ast.walk(stmt))
    for node in ast.walk(tree):
        if id(node) in optional:
            continue
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = mod.split(".")
                parts = parts[:len(parts) - node.level + (1 if is_pkg
                                                          else 0)]
                base = ".".join(parts + ([base] if base else []))
            for a in node.names:
                yield node.lineno, base, a.name


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: os.path.relpath(p, ROOT))
def test_every_import_resolves(path):
    bad = []
    for lineno, module, name in _imports(path):
        if module == "__future__":
            continue
        try:
            spec = importlib.util.find_spec(module)
        except (ImportError, ValueError):
            spec = None
        if spec is None:
            bad.append(f"{lineno}: no module {module}")
            continue
        if name is None or name == "*":
            continue
        if (spec.submodule_search_locations is not None
                and importlib.util.find_spec(f"{module}.{name}")):
            continue
        if not hasattr(importlib.import_module(module), name):
            bad.append(f"{lineno}: {module} has no {name}")
    assert not bad, f"{os.path.relpath(path, ROOT)}: {bad}"
