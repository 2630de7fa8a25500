"""Every import statement in the package, the driver entry module and
tools/ resolves, including imports inside function bodies.

Readers and query builders import their parsers lazily, inside the
function that uses them, so a stale import only fails on the first
call. This walks the AST instead: each ``import X`` needs a spec for X,
and each ``from X import Y`` needs a spec for X plus Y as either a
submodule of X or an attribute of it. Imports under a ``try`` that
catches ImportError are optional by design and are skipped.

The same walk pins four more things: every walked file compiles with
SyntaxWarning and DeprecationWarning raised as errors (an invalid
escape such as ``"\\;"`` is a SyntaxError in future Pythons); the
static import closure of the flagship (``pipeline`` + ``catalog``) is
a reviewed list, so a change that widens it shows up as a diff here;
every package module is reached from the package's entry points,
so a module left behind when its last importer is deleted fails by
name; and every package module imports without error.
"""

import ast
import functools
import importlib
import importlib.util
import os
import sys
import warnings

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


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: os.path.relpath(p, ROOT))
def test_compiles_without_warnings(path):
    with open(path) as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        compile(src, path, "exec")


# The modules the flagship job imports, function-body imports and the
# packages they sit in included (about 6.2k lines). Widening this set
# is a design decision; update the list in the same change.
FLAGSHIP_CLOSURE = (
    "", "catalog", "pipeline", "extractor", "extractor.cfbx",
    "extractor.charsetx", "extractor.core", "extractor.docx",
    "extractor.epubx", "extractor.feedx", "extractor.htmlx",
    "extractor.ipynbx", "extractor.mailx", "extractor.odtx",
    "extractor.pdfx", "extractor.pptx", "extractor.rtfx",
    "extractor.sniff", "extractor.tarx", "extractor.texx",
    "extractor.xlsxx")


def _module_path(mod: str) -> str | None:
    base = os.path.join(ROOT, *mod.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _closure(roots: list[str]) -> set[str]:
    """Package modules reachable from ``roots`` through any import
    statement, plus every package on the way to each of them."""
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        mod = todo.pop()
        path = _module_path(mod)
        if mod in seen or path is None:
            continue
        seen.add(mod)
        if "." in mod:
            todo.append(mod.rsplit(".", 1)[0])
        for _, module, name in _imports(path):
            todo += [m for m in (module, name and f"{module}.{name}")
                     if m and m.split(".")[0] == PKG]
    return seen


def test_flagship_import_closure_is_pinned():
    got = _closure([f"{PKG}.pipeline", f"{PKG}.catalog"])
    want = {f"{PKG}.{m}" if m else PKG for m in FLAGSHIP_CLOSURE}
    assert sorted(got) == sorted(want)


# The package's entry points: the flagship, every query family, and
# the subsystems with a public surface of their own.
ENTRY_POINTS = ("pipeline", "catalog", "sinks", "training",
                "vector_index", "plans.checks")


def _package_modules() -> list[str]:
    pkg = os.path.join(ROOT, PKG)
    return sorted(_module_name(os.path.join(d, f))
                  for d, _, files in os.walk(pkg)
                  for f in files if f.endswith(".py"))


@functools.lru_cache(maxsize=None)
def _reached() -> frozenset[str]:
    roots = [f"{PKG}.{m}" for m in ENTRY_POINTS] + [
        m for m in _package_modules()
        if m.startswith((f"{PKG}.queries", f"{PKG}.streaming"))]
    return frozenset(_closure(roots))


@pytest.mark.parametrize("module", _package_modules())
def test_every_package_module_is_reached(module):
    assert module in _reached(), f"nothing imports {module}"


@pytest.mark.parametrize("module", _package_modules())
def test_every_package_module_imports(module):
    """The static walk above sees import statements only; this runs
    each module's top-level code, which may fail on its own."""
    importlib.import_module(module)
