"""Static import resolution: every ``literature_to_facts_spark`` import in
the package, the scripts, the benchmarks and the driver entry resolves.

Most cross-module imports here are function-local (query bodies, bench
probes, streaming batch functions), so a dangling one fails only when its
function runs.  This walks every import statement with ``ast`` — module
level and nested — and checks the target module exists and defines each
imported name, without running any of the importing code."""

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "literature_to_facts_spark"


def _sources():
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for top in (PKG, "scripts", "perfbench"):
        for root, _, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    return sorted(files)


def _package_of(path):
    """Dotted package a file inside the package belongs to (relative-import
    anchor), or None outside it."""
    parts = os.path.relpath(path, REPO).split(os.sep)
    return ".".join(parts[:-1]) if parts[0] == PKG else None


def _imports(path):
    """(module, [names]) for every package import in ``path``; names is
    empty for a bare ``import pkg.mod``."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    anchor = _package_of(path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(a.name, []) for a in node.names if a.name.split(".")[0] == PKG]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                if anchor is None:
                    continue
                base = anchor.split(".")
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([mod] if mod else []))
            if mod.split(".")[0] == PKG:
                out.append((mod, [a.name for a in node.names]))
    return out


SOURCES = {os.path.relpath(p, REPO): _imports(p) for p in _sources()}


def test_import_walk_sees_nested_imports():
    # the walk must reach function-local imports, not only module level
    nested = (f"{PKG}.engine.kgquery", ["predicate_stats"])
    assert nested in SOURCES["__spark_entry__.py"]


def _resolves(mod):
    try:
        return importlib.util.find_spec(mod) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


@pytest.mark.parametrize("src", sorted(SOURCES))
def test_package_imports_resolve(src):
    missing = []
    for mod, names in SOURCES[src]:
        if not _resolves(mod):
            missing.append(mod)
            continue
        module = importlib.import_module(mod)
        missing += [
            f"{mod}.{name}"
            for name in names
            if not hasattr(module, name) and not _resolves(f"{mod}.{name}")
        ]
    assert not missing, f"{src} imports what does not exist: {missing}"
