"""Static reachability check of ``__spark_entry__.py``: no orphaned helpers.

Every top-level function and constant of the driver entry must be reachable
from ``entry``, ``queries`` or ``oracle_sql`` (the driver contract), or be
used by name through ``import __spark_entry__`` from bench.py, ``scripts/``,
``perfbench/`` or ``tests/``.  A query deleted without its helpers leaves
them behind; this walk finds them with ``ast``, without running any code.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = "__spark_entry__"
ROOTS = ("entry", "queries", "oracle_sql")


def _bound_names(node):
    """Names a top-level function or constant statement defines."""
    if isinstance(node, ast.FunctionDef):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [
            n.id for t in node.targets for n in ast.walk(t)
            if isinstance(n, ast.Name)
        ]
    return []


def _definitions():
    """{top-level name: names its definition refers to}."""
    with open(os.path.join(REPO, f"{ENTRY}.py")) as f:
        tree = ast.parse(f.read())
    defs = {}
    for node in tree.body:
        used = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        for name in _bound_names(node):
            defs.setdefault(name, set()).update(used - {name})
    return defs


def _external_uses():
    """Names other code reads from the entry module: ``alias.<name>`` after
    ``import __spark_entry__ as alias``, and ``from __spark_entry__ import
    <name>``."""
    files = [os.path.join(REPO, "bench.py")]
    for top in ("scripts", "perfbench", "tests"):
        for root, _, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    used = set()
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                aliases |= {a.asname or a.name for a in node.names if a.name == ENTRY}
            elif isinstance(node, ast.ImportFrom) and node.module == ENTRY:
                used |= {a.name for a in node.names}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
            ):
                used.add(node.attr)
    return used


def _unreachable(defs, external):
    seen, todo = set(), [n for n in (*ROOTS, *external) if n in defs]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [n for n in defs[name] if n in defs]
    return sorted(set(defs) - seen)


def test_every_entry_helper_is_reachable():
    defs = _definitions()
    assert set(ROOTS) <= set(defs)
    assert _unreachable(defs, _external_uses()) == []
