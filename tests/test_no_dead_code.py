"""Guard against dead top-level code in the package.

Every undecorated top-level function or class, and every name a
module-level assignment binds, under ``osm_read_enhanced_spark/`` must
be named somewhere in the checkout's ``.py`` files other than at its
own definition: as an identifier, an attribute or an imported name.
Decorated definitions (the ``@q``-registered catalog queries, Spark
UDFs) are reached through their decorator, and dunder names such as
``__all__`` through the interpreter; both are exempt. There is no
allowlist: a name nothing uses is deleted, not excused.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "osm_read_enhanced_spark")


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _names(tree) -> Counter:
    """Identifiers, attribute names and imported names in ``tree``."""
    names = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names[node.id] += 1
        elif isinstance(node, ast.Attribute):
            names[node.attr] += 1
        elif isinstance(node, ast.alias):
            names[node.name.rsplit(".", 1)[-1]] += 1
    return names


def _assigned(node):
    """Names a module-level assignment binds (tuple targets unpacked)."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Store)
        and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def test_every_top_level_definition_is_used():
    used = Counter()
    defs = []
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        used += _names(tree)
        if path.startswith(PACKAGE + os.sep):
            rel = os.path.relpath(path, ROOT)
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if not node.decorator_list:
                        defs.append((rel, node.name, node))
                else:
                    defs += [(rel, name, node) for name in _assigned(node)]
    # a name used only inside its own definition (recursion, or the
    # assignment's own target) is unused
    dead = sorted(
        f"{path}::{name}" for path, name, node in defs if used[name] == _names(node)[name]
    )
    assert not dead, "top-level definitions named nowhere else:\n" + "\n".join(dead)
