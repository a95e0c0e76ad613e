"""Guard against dead top-level code in the package.

Every undecorated top-level function or class under
``osm_read_enhanced_spark/`` must be named somewhere in the checkout's
``.py`` files other than at its own definition: as an identifier, an
attribute or an imported name. Decorated definitions (the ``@q``-
registered catalog queries, Spark UDFs) are reached through their
decorator and are exempt. There is no allowlist: a name nothing uses
is deleted, not excused.
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


def test_every_top_level_definition_is_used():
    used = Counter()
    defs = []
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        used += _names(tree)
        if path.startswith(PACKAGE + os.sep):
            defs += [
                (os.path.relpath(path, ROOT), node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ]
    # a name used only inside its own definition (recursion) is unused
    dead = sorted(
        f"{path}::{node.name}"
        for path, node in defs
        if used[node.name] == _names(node)[node.name]
    )
    assert not dead, "top-level definitions named nowhere else:\n" + "\n".join(dead)
