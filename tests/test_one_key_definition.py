"""Static guard: each quadtree-key constant is assigned in one package
module, and the package has one coarse index (calcqts' ``cell``; the
depth-``COVER_DEPTH`` grid is the join cover), so no module imports a
second cell scheme.
"""

import ast
import os
from collections import defaultdict

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "osmquadtree_rust_bindings_spark")

KEY_CONSTANTS = ("COORD_SCALE", "MAX_DEPTH", "BUF_DEN", "UNITS", "QT_BUFFER",
                 "GROUP_TARGET", "MAX_QT_LEVEL", "CELL_LEVEL", "COVER_DEPTH")


def _trees():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                yield os.path.relpath(full, PKG), ast.parse(open(full).read())


def _module_assigned(tree):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    yield n.id


def test_each_key_constant_assigned_once():
    where = defaultdict(list)
    for rel, tree in _trees():
        for name in set(_module_assigned(tree)) & set(KEY_CONSTANTS):
            where[name].append(rel)
    dup = {k: sorted(v) for k, v in where.items() if len(v) > 1}
    assert not dup, f"key constants assigned in more than one module: {dup}"


def test_no_module_imports_cells():
    for rel, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                mods = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            assert not any(m == "cells" or m.endswith(".cells")
                           for m in mods), f"{rel} imports cells"
