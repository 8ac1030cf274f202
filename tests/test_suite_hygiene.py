"""Suite and tool-tree self-checks. A module-level redefinition SILENTLY
replaces the earlier test (caught live in r17: a new interval-join family
reused an existing family's name and deleted its DuckDB-oracle variant
from collection — the count dropped by one with zero warnings). And
round-numbered one-off probe scripts must not grow back under tools/:
ad-hoc measurement goes through tools/probe.py."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_no_duplicate_definition_names_in_test_modules():
    offenders = []
    for path in sorted(glob.glob(os.path.join(HERE, "test_*.py"))):
        tree = ast.parse(open(path).read())

        def walk(node, scope):
            names = Counter(
                n.name
                for n in ast.iter_child_nodes(node)
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            )
            offenders.extend(
                f"{os.path.basename(path)}{scope}::{name} x{c}"
                for name, c in names.items()
                if c > 1
            )
            for n in ast.iter_child_nodes(node):
                if isinstance(n, ast.ClassDef):
                    walk(n, f"{scope}::{n.name}")

        walk(tree, "")
    assert not offenders, offenders


def test_no_round_numbered_tool_scripts():
    assert not glob.glob(os.path.join(ROOT, "tools", "*_r[0-9]*.py"))


def test_tools_derive_the_checkout_root_from_their_own_path():
    """No tool hard-codes this checkout's absolute path: a copy of the
    tree elsewhere (a baseline worktree, a benchmark checkout) must run
    its own code, not this one's."""
    offenders = [
        os.path.relpath(path, ROOT)
        for path in sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
        + [os.path.join(ROOT, "bench.py")]
        if ROOT in open(path).read()
    ]
    assert not offenders, offenders
