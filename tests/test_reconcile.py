"""Unit tests for tools/reconcile_fingerprints.py's diff engine — the
function-granular module delta and the conservative name walk. The
git-facing driver loop is exercised by running the tool in dry-run mode
against the repo's own baseline each round; these tests pin the parts
whose failure modes would be silent (a changed def not detected, or a
residue change slipping through)."""

from __future__ import annotations

import ast

from tools.reconcile_fingerprints import _names_in, module_delta

OLD = '''
"""doc"""
import os

LIMIT = 3


def keep(x):
    return x + LIMIT


def edited(x):
    return x * 2


def removed():
    return 1
'''

NEW_EDIT = OLD.replace("return x * 2", "return x * 3").replace(
    "def removed():\n    return 1\n", ""
) + "\n\ndef added(y):\n    return y\n"


def test_module_delta_flags_edited_removed_added_only():
    changed, residue = module_delta(OLD, NEW_EDIT)
    assert changed == {"edited", "removed", "added"}
    assert residue is False  # imports/constants untouched


def test_module_delta_residue_change_detected():
    changed, residue = module_delta(OLD, OLD.replace("LIMIT = 3", "LIMIT = 4"))
    assert changed == set()
    assert residue is True  # module-level constant changed → not safe


def test_module_delta_decorator_edit_counts_as_def_change():
    src = "import functools\n\n@functools.lru_cache(maxsize=2)\ndef f():\n    return 1\n"
    changed, residue = module_delta(
        src, src.replace("maxsize=2", "maxsize=9")
    )
    assert changed == {"f"}
    assert residue is False


def test_names_in_sees_attributes_and_names():
    node = ast.parse("def f():\n    return pkg.helper(other(X))\n").body[0]
    names = _names_in(node)
    assert {"pkg", "helper", "other", "X"} <= names


def test_whitespace_only_module_change_reconciles():
    """A trailing-newline or comment-only append outside any def leaves
    every def segment identical — changed set must be empty (this is
    the exact shape of the relational.py append that motivated the
    tool: new defs added, old defs byte-identical)."""
    changed, residue = module_delta(OLD, OLD + "\n")
    assert changed == set()
    assert residue is False


def test_entry_local_def_edit_is_a_change(tmp_path):
    """r12: a key whose ONLY change is its entry-side q_* wrapper (or an
    entry helper it calls) must stay flagged — _query_fingerprint hashes
    those sources, and before r12 the reconciler never diffed them, so
    an entry-only edit could silently escape driver re-verification.
    The def-diff reuses module_delta; entry residue is ignored there."""
    old = (
        "X = 1\n"
        "def q_alpha(spark, sf):\n    return 1\n"
        "def q_beta(spark, sf):\n    return 2\n"
    )
    new = (
        "X = 2\n"  # residue change: irrelevant to entry-local diffing
        "def q_alpha(spark, sf):\n    return 1\n"
        "def q_beta(spark, sf):\n    return 99\n"
    )
    changed, residue = module_delta(old, new)
    assert changed == {"q_beta"}
    assert residue  # module_delta reports it; the entry path ignores it


ENTRY_WITH_ORACLES = '''
def q_alpha(spark, sf):
    return alpha_impl(spark)


def oracle_sql():
    return {
        "alpha": alpha_oracle(RATES, budget=3),
        "beta": f"""
            SELECT x FROM t WHERE y < {THRESH}
        """,
    }
'''


def test_oracle_entry_segments_extracts_source_and_names():
    from tools.reconcile_fingerprints import _oracle_entry_segments

    segs = _oracle_entry_segments(ENTRY_WITH_ORACLES)
    assert set(segs) == {"alpha", "beta"}
    alpha_src, alpha_names = segs["alpha"]
    assert "alpha_oracle(RATES, budget=3)" in alpha_src
    assert {"alpha_oracle", "RATES"} <= alpha_names
    beta_src, beta_names = segs["beta"]
    assert "THRESH" in beta_names
    # an INLINE oracle edit changes the segment (the reconcile refusal
    # condition for f-string oracles)
    edited = ENTRY_WITH_ORACLES.replace("y < {THRESH}", "y <= {THRESH}")
    assert (
        _oracle_entry_segments(edited)["beta"][0] != beta_src
    )
    # nested dict literals inside a value cannot shadow registry keys
    nested = ENTRY_WITH_ORACLES.replace(
        'alpha_oracle(RATES, budget=3)',
        'alpha_oracle({"alpha": 1}, budget=3)',
    )
    assert "alpha_oracle" in _oracle_entry_segments(nested)["alpha"][0]


def test_oracle_generator_edit_keeps_key_flagged():
    """The r14 blind spot, pinned: a key whose SPARK-side defs are
    untouched but whose oracle GENERATOR function changed must NOT
    reconcile — the oracle names seed the used-name fixpoint."""
    from tools.reconcile_fingerprints import (
        _names_in,
        _oracle_entry_segments,
        module_delta,
    )

    old_mod = (
        "def alpha_impl(spark):\n    return spark\n\n\n"
        "def alpha_oracle(rates, budget):\n    return 'SELECT 1'\n"
    )
    new_mod = old_mod.replace("SELECT 1", "SELECT 2")
    changed, residue = module_delta(old_mod, new_mod)
    assert changed == {"alpha_oracle"} and residue is False
    # the spark-side closure alone would MISS it...
    spark_side_names = {"alpha_impl"}
    assert not (changed & spark_side_names)
    # ...but the oracle-entry seed catches it
    _, oracle_names = _oracle_entry_segments(ENTRY_WITH_ORACLES)["alpha"]
    assert changed & oracle_names == {"alpha_oracle"}


def test_entry_local_nested_oracle_helper_needs_rendered_gate():
    """The r15 blind spot, pinned: an oracle dict entry naming only the
    TOP-LEVEL entry-local generator (``x_oracle``) never seeds the
    NESTED entry-local helper it calls (``_x_ctes``) — both live in the
    entry module, and the name fixpoint only expands through
    package-module defs — so a ``_x_ctes`` edit slips past the
    name-based guard. The rendered-oracle comparison is what catches it
    (reconcile now refuses on any rendered-SQL difference vs the
    baseline tree)."""
    from tools.reconcile_fingerprints import (
        _oracle_entry_segments,
        module_delta,
    )

    old_entry = (
        "def _x_ctes(th):\n"
        "    return f'pairs AS (SELECT * FROM t WHERE j >= {th})'\n\n\n"
        "def x_oracle(th):\n"
        "    return f'WITH {_x_ctes(th)} SELECT * FROM pairs'\n\n\n"
        "def oracle_sql():\n"
        "    return {'x': x_oracle(0.7)}\n"
    )
    new_entry = old_entry.replace("j >= {th}", "j >= {th}e0")
    entry_changed, _ = module_delta(old_entry, new_entry)
    assert entry_changed == {"_x_ctes"}
    _, oracle_names = _oracle_entry_segments(new_entry)["x"]
    # the dict-entry seed names only the top-level generator...
    assert "x_oracle" in oracle_names and "_x_ctes" not in oracle_names
    # ...so the name-based guard alone misses the nested edit
    assert not (entry_changed & oracle_names)
    # the rendered SQL, however, differs — the gate reconcile enforces
    ns_old: dict = {}
    ns_new: dict = {}
    exec(old_entry, ns_old)
    exec(new_entry, ns_new)
    assert ns_old["oracle_sql"]()["x"] != ns_new["oracle_sql"]()["x"]


def test_baseline_rendered_oracles_worktree():
    """_baseline_rendered_oracles renders the full registry out of a
    detached worktree of a historical commit (the ground-truth side of
    the reconcile gate) and cleans the worktree up."""
    import subprocess

    from tools.reconcile_fingerprints import ROOT, _baseline_rendered_oracles

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"],
        capture_output=True, text=True, check=True, cwd=ROOT,
    ).stdout.strip()
    rendered = _baseline_rendered_oracles(head)
    assert rendered is not None and len(rendered) >= 130
    assert all(isinstance(v, str) and v.strip() for v in rendered.values())
    assert "wordcount_rolling_sum" in rendered
    # a bogus commit renders as None (caller keeps every key flagged)
    assert _baseline_rendered_oracles("0" * 40) is None
    leftover = subprocess.run(
        ["git", "worktree", "list"],
        capture_output=True, text=True, check=True, cwd=ROOT,
    ).stdout
    assert "fp_base_" not in leftover


def test_fingerprint_covers_rendered_oracle():
    """_query_fingerprint must change when ONLY the rendered oracle SQL
    changes (monkeypatched render), so oracle edits re-enter the driver
    window."""
    import __spark_entry__ as em

    key = "stratified_sample"
    base = em._query_fingerprint(key)
    rendered = dict(em._rendered_oracles())
    rendered[key] = rendered[key] + " -- tweak"
    orig = em._rendered_oracles
    try:
        em._rendered_oracles = lambda: rendered
        em._query_fingerprint.cache_clear()
        assert em._query_fingerprint(key) != base
    finally:
        em._rendered_oracles = orig
        em._query_fingerprint.cache_clear()
    assert em._query_fingerprint(key) == base
