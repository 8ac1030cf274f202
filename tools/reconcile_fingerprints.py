"""Function-granular fingerprint reconcile for the registry rotation.

Problem (round 10): ``_query_fingerprint`` hashes whole module files —
deliberately coarse ("err toward re-verifying more, never less") — so
APPENDING new operators to a shared module (e.g. four new functions in
``operators/relational.py``) flags every key in that module as
changed-since-verification, even though the functions those keys
actually execute are byte-identical to what the driver verified. With a
50-row driver window, that false flagging crowds genuinely-unverified
keys out (r9 verdict item 1 demanded the opposite priority).

This tool reconciles: for each key whose stored fingerprint mismatches,
it diffs the key's TRANSITIVELY-USED top-level definitions between the
git baseline tree (the commit the last driver run verified — the same
tree ``tools/update_fingerprints.py`` recorded at round start) and the
working tree. Only if EVERY module in the key's closure satisfies

  - parses under ``ast`` in both versions,
  - top-level non-def statements (imports, constants, module docstring
    — the "residue") are source-identical, and
  - no definition the key transitively references (by conservative
    name-set fixpoint over ``co_names``/AST names — collisions
    over-approximate, never under) was added, removed, or edited,

is the stored fingerprint refreshed to the current module hash — i.e.
the key's existing driver-green evidence is declared to still cover the
code it runs. Any doubt (new module, parse failure, residue change,
name intersection) leaves the key flagged. Keys with no driver evidence
at all are untouched — they sort first regardless of fingerprints.

Oracle provenance (r14): a key's driver evidence covers the PAIR
(Spark query, rendered oracle SQL), so the reconcile also refuses when
the key's ``oracle_sql()`` dict-entry source changed (inline f-string
oracles) and seeds the used-name fixpoint with that entry's names
(oracle GENERATOR functions, which the Spark-side closure never
mentions — found live in r14 when `stratified_sample_oracle` literal
rendering changed but the key reconciled). ``_query_fingerprint``
hashes the rendered oracle for the same reason.

Rendered-oracle ground truth (r15): the name-seed approach cannot see
through ENTRY-LOCAL oracle-generator helpers — a dict entry naming
``_minhash_lsh_oracle`` never pulls in ``_minhash_pairs_ctes`` (both
entry-local; the fixpoint only expands through package-module defs), so
an edit to the nested helper reconciled 8 keys whose rendered SQL had
genuinely changed (found live in r15). The reconcile now renders
``oracle_sql()`` in a detached worktree of the baseline commit and
refuses to clear any key whose rendered oracle differs — the same
worktree diff the verify notes prescribe as ground truth, now enforced
mechanically instead of relied on manually.

Safety net: ``tests/test_entry_contract.py`` oracle-checks every
registry key against DuckDB locally each round regardless of window
position, so even a hypothetical closure miss (dynamic dispatch the
name walk cannot see) cannot hide an actual correctness break — it
could only delay the DRIVER's re-attestation by a round.

Run: ``python tools/reconcile_fingerprints.py <baseline-commit>
[--apply]`` (dry-run by default; prints the would-reconcile verdict per
flagged key).
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

#: The checkout this tool belongs to (tools/..), whatever the cwd.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _def_map(tree: ast.Module, source: str) -> dict[str, str]:
    """name → exact source segment (decorators included) for each
    top-level function/class definition."""
    lines = source.splitlines(keepends=True)
    out: dict[str, str] = {}
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            out[node.name] = "".join(lines[start - 1 : node.end_lineno])
    return out


def _residue(tree: ast.Module, source: str) -> list[str]:
    """Source segments of top-level statements that are NOT defs — the
    module-level code every import of the module executes."""
    lines = source.splitlines(keepends=True)
    return [
        "".join(lines[n.lineno - 1 : n.end_lineno])
        for n in tree.body
        if not isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
    ]


def _names_in(node: ast.AST) -> set[str]:
    """Every Name id and Attribute attr under ``node`` — the
    conservative reference universe of a definition's body."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def module_delta(old_src: str, new_src: str):
    """(changed_def_names, residue_changed) between two module sources;
    raises on parse failure (caller treats as not-reconcilable)."""
    old_tree, new_tree = ast.parse(old_src), ast.parse(new_src)
    old_defs, new_defs = _def_map(old_tree, old_src), _def_map(
        new_tree, new_src
    )
    changed = {
        name
        for name in set(old_defs) | set(new_defs)
        if old_defs.get(name) != new_defs.get(name)
    }
    return changed, _residue(old_tree, old_src) != _residue(
        new_tree, new_src
    )


def _oracle_entry_segments(
    entry_src: str,
) -> dict[str, tuple[str, set[str]]]:
    """key → (exact source segment of its ``oracle_sql()`` dict value,
    names referenced in that expression). Only dicts RETURNED by
    ``oracle_sql`` are scanned, so nested dict literals inside a value
    cannot shadow a registry key's segment."""
    tree = ast.parse(entry_src)
    lines = entry_src.splitlines(keepends=True)
    out: dict[str, tuple[str, set[str]]] = {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.FunctionDef) and node.name == "oracle_sql"):
            continue
        for sub in ast.walk(node):
            if not (isinstance(sub, ast.Return) and isinstance(sub.value, ast.Dict)):
                continue
            for k, v in zip(sub.value.keys, sub.value.values):
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    seg = "".join(lines[v.lineno - 1 : v.end_lineno])
                    out[k.value] = (seg, _names_in(v))
    return out


def _used_names(
    entry, key: str, modules: list[str], extra_seed: set[str] | None = None
) -> set[str]:
    """Name-set fixpoint: start from the key's entry-side code objects
    (plus ``extra_seed`` — the names in its oracle_sql dict entry, so
    oracle GENERATOR functions join the closure), then absorb the
    internal names of every closure-module top-level def whose name is
    already in the set, until stable."""
    fn = entry._base_queries()[key]
    seen: set = set()
    mods: set[str] = set()
    local_fns: list = []
    entry._impl_closure(fn, seen, mods, local_fns)

    used: set[str] = set(extra_seed or ())
    stack = [f.__code__ for f in [fn] + local_fns if hasattr(f, "__code__")]
    while stack:
        c = stack.pop()
        used.update(c.co_names)
        for const in c.co_consts:
            if hasattr(const, "co_names"):
                stack.append(const)

    import importlib

    defs_by_name: dict[str, list[ast.AST]] = {}
    for mod_name in modules:
        mod = importlib.import_module(mod_name)
        src = open(mod.__file__).read()
        tree = ast.parse(src)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs_by_name.setdefault(node.name, []).append(node)

    absorbed: set[str] = set()
    while True:
        frontier = (used & set(defs_by_name)) - absorbed
        if not frontier:
            return used
        for name in frontier:
            absorbed.add(name)
            for node in defs_by_name[name]:
                used |= _names_in(node)


def _git_show(commit: str, path: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "show", f"{commit}:{path}"],
            capture_output=True, text=True, check=True, cwd=ROOT,
        ).stdout
    except subprocess.CalledProcessError:
        return None


def _baseline_rendered_oracles(baseline: str) -> dict[str, str] | None:
    """Render ``oracle_sql()`` in a detached worktree of ``baseline`` —
    the ground-truth side of the rendered-oracle reconcile gate. Returns
    None when the baseline tree cannot be rendered (caller treats every
    key as not-reconcilable; err toward re-verifying)."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="fp_base_")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", tmp, baseline],
            capture_output=True, text=True, check=True, cwd=ROOT,
        )
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                "import json, sys; sys.path.insert(0, %r); "
                "import __spark_entry__ as em; "
                "json.dump(em.oracle_sql(), sys.stdout)" % tmp,
            ],
            capture_output=True, text=True, cwd=tmp, timeout=600,
        )
        if proc.returncode != 0:
            return None
        return json.loads(proc.stdout)
    except (subprocess.SubprocessError, OSError, ValueError):
        return None
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", tmp],
            capture_output=True, text=True, cwd=ROOT,
        )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--apply"]
    apply = "--apply" in sys.argv[1:]
    if not args:
        print("usage: reconcile_fingerprints.py <baseline-commit> [--apply]")
        return 2
    baseline = args[0]

    sys.path.insert(0, ROOT)
    import importlib

    import __spark_entry__ as entry

    here = ROOT
    last_seen = dict(entry._evidence_last_seen(here))
    stored_list = entry._stored_fingerprints(here)
    stored = {k: v for k, v in stored_list}

    # Per-module delta cache: module name -> (changed_names, dirty)
    delta_cache: dict[str, tuple[set[str], bool]] = {}

    def delta_for(mod_name: str):
        if mod_name in delta_cache:
            return delta_cache[mod_name]
        mod = importlib.import_module(mod_name)
        rel = os.path.relpath(mod.__file__, ROOT)
        new_src = open(mod.__file__).read()
        old_src = _git_show(baseline, rel)
        if old_src is None:
            d = (set(), True)  # new module: never reconcilable
        elif old_src == new_src:
            d = (set(), False)
        else:
            try:
                changed, residue = module_delta(old_src, new_src)
                d = (changed, residue)
            except SyntaxError:
                d = (set(), True)
        delta_cache[mod_name] = d
        return d

    # Entry-local def map at the baseline vs now: a key's fingerprint
    # also covers its own q_* wrapper and any entry helpers it calls
    # (_query_fingerprint hashes their sources), so an entry-ONLY edit
    # (e.g. a changed query parameterization) must keep the key flagged
    # even when every package module reconciles — the r12 gap: before
    # this check, an edited-then-reconciled entry wrapper silently
    # escaped driver re-verification.
    old_entry_src = _git_show(baseline, "__spark_entry__.py")
    new_entry_src = open(f"{here}/__spark_entry__.py").read()
    entry_changed: set[str] = set()
    old_oracles: dict[str, tuple[str, set[str]]] = {}
    new_oracles: dict[str, tuple[str, set[str]]] = {}
    if old_entry_src is None:
        entry_changed = {"*"}  # unreadable baseline: never reconcile
    else:
        try:
            new_oracles = _oracle_entry_segments(new_entry_src)
            old_oracles = (
                new_oracles
                if old_entry_src == new_entry_src
                else _oracle_entry_segments(old_entry_src)
            )
            if old_entry_src != new_entry_src:
                # module_delta's def-diff; entry residue (oracle helper
                # constants etc.) is NOT part of _query_fingerprint, so
                # the residue flag is deliberately ignored here.
                entry_changed, _ = module_delta(old_entry_src, new_entry_src)
        except SyntaxError:
            entry_changed = {"*"}

    reconciled, kept = [], []
    with open(f"{here}/QUERY_FINGERPRINTS.json") as fh:
        fps = json.load(fh)
    rendered_now: dict[str, str] | None = None
    rendered_base: dict[str, str] | None = None
    base_render_tried = False
    for key in entry._base_queries():
        if key not in last_seen:
            continue  # no evidence — tier 0 regardless; leave alone
        rec = stored.get(key)
        cur = entry._query_fingerprint(key)
        if rec is None or cur is None or cur == rec:
            continue
        # Rendered-oracle ground truth (r15): refuse whenever the key's
        # rendered oracle SQL differs from the baseline tree's rendering
        # — catches edits routed through entry-local oracle-generator
        # helpers that the name-seed walk below cannot see.
        if rendered_now is None:
            rendered_now = entry.oracle_sql()
        if not base_render_tried:
            base_render_tried = True
            rendered_base = _baseline_rendered_oracles(baseline)
        if rendered_base is None:
            kept.append((key, "baseline oracle render failed"))
            continue
        if rendered_now.get(key) != rendered_base.get(key):
            kept.append((key, "rendered oracle SQL changed vs baseline"))
            continue
        fn = entry._base_queries()[key]
        seen: set = set()
        mods: set[str] = set()
        local_fns: list = []
        entry._impl_closure(fn, seen, mods, local_fns)
        local_names = {
            getattr(f, "__name__", "") for f in [fn, *local_fns]
        }
        # Oracle provenance (r14 rotation-gap fix): the key's
        # oracle_sql dict-entry SOURCE must be unchanged (catches
        # inline f-string oracle edits), and names it references join
        # the used-set seed below (catches edits to oracle GENERATOR
        # functions the Spark-side closure never mentions).
        old_seg = old_oracles.get(key)
        new_seg = new_oracles.get(key)
        if "*" not in entry_changed and (
            (old_seg[0] if old_seg else None)
            != (new_seg[0] if new_seg else None)
        ):
            kept.append((key, "oracle_sql entry source changed"))
            continue
        oracle_names = new_seg[1] if new_seg else set()
        entry_hit = (
            entry_changed & (local_names | oracle_names)
            if "*" not in entry_changed
            else {"<entry baseline unreadable>"}
        )
        if entry_hit:
            kept.append(
                (key, f"entry-local def changed {sorted(entry_hit)[:4]}")
            )
            continue
        # the transitive module closure _query_fingerprint uses —
        # delegate to the entry's own walk (r19: an AST walk over each
        # module's import statements, function bodies included, which
        # the old vars()-only replica missed — shard.py reaches
        # pipeline.dedup/components only that way, so this tool cleared
        # curated_corpus_neardup after a dedup edit)
        modules = list(entry._closure_modules(key) or sorted(mods))
        unknown = [m for m in modules if m.startswith("unparseable:")]
        if unknown:
            kept.append((key, f"{unknown[0]}: closure incomplete"))
            continue
        used = _used_names(entry, key, modules, extra_seed=oracle_names)
        ok = True
        why = ""
        for m in modules:
            changed, dirty = delta_for(m)
            if dirty:
                ok, why = False, f"{m}: residue/new/unparseable"
                break
            hit = used & changed
            if hit:
                ok, why = False, f"{m}: uses changed {sorted(hit)[:4]}"
                break
        if ok:
            reconciled.append(key)
            if isinstance(fps.get(key), dict):
                fps[key]["fp"] = cur
            else:
                fps[key] = cur
        else:
            kept.append((key, why))

    for k in reconciled:
        print(f"reconcile {k}")
    for k, why in kept:
        print(f"keep      {k} — {why}")
    print(f"\n{len(reconciled)} reconciled, {len(kept)} kept flagged")
    if apply and reconciled:
        with open(f"{here}/QUERY_FINGERPRINTS.json", "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
        print("QUERY_FINGERPRINTS.json updated")
    elif reconciled:
        print("(dry run — pass --apply to write)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
