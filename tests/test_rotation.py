"""Change-aware registry rotation (__spark_entry__._staleness_rotated):
never-driver-verified keys and implementation-changed-since-last-
driver-green keys share the FIRST tier (never-verified winning it via
last_seen = -1 — the r9 verdict's fix: zero evidence outranks stale
evidence), then least-recently-verified, then canonical order."""

from __future__ import annotations

import json
import subprocess
import sys

import __spark_entry__ as em


def _write_evidence(tmp_path, rounds: dict[int, list[str]]):
    for rnd, keys in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({k: {"hash_match": True} for k in keys})
        )


def test_ordering_changed_then_stalest_then_canonical(tmp_path, monkeypatch):
    base = dict(em._base_queries())
    keys = list(base)
    a, b, c, d, e = keys[:5]
    # a,b seen r8; c,d seen r7; e never seen. d's implementation changed.
    _write_evidence(tmp_path, {7: [c, d], 8: [a, b]})
    fps = {k: em._query_fingerprint(k) for k in (a, b, c, d)}
    fps[d] = "<changed-since-last-driver-verification>"
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(json.dumps(fps))
    order = list(em._staleness_rotated(base, evidence_dir=str(tmp_path)))
    # e (never recorded, zero driver evidence) wins the first tier over
    # d (changed-but-once-green); both precede the unchanged r7 pair;
    # a,b (r8-green, unchanged) last among these five.
    assert order[0] == e
    assert order.index(e) < order.index(d)
    assert order.index(d) < order.index(c)
    assert order.index(c) < order.index(a)
    assert order.index(c) < order.index(b)
    # Canonical tie-break within the same (changed, round) bucket:
    assert order.index(a) < order.index(b)
    assert set(order) == set(keys)


def test_missing_fingerprint_file_degrades_to_staleness(tmp_path):
    base = dict(em._base_queries())
    keys = list(base)
    a, b = keys[0], keys[1]
    _write_evidence(tmp_path, {8: [a]})  # a verified, everything else never
    order = list(em._staleness_rotated(base, evidence_dir=str(tmp_path)))
    assert order[-1] == a
    assert order[0] == b


def test_fingerprints_are_stable_and_module_sensitive():
    fp1 = em._query_fingerprint("keyword_search")
    fp2 = em._query_fingerprint("keyword_search")
    assert fp1 == fp2 and fp1 is not None
    # Different implementing modules ⇒ different fingerprints.
    assert fp1 != em._query_fingerprint("tpch_q1_pricing_summary")
    assert em._query_fingerprint("not_a_query") is None


def test_closure_finds_implementing_modules():
    fn = em._base_queries()["incremental_neardup"]
    seen, mods, lf = set(), set(), []
    em._impl_closure(fn, seen, mods, lf)
    assert "flink_streaming_2_10_spark.pipeline.neardup_index" in mods


def test_update_tool_refreshes_only_driver_verified_keys(tmp_path):
    out = tmp_path / "fps.json"
    res = subprocess.run(
        [sys.executable, "tools/update_fingerprints.py", "--out", str(out)],
        capture_output=True, text=True, cwd=em.__file__.rsplit("/", 1)[0],
    )
    assert res.returncode == 0, res.stderr
    got = json.loads(out.read_text())
    # Only keys recorded in the repo's LATEST CORRECTNESS round appear.
    last = dict(em._evidence_last_seen(em.__file__.rsplit("/", 1)[0]))
    latest = max(last.values())
    expect = {k for k, r in last.items() if r == latest}
    expect &= set(em._base_queries())
    assert set(got) == expect
    for k, fp in got.items():
        assert fp == em._query_fingerprint(k)


def test_evidence_without_recorded_fingerprint_requeues(tmp_path):
    """r13 blind-spot fix: a key verified in the round AFTER the
    fingerprint file was last written (so it has driver evidence but NO
    recorded fingerprint) may have been edited since — nothing can
    attest the green row covers the current code, so it must compete in
    the changed tier, not ride its fresh evidence to the back."""
    base = dict.fromkeys(["a", "b", "c"], object())
    _write_evidence(tmp_path, {1: ["a", "b", "c"], 2: ["b"]})
    # fingerprint file exists (non-empty) but records only a and c:
    # b was verified at r2, after the file was written.
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(
        json.dumps({"a": "x", "c": "y"})
    )
    got = list(em._staleness_rotated(base, evidence_dir=str(tmp_path)))
    # b leads despite having the FRESHEST evidence (tier 0, unattested);
    # a and c are unchanged-evidence keys ordered by staleness.
    assert got == ["b", "a", "c"]


def test_sentinel_flag_outranks_ripple_changed_but_not_never_verified(
    tmp_path,
):
    """r18 What's-wrong 2 fix: a shared-module edit ripples EVERY key's
    fingerprint, and pure staleness then defers exactly the keys whose
    own operator source was edited. A force-flagged key (the
    --mark-changed sentinel) must therefore outrank ripple-flagged keys
    regardless of staleness — while never-verified keys still lead."""
    base = dict(list(em._base_queries().items())[:5])
    a, b, c, d, e = base
    # a: ripple-changed, evidence r2. b: sentinel, FRESHEST evidence (r4).
    # c: never verified. d: ripple-changed, r3. e: unchanged (stored ==
    # current fingerprint) with the STALEST evidence (r1), so only a
    # working changed tier puts a and d ahead of it.
    _write_evidence(tmp_path, {1: [e], 2: [a], 3: [d], 4: [b]})
    fp_e = em._query_fingerprint(e)
    assert None not in (em._query_fingerprint(a), em._query_fingerprint(d), fp_e)
    (tmp_path / "QUERY_FINGERPRINTS.json").write_text(
        json.dumps(
            {
                a: "<ripple-drift>",
                b: em._CHANGED_SENTINEL,
                d: "<ripple-drift>",
                e: fp_e,
            }
        )
    )
    got = list(em._staleness_rotated(base, evidence_dir=str(tmp_path)))
    assert got == [c, b, a, d, e]


def test_closure_includes_function_body_imports_and_is_deterministic():
    """r19 blind-spot fix: shard.py reaches pipeline.dedup/components
    only through imports INSIDE function bodies, which the former
    vars(module) walk could not see — curated_corpus_neardup's
    fingerprint excluded the modules its pair pipeline executes, so a
    dedup edit never re-queued it. The closure walk is now source-level
    (ast over import statements), which also makes it independent of
    process import state (a package module's vars() accumulates
    submodule bindings as imports happen, so the old walk's closure —
    and hence the fingerprint — varied between processes)."""
    c = em._closure_modules("curated_corpus_neardup")
    assert any(m.endswith("pipeline.dedup") for m in c)
    assert any(m.endswith("pipeline.components") for m in c)
    # Determinism: a fresh interpreter computes the identical value.
    code = (
        "import sys; sys.path.insert(0, %r); import __spark_entry__ as em; "
        "print(em._query_fingerprint('curated_corpus_neardup'))"
        % em.__file__.rsplit("/", 1)[0]
    )
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == em._query_fingerprint(
        "curated_corpus_neardup"
    )


def test_unparseable_module_fails_closed(monkeypatch):
    """A closure module whose source cannot be found or parsed must leave
    an ``unparseable:<mod>`` marker in the closure (and so change the
    fingerprint) instead of silently contributing no imports."""
    missing = "flink_streaming_2_10_spark.no_such_module"
    assert em._module_pkg_imports(missing) == (f"unparseable:{missing}",)

    key = "curated_corpus_neardup"
    before = em._query_fingerprint(key)
    victim = "flink_streaming_2_10_spark.pipeline.shard"
    assert victim in em._closure_modules(key)
    real = em._module_pkg_imports

    def parse_fails_for_victim(mod):
        return (f"unparseable:{mod}",) if mod == victim else real(mod)

    monkeypatch.setattr(em, "_module_pkg_imports", parse_fails_for_victim)
    em._closure_modules.cache_clear()
    em._query_fingerprint.cache_clear()
    try:
        assert f"unparseable:{victim}" in em._closure_modules(key)
        assert em._query_fingerprint(key) != before
    finally:
        em._closure_modules.cache_clear()
        em._query_fingerprint.cache_clear()
