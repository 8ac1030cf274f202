"""Guards for the cross-round bench comparison tooling
(tools/bench_compare.py) — the judge and every round's perf adjudication
run it, so its gating logic is pinned here: drift-band suppression,
known-noisy-band exclusion, git min-recovery, and per-regime basket
adjustment. Also the shared query runner (``bench.run_query``) and the
status-tracker counts of ``tools/probe.py``.

Pure-function tests import the module directly; end-to-end gate tests
shell out exactly as a round does.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mod(name: str = "bench_compare"):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _doc(queries, calib=0.2, basket=None, mins=False, value=None):
    d = {
        "value": value if value is not None else round(sum(queries.values()), 3),
        "queries": queries,
        "calib": calib,
    }
    if mins:
        d["queries_min"] = dict(queries)
    if basket:
        d["calib_basket"] = basket
    return d


def _run(old: dict, new: dict, tmp_path):
    po, pn = str(tmp_path / "old.json"), str(tmp_path / "new.json")
    with open(po, "w") as fh:
        json.dump(old, fh)
    with open(pn, "w") as fh:
        json.dump(new, fh)
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_compare.py"), po, pn],
        capture_output=True, text=True, cwd=ROOT,
    )


def test_in_band_regression_gates_exit_2(tmp_path):
    r = _run(
        _doc({"q1": 1.0, "q2": 1.0}, calib=0.2),
        _doc({"q1": 1.0, "q2": 1.5}, calib=0.2),
        tmp_path,
    )
    assert r.returncode == 2
    assert "q2" in r.stdout.splitlines()[-1]


def test_out_of_band_drift_suppresses_adjusted_and_gates_raw(tmp_path):
    # calib says the host got 2.75x faster; raw is flat -> exit 0, raw-only
    r = _run(
        _doc({"q1": 1.0}, calib=0.55),
        _doc({"q1": 0.95}, calib=0.2),
        tmp_path,
    )
    assert r.returncode == 0
    assert "outside the credible drift band" in r.stdout
    # ...but a REAL raw regression under the same artifact drift still gates
    r2 = _run(
        _doc({"q1": 1.0}, calib=0.55),
        _doc({"q1": 2.0}, calib=0.2),
        tmp_path,
    )
    assert r2.returncode == 2


def test_noisy_band_suppresses_async_inside_envelope(tmp_path):
    r = _run(
        _doc({"async_ordered_identity": 0.9, "q": 1.0}, calib=0.2),
        _doc({"async_ordered_identity": 1.6, "q": 1.0}, calib=0.2),
        tmp_path,
    )
    assert r.returncode == 0  # x1.78 but inside the documented 0.8-1.7 s band
    # outside the envelope it gates again
    r2 = _run(
        _doc({"async_ordered_identity": 0.9, "q": 1.0}, calib=0.2),
        _doc({"async_ordered_identity": 1.9, "q": 1.0}, calib=0.2),
        tmp_path,
    )
    assert r2.returncode == 2


def test_basket_adjusts_per_regime(tmp_path):
    # regimes come from PLAN_AUDIT.md: pick one known arrow query and one
    # known jvm query from the live audit file
    m = _mod()
    regimes = m.load_regimes()
    assert regimes, "PLAN_AUDIT.md should parse"
    assert regimes.get("async_ordered_identity") == "arrow"
    assert regimes.get("tpch_q6_forecast_revenue") == "jvm"
    basket_old = {"jvm": 0.10, "arrow": 0.50, "shuffle": 1.0}
    basket_new = {"jvm": 0.12, "arrow": 0.40, "shuffle": 1.0}  # jvm x1.2, arrow x0.8
    old = _doc(
        {"tpch_q6_forecast_revenue": 1.0, "multimodal_features": 1.0},
        calib=0.2, basket=basket_old,
    )
    new = _doc(
        {"tpch_q6_forecast_revenue": 1.0, "multimodal_features": 1.0},
        calib=0.2, basket=basket_new,
    )
    r = _run(old, new, tmp_path)
    assert "adjusted per regime" in r.stdout
    lines = {
        l.split()[0]: l.split() for l in r.stdout.splitlines() if l and l[0].isalpha()
    }
    # raw 1.00 for both; jvm divides by 1.2 -> 0.83, arrow by 0.8 -> 1.25
    assert lines["tpch_q6_forecast_revenue"][-1] == "0.83"
    assert lines["multimodal_features"][-1] == "1.25"


def test_min_recovery_from_git_on_driver_wrapper():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("no git checkout")
    m = _mod()
    path = os.path.join(ROOT, "BENCH_r13.json")
    with open(path) as fh:
        parsed = json.load(fh)["parsed"]
    rec = m.recover_min_from_git(path, parsed)
    if rec is None:
        pytest.skip("git history unavailable (shallow clone)")
    assert "queries_min" in rec
    assert abs(rec["value"] - parsed["value"]) <= 0.01
    # totals mismatch -> refuses (different run must not be silently mixed)
    assert m.recover_min_from_git(path, {**parsed, "value": 1.0}) is None


def test_regime_classifier_thresholds():
    m = _mod()
    regimes = m.load_regimes()
    # shuffle-heavy classification: curated_corpus_quality carries 8
    # exchanges in the audit and no Arrow stage
    assert regimes.get("curated_corpus_quality") == "shuffle"


def test_driverloop_regime_overrides_plan_shape(tmp_path):
    """r16: driver-loop queries (bpe_merges etc.) adjust by the
    'driverloop' basket component when BOTH sides carry it — overriding
    the plan-shape classification (a kmeans round is jvm by plan) — and
    the wider credible band (0.5..3.0) accepts contention swings the
    jvm band would reject."""
    # driverloop x2.0 (outside the jvm band 0.67..1.5, inside 0.5..3.0);
    # jvm flat
    basket_old = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0, "driverloop": 1.0}
    basket_new = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0, "driverloop": 2.0}
    old = _doc(
        {"bpe_merges": 1.0, "tpch_q6_forecast_revenue": 1.0},
        calib=0.2, basket=basket_old,
    )
    new = _doc(
        {"bpe_merges": 2.0, "tpch_q6_forecast_revenue": 1.0},
        calib=0.2, basket=basket_new,
    )
    r = _run(old, new, tmp_path)
    # bpe raw x2.0 / driverloop drift x2.0 -> adjusted 1.00: no gate
    assert r.returncode == 0, r.stdout
    lines = {
        l.split()[0]: l.split()
        for l in r.stdout.splitlines() if l and l[0].isalpha()
    }
    assert lines["bpe_merges"][-1] == "1.00"
    assert lines["tpch_q6_forecast_revenue"][-1] == "1.00"


def test_driverloop_regime_absent_on_old_side_falls_back(tmp_path):
    """Pre-r16 artifacts carry no 'driverloop' probe: the override must
    NOT engage (bpe falls back to its plan-shape regime / scalar), so
    a genuine x2 move still gates."""
    basket_old = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0}
    basket_new = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0, "driverloop": 2.0}
    old = _doc({"bpe_merges": 1.0}, calib=0.2, basket=basket_old)
    new = _doc({"bpe_merges": 2.0}, calib=0.2, basket=basket_new)
    r = _run(old, new, tmp_path)
    assert r.returncode == 2, r.stdout


def test_driverloop_query_names_exist_in_registry():
    """DRIVERLOOP_QUERIES is a hard-coded name set (r17 ADVICE): a
    renamed or deleted registry query would silently fall back to its
    plan-shape regime, where the narrow jvm band reproduces the r15
    false-positive class. Fail loudly on any drift between the set and
    the live registry."""
    import __spark_entry__ as entrymod

    m = _mod()
    registry = set(entrymod.queries())
    missing = m.DRIVERLOOP_QUERIES - registry
    assert not missing, (
        f"DRIVERLOOP_QUERIES names not in the registry (renamed/removed?): "
        f"{sorted(missing)}"
    )


def test_median_mover_with_flat_min_not_gated_calls_out(tmp_path):
    """r18 (verdict task 3): the r17 q19 shape — a 3-sample median
    inflated x2 by iteration spread while min-vs-min is flat. With both
    sides carrying mins the display is min-of-n (raw x1.0, no flag), and
    the median movement must surface as the dedicated median-jitter
    call-out without gating."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5},
           "calib": 0.2}
    new = {"value": 2.0, "queries": {"q": 2.0}, "queries_min": {"q": 0.5},
           "calib": 0.2}
    r = _run(old, new, tmp_path)
    assert r.returncode == 0, r.stdout
    assert "median-jitter, min-corroborated flat" in r.stdout
    assert "q (median x2.00, min x1.00)" in r.stdout


def test_min_mover_with_flat_median_excused(tmp_path):
    """r18: the mirror shape (token_percentiles in the r16→r17 driver
    artifacts — min x1.22 off one lucky old-side min, median x0.99
    flat). Flagged on the displayed min series but excused by the flat
    median: cross-series call-out, exit 0."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5},
           "calib": 0.2}
    new = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.75},
           "calib": 0.2}
    r = _run(old, new, tmp_path)
    assert r.returncode == 0, r.stdout
    assert "cross-series-excused" in r.stdout


def test_regression_on_both_series_still_gates(tmp_path):
    """Cross-series corroboration must NOT excuse a real regression: a
    code change moves min AND median together, and that shape gates."""
    old = {"value": 1.0, "queries": {"q": 1.0}, "queries_min": {"q": 0.5},
           "calib": 0.2}
    new = {"value": 2.0, "queries": {"q": 2.0}, "queries_min": {"q": 1.0},
           "calib": 0.2}
    r = _run(old, new, tmp_path)
    assert r.returncode == 2, r.stdout


def test_min_recovery_worktree_fallback_for_uncommitted_wrapper():
    """r18: the judge compares driver artifacts BEFORE the round's
    commit exists, so git recovery finds no commit for the new wrapper —
    recovery must fall back to the working-tree BENCH.json under the
    same same-run totals check (the r17 false exit-2's root cause)."""
    m = _mod()
    with open(os.path.join(ROOT, "BENCH.json")) as fh:
        live = json.load(fh)
    if "queries_min" not in live:
        pytest.skip("working-tree BENCH.json lacks queries_min")
    # A wrapper name with no git history: falls through to the worktree.
    rec = m.recover_min_from_git(
        os.path.join(ROOT, "BENCH_r9999.json"), {"value": live["value"]}
    )
    assert rec is not None and "queries_min" in rec
    # Totals mismatch still refuses (different run must not be mixed).
    assert m.recover_min_from_git(
        os.path.join(ROOT, "BENCH_r9999.json"), {"value": live["value"] + 5}
    ) is None


def test_r16_r17_driver_artifacts_exit_zero_with_q19_callout():
    """The r17 verdict's literal done-criterion: `bench_compare
    BENCH_r16.json BENCH_r17.json` exits 0 and calls out
    tpch_q19_bracket_revenue as median-jitter (median x2.25, min x1.00
    on an untouched module)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("no git checkout")
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_compare.py"),
         os.path.join(ROOT, "BENCH_r16.json"),
         os.path.join(ROOT, "BENCH_r17.json")],
        capture_output=True, text=True, cwd=ROOT,
    )
    if "recovered from the git-tracked" not in r.stderr:
        pytest.skip("git history unavailable (shallow clone)")
    assert r.returncode == 0, r.stdout
    assert "median-jitter" in r.stdout
    assert "tpch_q19_bracket_revenue" in r.stdout.split("median-jitter")[1]


def test_driverloop_excused_above_cross_regime_ceiling_calls_out(tmp_path):
    """A driverloop-regime row excused by raw corroboration (raw <=1.15)
    can still carry an adjusted ratio up to x2.3 when the driverloop
    divisor sits at its 0.5 band floor — above the x1.72 ceiling any
    other regime can reach while excused. It must NOT gate (recovery
    rounds legitimately produce this shape for partial-share driver-loop
    queries) but MUST print the dedicated call-out so the residual risk
    is sized correctly (r17 ADVICE)."""
    # driverloop probe halves (host per-job latency recovered);
    # bpe_merges raw x1.10 -> adjusted 2.20 > 1.72 ceiling
    basket_old = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0, "driverloop": 2.0}
    basket_new = {"jvm": 0.10, "arrow": 0.5, "shuffle": 1.0, "driverloop": 1.0}
    old = _doc({"bpe_merges": 1.0, "tpch_q6_forecast_revenue": 1.0},
               calib=0.2, basket=basket_old)
    new = _doc({"bpe_merges": 1.1, "tpch_q6_forecast_revenue": 1.0},
               calib=0.2, basket=basket_new)
    r = _run(old, new, tmp_path)
    assert r.returncode == 0, r.stdout
    assert "DRIVERLOOP-EXCUSED ABOVE CROSS-REGIME CEILING" in r.stdout
    assert "bpe_merges" in r.stdout.split("CROSS-REGIME CEILING")[1]
    # with the driverloop probe flat, the same raw x1.10 adjusts to
    # x1.10 — no excused-above-ceiling row, no call-out
    new2 = _doc({"bpe_merges": 1.1, "tpch_q6_forecast_revenue": 1.0},
                calib=0.2, basket=basket_old)
    r2 = _run(old, new2, tmp_path)
    assert "CROSS-REGIME CEILING" not in r2.stdout


def test_run_query_tags_every_job_then_clears_group_and_cache(spark):
    """Every job the runner launches carries the query's job group (none
    escapes ungrouped), and it leaves neither the group set nor any
    operator-internal persist behind."""
    import __spark_entry__ as em
    from bench import run_query
    from flink_streaming_2_10_spark.pipeline.caching import release_cached
    from tests.conftest import SF_SMALL

    name = "keyword_search"  # registers one tracked persist
    sc = spark.sparkContext
    st = sc.statusTracker()
    grouped_before = set(st.getJobIdsForGroup(name))
    ungrouped_before = set(st.getJobIdsForGroup(None))
    assert run_query(spark, name, em.queries()[name], SF_SMALL) > 0
    assert set(st.getJobIdsForGroup(name)) - grouped_before
    assert set(st.getJobIdsForGroup(None)) <= ungrouped_before
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert release_cached() == 0


def test_probe_counts_equal_status_tracker_walk(spark, capsys):
    import __spark_entry__ as em
    from tests.conftest import SF_SMALL

    group = "probe-counts-test"
    _mod("probe").counts(
        spark, {group: em.queries()["tpch_q3_shipping_priority"]}, SF_SMALL
    )
    printed = json.loads(capsys.readouterr().out)

    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    infos = {s: st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds}
    ran = [i.numTasks for i in infos.values() if i is not None and i.numTasks > 0]
    assert printed == {
        "query": group, "jobs": len(jobs), "stages": len(ran), "tasks": sum(ran),
    }
    assert printed["jobs"] > 0 and printed["tasks"] >= printed["stages"] > 0
