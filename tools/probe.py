"""Ad-hoc query probes on the bench's own runner (``bench.run_query``):
noop sink, one job group per query, cached intermediates released after
each query. ``bench.py`` stays the reference measurement.

Usage::

    python tools/probe.py ab <query> [query ...]
    python tools/probe.py counts <query> [query ...]
    python tools/probe.py plan <out_dir> <tag> [query ...]

``ab``      bench methodology on a subset: the bench's JVM warm-up,
            ``$SPARK_GRAFT_BENCH_WARMUP`` (default 1) untimed passes, then
            ``$SPARK_GRAFT_BENCH_N`` (default 3) timed ones. Prints one
            JSON line: ``{"queries": {name: median}, "queries_min": {...},
            "n": N, "sf_dir": ...}``.
``counts``  runs each query once in a fresh session and prints one JSON
            line per query, ``{"query", "jobs", "stages", "tasks"}``, read
            from the status tracker for the query's job group (stages =
            distinct stages with tasks). Host speed cannot move these
            counts; a removed pass or exchange does.
``plan``    writes ``explain("formatted")`` of each query (default: all,
            sorted) to ``<out_dir>/<query>_<tag>.txt``. Iterative queries
            show their final assembly plan; per-round shapes are pinned in
            tests/test_plans.py.

Every subcommand reads ``$SPARK_GRAFT_SF_DIR`` (default: the bench's
sf0.1, so size-driven planner decisions match the bench). Findings of earlier one-off probes live in SCALE_r*.md,
OPTIMIZATION_r*.md and BENCH_COMPARE.md; their scripts are in git history
at 009097d.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import run_query, sample_queries  # noqa: E402


def job_counts(spark, group: str) -> dict:
    """Jobs, distinct stages with tasks, and their summed tasks, over
    every job the status tracker holds for job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None and si.numTasks > 0 and s not in stages:
                stages.add(s)
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def ab(spark, queries: dict, sf_dir: str) -> dict:
    import __spark_entry__ as entrymod

    n_iter = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    # Same JVM warm as bench.py.
    try:
        entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    samples = sample_queries(spark, queries, sf_dir, n_iter, warmup)
    return {
        "queries": {
            n: round(statistics.median(v), 3) if v else -1.0
            for n, v in samples.items()
        },
        "queries_min": {
            n: round(min(v), 3) if v else -1.0 for n, v in samples.items()
        },
        "n": n_iter,
        "sf_dir": sf_dir,
    }


def counts(spark, queries: dict, sf_dir: str) -> None:
    for name, fn in queries.items():
        run_query(spark, name, fn, sf_dir)
        print(json.dumps({"query": name, **job_counts(spark, name)}), flush=True)


def plan(spark, queries: dict, sf_dir: str, out_dir: str, tag: str) -> None:
    from plan_audit import _plan

    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(queries):
        try:
            text = _plan(queries[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR building plan: {exc}\n"
        finally:
            release_cached()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text)
        print(f"{name}: {len(text)} chars", flush=True)


def main(argv: list[str]) -> int:
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    plan_args = args[:2] if cmd == "plan" else []
    names = args[len(plan_args):]
    if cmd not in ("ab", "counts", "plan") or (
        len(plan_args) < 2 if cmd == "plan" else not names
    ):
        print(__doc__, file=sys.stderr)
        return 2

    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    # dict.fromkeys: a repeated name would pool both runs in one job group.
    if names:
        queries = {n: queries[n] for n in dict.fromkeys(names)}

    spark = get_spark(f"probe-{cmd}")
    try:
        if cmd == "ab":
            out = ab(spark, queries, sf_dir)
        elif cmd == "counts":
            counts(spark, queries, sf_dir)
        else:
            plan(spark, queries, sf_dir, *plan_args)
    finally:
        spark.stop()
    if cmd == "ab":
        print(json.dumps(out, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
