"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Timing excludes session startup; each query is fully executed via a noop
write (no driver-side collection cost, full pipeline executed).

Each query runs ``$SPARK_GRAFT_BENCH_N`` times (default 3) and reports the
per-query MEDIAN: this container's run-to-run jitter reaches ~1.7× on
identical code (see README), so single samples routinely mis-rank changes.
``value`` is the sum of medians. Per-iteration totals are included under
``iterations`` for variance inspection. ``$SPARK_GRAFT_BENCH_WARMUP``
(default 1) untimed full passes run first to absorb JVM JIT / python
worker spin-up, which otherwise inflates the first sample systematically.

Queries are isolated: operator-internal caches are released between
queries (release_cached), so a query's time never depends on an earlier
query having materialized an identical sub-plan.

``calib`` in the output is a fixed host-speed probe (best-of-3 of an
identical hash-aggregate job) taken at session START. The round-10
postmortem (BENCH_COMPARE.md, top section) showed this probe is
JIT-phase-dependent — it drifts 2.8–3.1× within one session as C2
keeps compiling — so ``calib`` ratios under ~1.5× are noise, not host
drift. ``calib_end`` is the same probe taken AFTER the timed
iterations, at a reproducible JIT-maturity point: use ``calib_end``
for cross-round host comparison; anchor regression calls on raw
per-query min-vs-min (BENCH.json ``queries_min``) regardless.
``calib_basket`` (durable BENCH.json only) extends calib_end to three
runtime regimes — jvm / arrow / shuffle — because a single JVM burst
cannot see Python-worker GIL load or exchange contention; per-class
gating rules live in BENCH_COMPARE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def run_query(spark, name: str, fn, sf_dir: str) -> float:
    """Run one registry query to the noop sink; returns wall seconds.

    Every job the query launches — plan-time collects included —
    carries job group ``name``, so the status tracker (or an event log)
    can attribute it. The group is cleared afterwards, and operator-
    internal persists (postings, signatures, bucketed vectors) are
    released even on failure, so a query's time never depends on an
    earlier query having materialized — or accumulated — cached blocks.
    """
    from flink_streaming_2_10_spark.pipeline.caching import release_cached

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        sc.setJobGroup(None, None)
        release_cached()


def sample_queries(
    spark, queries: dict, sf_dir: str, n_iter: int, warmup: int
) -> dict[str, list[float]]:
    """``warmup`` untimed passes, then ``n_iter`` timed passes over
    ``queries``; a failing query is reported on stderr and left
    unsampled for that pass."""
    samples: dict[str, list[float]] = {name: [] for name in queries}
    for it in range(warmup + n_iter):
        for name, fn in queries.items():
            try:
                took = run_query(spark, name, fn, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(f"bench error in {name}: {exc}", file=sys.stderr)
                continue
            if it >= warmup:
                samples[name].append(took)
    return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_iter = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    spark = get_spark("bench")
    queries = entrymod.queries()

    # Warm the JVM/readers once with the cheapest query.
    try:
        entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    # Host-speed calibration: a fixed, data-independent JVM-side job
    # (hash-aggregate over a generated range). Identical code across
    # rounds, so the ratio of two rounds' `calib` values measures
    # CONTAINER drift — this host has shown sustained ~1.5-1.7× speed
    # swings between rounds on unchanged code; divide query deltas by
    # the calib ratio before calling them regressions. Best-of-3.
    from pyspark.sql import functions as _F

    def _calib_once() -> float:
        t0 = time.time()
        (
            spark.range(100_000_000)
            # pmod keeps the sum < 3e13 — raw hash sums overflow long
            # under ANSI mode
            .select(_F.pmod(_F.xxhash64("id"), _F.lit(1_000_003)).alias("h"))
            .agg(_F.sum("h")).collect()
        )
        return time.time() - t0

    _calib_once()  # JIT warm
    calib = round(min(_calib_once() for _ in range(3)), 3)

    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    samples = sample_queries(spark, queries, sf_dir, n_iter, warmup)

    # Same probe at session END: the JVM is JIT-mature here, which the
    # round-10 postmortem showed is the only reproducible maturity point
    # (start-of-session probes drift 2.8x with C2 phase). Cross-round
    # host comparisons should use THIS value.
    calib_end = round(min(_calib_once() for _ in range(3)), 3)

    # Mini-basket probe (r13 verdict item 4): ONE JIT-sensitive JVM
    # burst cannot represent three runtime regimes — the r8 postmortem
    # showed Python/GIL stages see co-located CPU load the JVM probe
    # can't, and r12→r13's probe swung 2.75x while the workload moved
    # 0.93x. Three fixed, data-independent components, each timed
    # best-of-3 at session END (same JIT-maturity argument as
    # calib_end): 'jvm' = whole-stage-codegen hash agg (reuses
    # calib_end — identical probe), 'arrow' = a mapInPandas stage
    # (Python worker + Arrow transfer + GIL), 'shuffle' = a 1M-group
    # exchange. Cross-round, gate each query class against ITS
    # component (see BENCH_COMPARE.md); recorded in the durable
    # BENCH.json only (the stdout window is budget-bound).
    def _calib_arrow_once() -> float:
        def _f(it):
            for pdf in it:
                pdf["h"] = (pdf["id"] * 2654435761) % 1000003
                yield pdf[["h"]]

        t0 = time.time()
        (
            spark.range(2_000_000)
            .mapInPandas(_f, "h long")
            .agg(_F.sum("h"))
            .collect()
        )
        return time.time() - t0

    def _calib_shuffle_once() -> float:
        t0 = time.time()
        (
            spark.range(20_000_000)
            .select((_F.col("id") % 1_000_000).alias("k"))
            .groupBy("k")
            .agg(_F.count(_F.lit(1)).alias("c"))
            .agg(_F.sum("c"))
            .collect()
        )
        return time.time() - t0

    # Fourth regime (r15 verdict item 1): DRIVER-LOOP — queries like
    # bpe_merges / pca_top_component / kmeans submit many tiny jobs with
    # Python driver work between them, so their wall time is dominated
    # by per-job fixed overhead (DAG scheduling, task launch, a 1-row
    # collect) rather than by any of the three data-plane regimes above.
    # On a contended host that overhead swings far more than codegen
    # throughput (raw medians moved up to 5.5× in r15 on unchanged
    # plans). Probe it directly: a fixed 10-round argmax-collect loop
    # over a small generated table — same shape as one BPE merge round
    # (pipeline/bpe.py: groupBy → 1-row argmax → collect → next round).
    def _calib_driverloop_once() -> float:
        t0 = time.time()
        base = spark.range(100_000).select((_F.col("id") % 1_001).alias("k"))
        for _ in range(10):
            (
                base.groupBy("k")
                .agg(_F.count(_F.lit(1)).alias("c"))
                .orderBy(_F.desc("c"), _F.asc("k"))
                .limit(1)
                .collect()
            )
        return time.time() - t0

    _calib_arrow_once()  # python-worker spin-up is not the signal
    _calib_shuffle_once()
    _calib_driverloop_once()
    calib_basket = {
        "jvm": calib_end,
        "arrow": round(min(_calib_arrow_once() for _ in range(3)), 3),
        "shuffle": round(min(_calib_shuffle_once() for _ in range(3)), 3),
        "driverloop": round(min(_calib_driverloop_once() for _ in range(3)), 3),
    }

    # Canonical SORTED key order in every emitted artifact: execution
    # order rotates with driver-verification staleness (see
    # __spark_entry__._staleness_rotated), but artifact key order must
    # not — sorted keys keep BENCH.json/stdout diffs stable across
    # rounds and checkouts for order-sensitive consumers.
    timings = {
        name: (round(statistics.median(samples[name]), 3) if samples[name] else -1.0)
        for name in sorted(samples)
    }
    # Per-query MIN alongside the median: the min is the best observed
    # cold-cache execution, so a median/min gap flags host jitter or
    # codegen/JIT warmup rather than a real plan change — regression calls
    # should compare both before blaming the code.
    timings_min = {
        name: (round(min(samples[name]), 3) if samples[name] else -1.0)
        for name in sorted(samples)
    }
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Stdout line: COMPACT — the driver keeps only the last ~2000 chars of
    # stdout, so the printed JSON must fit entirely inside that window or it
    # becomes unparseable (this truncated BENCH_r05's "parsed" to null).
    # 57 queries compact-serialize to ~1.6 KB; diagnostics (per-query min,
    # per-iteration totals) go only to the durable BENCH.json file.
    slim = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n": n_iter,
        "calib": calib,
        "calib_end": calib_end,
        # Total of per-query MINS: the best observed cold-cache pass.
        # Cross-round min-vs-min at the total level lives in the driver's
        # stdout artifact (the r7 verdict's accounting gap); the PER-QUERY
        # mins are in BENCH.json, which is git-TRACKED since r8 so the
        # driver's own bench run leaves a durable, committed record (a
        # full second name→value dict can never fit the stdout window:
        # the median dict alone is ~1.8 KB at 65 queries).
        "value_min": round(sum(t for t in timings_min.values() if t >= 0), 3),
    }
    result = json.dumps(slim, separators=(",", ":"))
    # The driver retains only the last ~2000 stdout chars; a line that
    # outgrows the window silently truncates into unparseable JSON (the
    # BENCH_r05 failure). Degrade DETERMINISTICALLY instead: drop timing
    # precision to 2 decimals, and only if the registry has grown past
    # even that, fail LOUDLY — the durable BENCH.json (written below
    # BEFORE the assert) still has everything, and a visible error beats
    # a silently null record.
    _STDOUT_BUDGET = 1950  # headroom under the 2000-char retention window
    if len(result) > _STDOUT_BUDGET:
        slim["queries"] = {k: round(v, 2) for k, v in timings.items()}
        result = json.dumps(slim, separators=(",", ":"))
    # Step 3 (the registry outgrew even 2-decimal medians at ~70 queries):
    # drop the FASTEST queries from the stdout dict, slowest-first kept —
    # deterministic, and the total/value_min still cover everything. The
    # full per-query record is in BENCH.json, which is git-TRACKED, so
    # nothing is lost durably; "queries_omitted" makes the cut visible to
    # any consumer of the stdout line.
    if len(result) > _STDOUT_BUDGET:
        by_cost = sorted(
            slim["queries"].items(), key=lambda kv: (-kv[1], kv[0])
        )
        while len(result) > _STDOUT_BUDGET and len(by_cost) > 10:
            by_cost = by_cost[:-1]
            slim["queries"] = dict(sorted(by_cost))
            slim["queries_omitted"] = len(timings) - len(by_cost)
            # A tail-only reader summing the stdout dict would mis-total
            # (r15 verdict What's-wrong 3): state the full count and
            # where the complete per-query record lives, adjacent to the
            # omission count so the two can't be read apart.
            slim["see"] = f"BENCH.json ({len(timings)} queries)"
            result = json.dumps(slim, separators=(",", ":"))
    verbose = json.dumps(
        {
            **slim,
            # The durable record always carries the FULL per-query maps,
            # regardless of what the stdout ladder trimmed from slim.
            "queries": timings,
            "queries_min": timings_min,
            "calib_basket": calib_basket,
            "iterations": [
                round(sum(ts[i] for ts in samples.values() if len(ts) > i), 3)
                for i in range(n_iter)
            ],
        }
    )
    # Durable copy first — BEFORE the stdout-budget assert, so a completed
    # multi-iteration run always leaves a full record on disk even if the
    # stdout line can't fit the window (and if anything clips the stdout
    # tail — progress-bar races, pipe truncation — the driver or a human
    # can read the file).
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json"),
            "w",
        ) as fh:
            fh.write(verbose + "\n")
    except OSError:
        pass
    assert len(result) <= _STDOUT_BUDGET, (
        f"bench stdout JSON is {len(result)} chars > {_STDOUT_BUDGET}: "
        f"the driver's stdout window would truncate it — shrink the "
        f"per-query payload (full data is in BENCH.json)"
    )
    # Stop Spark BEFORE the JSON line so no executor/JVM shutdown chatter
    # can interleave after it — the JSON is the process's final stdout.
    spark.stop()
    print(result, flush=True)


if __name__ == "__main__":
    main()
