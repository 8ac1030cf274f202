"""One benchmark process: set up a session, run a cold pass and warm
passes of one workload in a closed loop, check every output, and write
the raw measurements as JSON.

Started by ``run.py`` as ``worker.py <config.json> <result.json>``, with
the checkout root on ``PYTHONPATH`` and the run's work directory as the
current directory.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Cap on the measured phase, so a run stays inside its time limit even
#: when the host is slow.
MAX_WARM_PHASE_S = 60.0
#: Untimed passes between the cold pass and the measured ones, while the
#: JIT is still compiling. CPU seconds of passes 1-6 after the cold pass,
#: one run on 4 cores: tpch_sql 17.4, 13.2, 11.7, 8.6, 8.1, 9.7 (flat from
#: the fourth); stream_stateful 24.1, 22.8, 20.6, 21.0, 20.0, 22.9 (flat
#: from the second).
SETTLE_PASSES = {"tpch_sql": 3, "stream_stateful": 1}
#: After the traced phase restarts the session in the same JIT-warm JVM,
#: one pass fills the new session's caches.
SETTLE_PASSES_TRACED = 1


def setup(app: str):
    """Imports plus ``get_spark``: the set-up a user of the package pays."""
    import __spark_entry__  # noqa: F401  (the import cost is part of set-up)
    from flink_streaming_2_10_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)  # local[$SPARK_GRAFT_CPUS], set by run.py
    return spark, (time.perf_counter() - t0) * 1000.0


class Hooks:
    """Between-unit hygiene: release tracked caches (traced: time it and
    record what was stored first)."""

    def __init__(self, spark, tracer) -> None:
        from flink_streaming_2_10_spark.pipeline import caching

        self.spark = spark
        self.tracer = tracer
        self.caching = caching
        self.stored_bytes = 0

    def release(self) -> None:
        if self.tracer.enabled:
            sc = self.spark.sparkContext._jsc.sc()
            for info in sc.getRDDStorageInfo():
                self.stored_bytes += info.memSize() + info.diskSize()
            with self.tracer.span("release_cached", "cache"):
                self.caching.release_cached()
        else:
            self.caching.release_cached()


class Pass:
    """One pass: wall and CPU seconds, each unit's result (or the
    exception it raised), unit span ids and cached bytes (traced only)."""

    def __init__(self, idx, wall, cpu, units, span_ids, stored_bytes):
        self.idx, self.wall, self.cpu = idx, wall, cpu
        self.units, self.span_ids, self.stored_bytes = units, span_ids, stored_bytes


def run_pass(spark, workload, cfg, idx, tracer, hooks, traced=False) -> Pass:
    """Run every unit once, in the seed's order for pass ``idx``."""
    from procstat import cpu_seconds
    from workloads import pass_order

    pass_dir = os.path.join(cfg["work"], f"pass-{idx}")
    os.makedirs(pass_dir, exist_ok=True)
    units, span_ids = {}, {}
    hooks.stored_bytes = 0
    cpu0, t0 = cpu_seconds(os.getpid()), time.perf_counter()
    with tracer.span(f"pass {idx}", "pass"):
        for name in pass_order(workload.units, cfg["seed"], idx):
            if traced:
                spark.sparkContext.setJobGroup(f"perfbench:{idx}:{name}", name)
            with tracer.span(name, "unit") as rec:
                try:
                    units[name] = workload.run_unit(spark, name, pass_dir, hooks)
                except Exception as exc:  # noqa: BLE001 — counted as a failure
                    print(f"perfbench: {name} raised {exc!r}"[:2000], file=sys.stderr)
                    units[name] = exc
            if traced:
                # later jobs (the next unit's hooks, the correctness check)
                # must not carry this unit's group
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            if rec:
                span_ids[name] = rec["id"]
    wall = time.perf_counter() - t0
    cpu = cpu_seconds(os.getpid()) - cpu0
    return Pass(idx, wall, cpu, units, span_ids, hooks.stored_bytes)


def warm_passes(spark, workload, cfg, tracer, hooks, first_idx, n_settle, traced=False):
    """``n_settle`` untimed passes, then a closed loop of measured passes
    for ``cfg['seconds']``, at least one. Returns (settle, measured)."""
    settle = [run_pass(spark, workload, cfg, first_idx + i, tracer, hooks)
              for i in range(n_settle)]
    idx = first_idx + n_settle
    measured = []
    tracer.enabled = traced
    t0 = time.perf_counter()
    while not measured or time.perf_counter() - t0 < min(cfg["seconds"], MAX_WARM_PHASE_S):
        measured.append(run_pass(spark, workload, cfg, idx, tracer, hooks, traced))
        idx += 1
    tracer.enabled = False
    return settle, measured


def make_workload(cfg, tracer):
    import workloads

    if cfg["workload"] == "tpch_sql":
        return workloads.TpchSql(cfg["data"], tracer)
    return workloads.StreamStateful(cfg["data"], cfg["rows"], tracer)


def check_outputs(spark, workload, runs, fault):
    """Compare every unit output of every pass; return (attempted, failed)."""
    by_unit: dict[str, list] = {}
    for units in runs:
        for name, unit in units.items():
            by_unit.setdefault(name, []).append(unit)
    if fault:
        last = by_unit[fault][-1]
        if not isinstance(last, Exception) and len(last.output):
            last.output = last.output.iloc[1:]
    attempted = failed = 0
    for name in sorted(by_unit):
        results = by_unit[name]
        ok_units = [u for u in results if not isinstance(u, Exception)]
        attempted += len(results)
        failed += len(results) - len(ok_units)
        if not ok_units:
            continue
        try:
            verdicts = workload.check(spark, name, [u.output for u in ok_units])
        except Exception as exc:  # noqa: BLE001 — an unusable check fails
            verdicts = [f"check raised {exc!r}"] * len(ok_units)
        for v in verdicts:
            if v is not None:
                failed += 1
                print(f"perfbench: wrong output from {name}: {v}", file=sys.stderr)
    return attempted, failed


def stream_layers(units) -> dict[str, float]:
    """Per-pass sums from the streaming progress reports."""
    out = {k: 0.0 for k in (
        "stream.add_batch_ms", "stream.overhead_ms", "stream.query_planning_ms",
        "stream.wal_commit_ms", "state.rows_total", "state.memory_bytes",
        "state.commit_ms")}
    for unit in units.values():
        if isinstance(unit, Exception):
            continue
        for p in unit.progress:
            d = p.get("durationMs", {})
            if "addBatch" not in d:
                continue
            out["stream.add_batch_ms"] += d.get("addBatch", 0)
            out["stream.overhead_ms"] += d.get("triggerExecution", 0) - d.get("addBatch", 0)
            out["stream.query_planning_ms"] += d.get("queryPlanning", 0)
            out["stream.wal_commit_ms"] += d.get("walCommit", 0)
            for op in p.get("stateOperators", ()):
                out["state.commit_ms"] += op.get("commitTimeMs", 0)
        if unit.progress:
            for op in unit.progress[-1].get("stateOperators", ()):
                out["state.rows_total"] += op.get("numRowsTotal", 0)
                out["state.memory_bytes"] += op.get("memoryUsedBytes", 0)
    return out


def traced_layers(tracer, passes, jobs_by_unit) -> list[dict]:
    """Per traced pass, every per-layer metric."""
    from tracing import covered_seconds

    spans = tracer.spans
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def descendants(sid):
        todo, out = [sid], []
        while todo:
            for c in children.get(todo.pop(), ()):
                out.append(c)
                todo.append(c["id"])
        return out

    per_pass = []
    for p in passes:
        m = {k: 0.0 for k in (
            "catalog.load_table_calls", "catalog.load_table_ms", "build.ms",
            "build.jobs", "driver.gap_ms", "spark.jobs", "spark.stages",
            "spark.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
            "task.overhead_ms", "shuffle.write_bytes", "shuffle.read_bytes",
            "spill.bytes", "python.bytes_sent", "python.bytes_returned",
            "cache.release_ms", "sink.foreach_batch_ms")}
        for name, sid in p.span_ids.items():
            unit_span = spans[sid]
            desc = descendants(sid)
            for s in desc:
                dur = (s["end"] - s["start"]) * 1000.0
                if s["layer"] == "catalog":
                    m["catalog.load_table_calls"] += 1
                    m["catalog.load_table_ms"] += dur
                elif s["layer"] == "build":
                    m["build.ms"] += dur
                    m["build.jobs"] += sum(
                        1 for c in descendants(s["id"]) if c["layer"] == "spark.job"
                    )
                elif s["layer"] == "cache":
                    m["cache.release_ms"] += dur
                elif s["layer"] == "sink":
                    m["sink.foreach_batch_ms"] += dur
            jobs = jobs_by_unit.get(sid, [])
            m["driver.gap_ms"] += 1000.0 * (
                (unit_span["end"] - unit_span["start"])
                - covered_seconds(unit_span["start"], unit_span["end"],
                                  [(j["submit"], j["end"]) for j in jobs])
            )
            stages = set()
            for j in jobs:
                stages |= j["stages"]
                m["spark.jobs"] += 1
                m["spark.tasks"] += j["tasks"]
                m["exec.run_ms"] += j["run_ms"]
                m["exec.cpu_ms"] += j["cpu_ms"]
                m["exec.gc_ms"] += j["gc_ms"]
                m["task.overhead_ms"] += j["task_overhead_ms"]
                m["shuffle.write_bytes"] += j["shuffle_write"]
                m["shuffle.read_bytes"] += j["shuffle_read"]
                m["spill.bytes"] += j["spill"]
                m["python.bytes_sent"] += j["py_sent"]
                m["python.bytes_returned"] += j["py_returned"]
            m["spark.stages"] += len(stages)
        m["cache.stored_bytes"] = p.stored_bytes
        m.update(stream_layers(p.units))
        m["pass_wall_s"] = p.wall
        per_pass.append(m)
    return per_pass


def enable_event_log(spark, log_dir: str) -> None:
    """Static confs for the NEXT SparkContext in this JVM: a new
    SparkConf loads ``spark.*`` system properties."""
    system = spark._jvm.java.lang.System
    os.makedirs(log_dir, exist_ok=True)
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(log_dir))
    # Spark 4.1 compresses event logs with zstd by default; read as text.
    system.setProperty("spark.eventLog.compress", "false")


def main_run(cfg_path: str, result_path: str) -> None:
    from procstat import peak_rss_mb
    from tracing import Tracer

    with open(cfg_path) as fh:
        cfg = json.load(fh)
    spark, get_spark_ms = setup(f"perfbench-{cfg['workload']}")
    ready_ts = time.time()
    tracer = Tracer()
    workload = make_workload(cfg, tracer)
    hooks = Hooks(spark, tracer)
    cold = run_pass(spark, workload, cfg, 0, tracer, hooks)
    settle, warm = warm_passes(spark, workload, cfg, tracer, hooks, 1,
                               SETTLE_PASSES[cfg["workload"]])
    peak = peak_rss_mb(os.getpid())
    runs = [cold, *settle, *warm]
    result = {
        "ready_ts": ready_ts,
        "get_spark_ms": get_spark_ms,
        "cold_pass_s": cold.wall,
        "cold_cpu_s": cold.cpu,
        "warm_pass_s": [p.wall for p in warm],
        "cpu_s": [p.cpu for p in warm],
        "peak_rss_mb": peak,
        "batch_ms": [
            ms for p in warm for u in p.units.values()
            if not isinstance(u, Exception) for ms in u.batch_ms
        ],
        "events_per_pass": workload.events_per_pass,
    }

    if cfg["trace"]:
        spark, log_dir, traced = traced_phase(
            spark, workload, cfg, tracer, hooks, runs[-1].idx + 1
        )
        runs += traced

    t_check = time.perf_counter()
    result["attempted"], result["failed"] = check_outputs(
        spark, workload, [p.units for p in runs], cfg.get("fault")
    )
    print(f"perfbench: passes {[round(p.wall, 2) for p in runs]} s, "
          f"CPU {[round(p.cpu, 2) for p in runs]} s "
          f"(cold, {len(settle)} settling, measured...), check "
          f"{time.perf_counter() - t_check:.1f}s", file=sys.stderr)
    spark.stop()
    if cfg["trace"]:
        result["trace"] = finish_trace(result, tracer, cfg, log_dir, traced)
    with open(result_path, "w") as fh:
        json.dump(result, fh)


def traced_phase(spark, workload, cfg, tracer, hooks, first_idx):
    """Restart the session in the same (JIT-warm) JVM with the event log
    on; settle, then traced passes with job groups and a timer on
    ``catalog.load_table``. Returns (session, log dir, all passes)."""
    from flink_streaming_2_10_spark import catalog
    from flink_streaming_2_10_spark.session import get_spark
    from tracing import patch_everywhere

    log_dir = os.path.join(cfg["work"], "eventlog")
    enable_event_log(spark, log_dir)
    spark.stop()
    spark = get_spark(f"perfbench-{cfg['workload']}-traced")
    hooks.spark = spark
    original_load = catalog.load_table
    timed_load = tracer.wrap(original_load, "load_table", "catalog")
    patch_everywhere(original_load, timed_load)
    try:
        settle, traced = warm_passes(spark, workload, cfg, tracer, hooks, first_idx,
                                     SETTLE_PASSES_TRACED, traced=True)
    finally:
        patch_everywhere(timed_load, original_load)
    return spark, log_dir, settle + traced


def finish_trace(result, tracer, cfg, log_dir, passes):
    """After the session stopped (event log closed): fold the log, attach
    jobs to units, compute per-layer metrics and write the spans file."""
    from tracing import attach_jobs, fold_jobs, read_event_log, self_times

    traced = [p for p in passes if p.span_ids]
    jobs = fold_jobs(read_event_log(log_dir))
    group_units = {}
    for p in traced:
        for name, sid in p.span_ids.items():
            group_units[f"perfbench:{p.idx}:{name}"] = sid
            for rid in getattr(p.units.get(name), "run_ids", ()):
                group_units[rid] = sid
    attach_jobs(tracer, jobs, group_units)
    jobs_by_unit: dict[int, list[dict]] = {}
    for j in jobs:
        if "unit" in j:
            jobs_by_unit.setdefault(j["unit"], []).append(j)
    per_pass = traced_layers(tracer, traced, jobs_by_unit)
    per_layer_self = self_times(tracer.spans)
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    metrics["session.get_spark_ms"] = result["get_spark_ms"]
    metrics["trace.overhead_s"] = metrics.pop("pass_wall_s") - statistics.median(
        result["warm_pass_s"]
    )
    out_path = cfg["trace_out"]
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump({
            "workload": cfg["workload"], "seed": cfg["seed"],
            "metrics": metrics, "per_pass": per_pass,
            "self_ms_by_layer": per_layer_self, "spans": tracer.spans,
        }, fh, default=list)
    return {"metrics": metrics, "file": out_path}


if __name__ == "__main__":
    main_run(sys.argv[1], sys.argv[2])
