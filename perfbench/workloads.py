"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A *unit* is one query (``tpch_sql``) or one streaming program replayed to
exhaustion (``stream_stateful``); a *pass* runs every unit once, in an
order drawn from the seed. Checking happens after the timed passes and
covers the output of every unit in every pass.
"""

from __future__ import annotations

import os
import random
import re
import sys
from functools import lru_cache

import pandas as pd

#: The 21 TPC-H-shaped queries plus the two star-join rollups.
TPCH_QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_priority_check",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_parts_suppliers", "tpch_q17_small_quantity",
    "tpch_q18_large_orders", "tpch_q19_bracket_revenue",
    "tpch_q20_part_promotion", "tpch_q21_waiting_orders",
    "tpch_q22_sales_opportunity", "pricing_cube", "revenue_by_region",
]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

STREAM_PROGRAMS = ["sessionize_stream", "streaming_exact_dedup", "window_join_stream"]
SESSION_GAP = 300
JOIN_WINDOW = "2 seconds"
SCHEMAS = {
    "events": "event_id LONG, user STRING, t LONG",
    "docs": "doc_id LONG, text STRING",
    "grades": "ts_us LONG, name STRING, grade INT",
    "salaries": "ts_us LONG, name STRING, salary INT",
}


def pass_order(names: list[str], seed: int, pass_idx: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order


@lru_cache(maxsize=None)
def _normalize():
    """tools/selfcheck.py's bit-exact frame normalisation."""
    root = os.environ.get("PERFBENCH_ROOT", os.getcwd())
    sys.path.insert(0, os.path.join(root, "tools"))
    from selfcheck import normalize

    return normalize


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` if equal as selfcheck compares them, else the reason."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"cols {sorted(got.columns)} vs {sorted(want.columns)}"
    normalize = _normalize()
    try:
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return f"values differ: {str(exc)[:300]}"
    return None


class Unit:
    """What running one unit gave: its output, and for a streaming program
    its micro-batch times, progress reports and run ids."""

    def __init__(self, output, batch_ms=(), progress=(), run_ids=()):
        self.output = output
        self.batch_ms = list(batch_ms)
        self.progress = list(progress)
        self.run_ids = list(run_ids)


class TpchSql:
    events_per_pass = 0  # no event input

    def __init__(self, data_dir: str, tracer):
        import __spark_entry__ as entry

        # Select by name; never iterate queries() (its order rotates).
        registry = entry.queries()
        self.builders = {n: registry[n] for n in TPCH_QUERIES}
        self.oracles = entry.oracle_sql()
        self.data_dir = data_dir
        self.tracer = tracer
        self.units = TPCH_QUERIES

    def run_unit(self, spark, name: str, pass_dir: str, hooks) -> Unit:
        with self.tracer.span(name, "build"):
            df = self.builders[name](spark, self.data_dir)
        with self.tracer.span(name, "collect"):
            out = df.toPandas()
        hooks.release()
        return Unit(out)

    def check(self, spark, name: str, outputs: list[pd.DataFrame]) -> list[str | None]:
        import duckdb

        if name not in self.oracles:
            return ["no oracle"] * len(outputs)
        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        want = con.sql(self.oracles[name]).df()
        con.close()
        return [frames_equal(got, want) for got in outputs]


class StreamStateful:
    def __init__(self, data_dir: str, input_rows: dict[str, int], tracer):
        from flink_streaming_2_10_spark.streaming import runners

        self.runners = runners
        self.data_dir = data_dir
        self.tracer = tracer
        self.units = STREAM_PROGRAMS
        # every input row of the three programs is one event
        self.events_per_pass = sum(input_rows.values())

    def _src(self, spark, name: str, streaming: bool):
        from pyspark.sql import functions as F

        path = os.path.join(self.data_dir, name)
        reader = (
            spark.readStream.option("maxFilesPerTrigger", 1) if streaming else spark.read
        )
        df = reader.schema(SCHEMAS[name]).json(path)
        if name in ("grades", "salaries"):
            df = df.select(
                F.timestamp_micros("ts_us").alias("ts"),
                *[c for c in df.columns if c != "ts_us"],
            )
        return df

    def build(self, spark, name: str, streaming: bool):
        r = self.runners
        if name == "sessionize_stream":
            ev = self._src(spark, "events", streaming)
            if streaming:
                return r.sessionize_stream(ev, on=["user"], time_col="t", gap=SESSION_GAP)
            from flink_streaming_2_10_spark.operators.temporal import sessionize

            return sessionize(ev, on=["user"], time_col="t", gap=SESSION_GAP)
        if name == "streaming_exact_dedup":
            docs = self._src(spark, "docs", streaming)
            if streaming:
                return r.streaming_exact_dedup(docs)
            from flink_streaming_2_10_spark.pipeline.dedup import exact_dedup

            return exact_dedup(docs)
        return r.window_join_stream(
            self._src(spark, "grades", streaming),
            self._src(spark, "salaries", streaming),
            JOIN_WINDOW,
        )

    def run_unit(self, spark, name: str, pass_dir: str, hooks) -> Unit:
        with self.tracer.span(name, "build"):
            df = self.build(spark, name, streaming=True)
        frames: list[pd.DataFrame] = []

        def on_batch(bdf, batch_id):
            with self.tracer.span(f"{name} batch {batch_id}", "sink"):
                frames.append(bdf.toPandas())

        with self.tracer.span(name, "stream"):
            query = self.runners.run_update_stream(
                df, os.path.join(pass_dir, f"ck-{name}"), on_batch, "append"
            )
        progress = list(query.recentProgress)
        batch_ms = [
            float(p["durationMs"]["triggerExecution"])
            for p in progress
            if p.get("numInputRows", 0) > 0 and "triggerExecution" in p["durationMs"]
        ]
        out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        hooks.release()
        return Unit(out, batch_ms, progress, [str(query.runId)])

    def check(self, spark, name: str, outputs: list[pd.DataFrame]) -> list[str | None]:
        want = self.build(spark, name, streaming=False).toPandas()
        if name == "streaming_exact_dedup":
            return [self._check_dedup(got, want) for got in outputs]
        if name == "sessionize_stream":
            want = want[["event_id", "session_idx"]]
            return [
                frames_equal(got[["event_id", "session_idx"]], want)
                if "session_idx" in got else "no session_idx column"
                for got in outputs
            ]
        return [frames_equal(got, want) for got in outputs]

    def _check_dedup(self, got: pd.DataFrame, batch_survivors: pd.DataFrame) -> str | None:
        """Survivors may differ in which copy of a document arrived first,
        so compare fingerprint sets: the normalised texts the stream kept
        must be exactly those of the batch operator's survivors, once each."""
        if "text" not in got:
            return "no text column"

        def fp(text: str) -> str:
            return re.sub(r"\s+", " ", text.lower())

        docs = self._src_pandas("docs").set_index("doc_id")["text"]
        want = {fp(docs[i]) for i in batch_survivors["doc_id"]}
        kept = [fp(t) for t in got["text"]]
        if len(kept) != len(set(kept)):
            return f"{len(kept) - len(set(kept))} duplicate survivors"
        if set(kept) != want:
            return f"fingerprints differ: {len(set(kept) ^ want)} of {len(want)}"
        return None

    def _src_pandas(self, name: str) -> pd.DataFrame:
        d = os.path.join(self.data_dir, name)
        return pd.concat(
            [pd.read_json(os.path.join(d, f), lines=True, dtype=False) for f in sorted(os.listdir(d))],
            ignore_index=True,
        )
