"""Seeded input generation for the benchmark workloads.

Everything the benchmark reads is written here, under the run's own work
directory; nothing is read from outside the checkout. The streaming
inputs are drawn from ``--seed``; the TPC-H tables are fixed.

* :func:`write_tpch` writes the seven TPC-H-style tables the ``tpch_*``
  queries, ``pricing_cube`` and ``revenue_by_region`` read. They are the
  repository's testdata (TESTDATA.md) regenerated value for value from
  its seed, so the queries see the same joins and selectivities as in
  the correctness tier: ``sf`` 0.1 gives 600k lineitem rows.
* :func:`write_streams` writes the micro-batch files the stateful
  streaming programs replay, one file per batch.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# Category lists in the order the reference generator indexes them.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
#: The seed of the repository's testdata (TESTDATA.md).
TPCH_SEED = 42
#: The window-join name domain (FIXTURES.md F-2).
NAMES = ["tom", "jerry", "alice", "bob", "john", "grace"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs


def _days_after_1995(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def tpch_tables(sf: float) -> dict[str, pa.Table]:
    """The seven tables, drawn column by column from one
    ``np.random.default_rng(TPCH_SEED)`` in the reference generator's
    order, so that values, types and row order equal the repository's
    testdata at the same scale factor (check with
    ``python3 perfbench/datagen.py <testdata sf dir>``)."""
    rng = np.random.default_rng(TPCH_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(domain: list[str], n: int) -> np.ndarray:
        return np.array(domain)[rng.integers(0, len(domain), n)]

    def ints(lo: int, hi: int, n: int, dtype: str = "int64") -> np.ndarray:
        return rng.integers(lo, hi, n).astype(dtype)

    customer = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": ints(0, 25, n_cust, "int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    }
    supplier = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": ints(0, 25, n_supp, "int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    part = {"p_partkey": np.arange(n_part, dtype="int64")}
    adj = pick(PART_ADJ, n_part)
    part["p_name"] = np.char.add(np.char.add(adj, " "), pick(PART_NOUN, n_part))
    part["p_brand"] = np.char.add("Brand#", ints(1, 26, n_part).astype(str))
    part["p_type"] = pick(PART_TYPES, n_part)
    part["p_size"] = ints(1, 51, n_part, "int32")
    part["p_retailprice"] = (90_000 + np.arange(n_part) % 1_000 * 10) / 100.0
    orders = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": ints(0, n_cust, n_ord),
        "o_orderstatus": pick(ORDER_STATUS, n_ord),
        "o_totalprice": money(1_000, 500_000, n_ord),
        "o_orderdate": _days_after_1995(ints(0, 2_405, n_ord)),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    }
    lineitem = {
        "l_orderkey": ints(0, n_ord, n_line),
        "l_partkey": ints(0, n_part, n_line),
        "l_suppkey": ints(0, n_supp, n_line),
        "l_linenumber": ints(1, 8, n_line, "int32"),
        "l_quantity": ints(1, 51, n_line, "float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": money(0, 0.1, n_line),
        "l_tax": money(0, 0.08, n_line),
        "l_returnflag": pick(RETURN_FLAGS, n_line),
        "l_linestatus": pick(LINE_STATUS, n_line),
        "l_shipdate": _days_after_1995(ints(1, 2_500, n_line)),
    }
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table(customer),
        "supplier": pa.table(supplier),
        "part": pa.table(part),
        "orders": pa.table(orders),
        "lineitem": pa.table(lineitem),
    }


def write_tpch(out_dir: str, sf: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tpch_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def compare_with(ref_dir: str, sf: float) -> list[str]:
    """Tables of ``tpch_tables(sf)`` that differ from the parquet files
    in ``ref_dir`` (schema, values or row order); empty when all equal."""
    return [
        name for name, table in tpch_tables(sf).items()
        if not pq.read_table(os.path.join(ref_dir, f"{name}.parquet")).equals(table)
    ]


def stream_inputs(seed: int, batches: int, per_batch: int) -> dict[str, list[list[dict]]]:
    """Rows per micro-batch for each streaming program's input.

    * ``events``: skewed keys (a Zipf-like draw over ``users``), per-key
      time-ascending, replayed in global time order.
    * ``docs``: documents of which a seeded share re-sends an earlier
      document with case/whitespace changes (exact duplicates after the
      dedup normalisation).
    * ``grades`` / ``salaries``: the window-join sides; batch ``b`` covers
      event time ``[b*span, (b+1)*span)`` seconds, a whole number of join
      windows, so no row is late and no window straddles two batches.
    """
    rng = np.random.default_rng([seed, 0x5E])
    users = max(8, per_batch // 4)
    weights = 1.0 / np.arange(1, users + 1) ** 1.1
    weights /= weights.sum()
    n = batches * per_batch

    user = rng.choice(users, size=n, p=weights)
    step = rng.integers(1, 120, n)
    t = np.empty(n, dtype="int64")
    last = np.zeros(users, dtype="int64")
    for i in range(n):  # per-key ascending: each key advances its own clock
        last[user[i]] += step[i]
        t[i] = last[user[i]]
    order = np.lexsort((np.arange(n), t))
    events = [
        {"event_id": int(i), "user": f"u{int(user[j])}", "t": int(t[j])}
        for i, j in enumerate(order)
    ]

    docs: list[dict] = []
    words = np.array(WORDS)
    for i in range(n):
        if docs and rng.random() < 0.2:
            src = docs[int(rng.integers(0, len(docs)))]["text"]
            toks = src.split(" ")
            k = int(rng.integers(0, len(toks)))
            toks[k] = toks[k].upper()
            text = ("  " if rng.random() < 0.5 else "\t").join(toks)
        else:
            text = " ".join(words[rng.integers(0, len(WORDS), rng.integers(4, 40))])
        docs.append({"doc_id": i, "text": text})

    span_s = 10  # five 2-second join windows per batch
    per_side = max(4, per_batch // 4)  # the join's output grows with its square
    sides = {}
    for side, col, hi in (("grades", "grade", 6), ("salaries", "salary", 10_001)):
        offs = np.sort(
            rng.integers(0, span_s * 1_000_000, batches * per_side).reshape(
                batches, per_side
            ),
            axis=1,
        )
        rows = []
        for b in range(batches):
            for j in range(per_side):
                us = 1_704_067_200_000_000 + b * span_s * 1_000_000 + int(offs[b, j])
                rows.append({
                    "ts_us": us,
                    "name": NAMES[int(rng.integers(0, len(NAMES)))],
                    col: int(rng.integers(1, hi)),
                })
        sides[side] = rows

    def chunk(rows: list[dict]) -> list[list[dict]]:
        size = len(rows) // batches
        return [rows[b * size:(b + 1) * size] for b in range(batches)]

    return {
        "events": chunk(events),
        "docs": chunk(docs),
        "grades": chunk(sides["grades"]),
        "salaries": chunk(sides["salaries"]),
    }


def write_streams(out_dir: str, seed: int, batches: int, per_batch: int) -> dict[str, int]:
    """One JSON-lines file per micro-batch under ``<out_dir>/<input>/``,
    mtime-ordered so ``maxFilesPerTrigger=1`` replays them in order.
    Returns the row count of each input."""
    counts = {}
    for name, chunks in stream_inputs(seed, batches, per_batch).items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for b, rows in enumerate(chunks):
            path = os.path.join(d, f"part-{b:05d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(json.dumps(r) for r in rows) + "\n")
            mtime = 1_700_000_000 + b
            os.utime(path, (mtime, mtime))
        counts[name] = sum(len(rows) for rows in chunks)
    return counts


if __name__ == "__main__":
    import re
    import sys

    # python3 perfbench/datagen.py <dir of a testdata scale factor, e.g. .../sf0.01>
    ref = sys.argv[1]
    scale = float(re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(ref))).group(1))
    differ = compare_with(ref, scale)
    print(f"sf{scale}: " + (f"differ: {differ}" if differ else "all 7 tables equal"))
    sys.exit(1 if differ else 0)
