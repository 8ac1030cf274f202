"""Explicit salted two-phase aggregation for skewed keys.

AQE's skew handling splits oversized SHUFFLE-JOIN partitions; it does
NOT help a skewed AGGREGATION key, where every row of a hot key must
still reach one reducer. The classic fix is salting: phase 1 aggregates
on (key, salt) — the hot key's rows spread over ``salts`` reducers and
collapse to ``salts`` partial rows — phase 2 merges the partials on the
bare key. Cost: one extra (vocabulary × salts)-sized exchange; win: no
reducer ever sees more than ~1/salts of the hottest key's rows.

The result is salt-invariant for any commutative-associative aggregate
(count/sum/min/max here), so the DuckDB oracle is the PLAIN single-phase
aggregate — the operator's whole contract is "same answer, bounded
reducer".

When to use at 100 TB — MEASURED, not asserted (SCALE_r10.md; probe
in git history at 009097d): at 20M rows with one key holding 50%,
salted runs 1.4–1.9× SLOWER than the plain aggregate at both 1e3 and
5e6 tail keys, because map-side partial aggregation already collapses
the hot key to ≤ 1 partial row per partition — for sum-mergeable
aggregates the engine's combine IS the skew fix. Reach for this module
only when partials are ineffective: per-mapper group cardinality at
sort-spill scale with a simultaneous hot key, or a pipeline whose
partial state doesn't collapse. Keyed WINDOW functions are the shape
that truly concentrates a hot key on one task; those need
bounded-frame rewrites, not salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_from: str,
    sums: dict[str, Column],
    salts: int = 32,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``sums`` maps output name → phase-1 aggregate expression; phase 2
    SUMs the partials, so expressions must be sum-mergeable (count →
    sum of counts, sum → sum of sums). ``salt_from`` is any column with
    per-row spread (an id); the salt is a deterministic hash bucket of
    it, so runs are reproducible — but the OUTPUT is identical for any
    salt assignment whatsoever.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(salts)).alias("__salt")
    phase1 = df.groupBy(*[F.col(k) for k in keys], salt).agg(
        *[expr.alias(f"__p_{name}") for name, expr in sums.items()]
    )
    return phase1.groupBy(*[F.col(k) for k in keys]).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in sums]
    )


def salted_topk_counts(
    df: DataFrame,
    key: str,
    salt_from: str,
    value_units: Column,
    k: int = 20,
    salts: int = 32,
) -> DataFrame:
    """Top-k keys by count (tie-break: key ascending) with a salted
    count/sum underneath — the hot-user/hot-token shape. The final cut
    is a deterministic sort + limit, planned as TakeOrderedAndProject
    over the already key-sized phase-2 output (no global sort)."""
    agged = salted_agg(
        df,
        keys=[key],
        salt_from=salt_from,
        sums={
            "cnt": F.count(F.lit(1)),
            "value_u_sum": F.sum(value_units),
        },
        salts=salts,
    )
    return (
        agged.orderBy(F.col("cnt").desc(), F.col(key))
        .limit(k)
    )
