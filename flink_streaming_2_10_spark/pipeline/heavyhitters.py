"""Frequency heavy hitters — every token above a support threshold,
with EXACT counts, found without a full-vocabulary shuffle (the
Misra–Gries candidate-pass + exact-recount two-phase design).

Why a sketch when ``top_ngrams`` already does exact top-k?  Top-k by
full ``groupBy`` shuffles one partial-aggregated row PER DISTINCT TOKEN
per partition — at 100 TB the vocabulary of raw web tokens is billions
of strings (typos, ids, urls), so the exchange carries the vocabulary
itself.  The heavy-hitter contract ("everything above fraction
1/(s+1)") admits a two-phase plan whose shuffle carries at most
``sketch_cap`` rows per partition, independent of vocabulary size:

1. **Sketch pass** (Arrow-batched ``mapInPandas`` — genuinely
   imperative per-partition state, the justified-Python criterion used
   by operators/topspeed.py and operators/async_io.py): each partition
   folds its token stream through a Misra–Gries summary of capacity
   ``cap``.  Batches are vectorized (``value_counts`` + indexed add);
   when the summary overflows, subtract δ = the (cap+1)-th largest
   count from every entry and drop the non-positive ones.  Each such
   subtraction removes ≥ (cap+1)·δ mass out of ≤ N_p total, so any
   item's undercount is ≤ Σδ ≤ N_p/(cap+1) — the classic MG bound —
   and every token with LOCAL count > N_p/(cap+1) survives its
   partition's summary.
2. **Candidate union**: a token with GLOBAL count > N/(cap+1) must
   exceed local fraction 1/(cap+1) in at least one partition (averaging
   argument), so the union of per-partition survivors (≤ cap·P rows,
   8-byte-hash narrow) is a SUPERSET of every global heavy hitter.
   With ``sketch_cap ≥ support_denom`` the guarantee covers the
   requested threshold.
3. **Exact recount**: re-aggregate ONLY the candidates (broadcast semi
   join on the token-stream side; map-side partial agg emits ≤
   |candidates| rows per partition) and keep ``cnt·(s+1) > N`` — pure
   64-bit integer arithmetic, so the final set and counts are EXACT and
   the DuckDB oracle reproduces them bit-for-bit WITHOUT mirroring the
   sketch: the sketch affects only the plan, never the answer.

The token stream is re-tokenized for each of the two passes by DEFAULT
(``persist_tokens=False``): the exploded stream is corpus-sized, so
caching it at 100 TB means spilling the whole corpus to executor disk.
``persist_tokens=True`` opts small corpora into the single-scan shape —
the output is identical either way (the sketch's point is that BOTH
passes stay shuffle-light, not that the scan count is one).

When to use it (measured — SCALE_r09.md vocabulary sweep; probe in
git history at 009097d): at vocabularies the JVM agg hash map holds
comfortably (≤ millions of entries), a plain exact
``groupBy(token).count()`` + threshold filter is ~3× FASTER — the
sketch pays the Arrow transfer of the whole token stream into Python
while a small partial-agg map costs the JVM nothing, and both are flat
in vocabulary. The MG path is for when the VOCABULARY is the problem
(raw web-crawl tokens: billions of distinct typos/ids/urls): it bounds
per-executor aggregation state at ``cap`` entries and the exchange at
``cap`` rows per partition, where the exact plan's exchange carries
the full vocabulary and its hash maps spill.

Like pipeline/sketches.py's KMV state, MG summaries are MERGEABLE
(sum counts, re-trim to cap): ``merge_mg_summaries`` gives the
incremental/streaming face, with errors adding across merges
(undercount ≤ Σ per-summary bounds — Agarwal et al.'s mergeable
summaries result).

Tokenizer parity: the same lowercase ``\\W+`` split as the rest of the
text family (reference tokenizer surface, WordCount.java:106-122).
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame, functions as F

from flink_streaming_2_10_spark.pipeline.caching import tracked_persist
from flink_streaming_2_10_spark.pipeline.dedup import _words_sql

#: Default support denominator: report tokens above 1/(s+1) = 0.2% of
#: the corpus token stream.
DEFAULT_SUPPORT_DENOM = 499


def _mg_fold(counts: dict[str, int], add: Iterable[tuple[str, int]], cap: int) -> int:
    """Fold ``(token, weight)`` pairs into a Misra–Gries summary dict in
    place; returns the total δ subtracted (the undercount added by this
    fold).  Pure-Python core shared by the executor pass and
    ``merge_mg_summaries`` so the trim rule exists exactly once."""
    for tok, w in add:
        counts[tok] = counts.get(tok, 0) + int(w)
    delta_total = 0
    while len(counts) > cap:
        # δ = (cap+1)-th largest: ≥ cap+1 entries lose δ each, so the
        # removed mass is ≥ (cap+1)·δ — the bound in the module header.
        vals = sorted(counts.values(), reverse=True)
        delta = vals[cap]
        delta_total += delta
        counts_new = {t: c - delta for t, c in counts.items() if c > delta}
        counts.clear()
        counts.update(counts_new)
    return delta_total


def merge_mg_summaries(
    a: Iterable[tuple[str, int]],
    b: Iterable[tuple[str, int]],
    cap: int,
) -> list[tuple[str, int]]:
    """Merge two MG summaries into one of capacity ``cap`` (sum counts,
    re-trim).  Undercount bounds ADD: if ``a`` and ``b`` undercount by
    ≤ εa and ≤ εb, the merge undercounts by ≤ εa + εb + δ_trim — the
    mergeable-summaries property that lets per-shard/per-day summaries
    roll up without revisiting the stream.  Deterministic given input
    order-independent dict semantics (ties all shift by the same δ)."""
    counts: dict[str, int] = {}
    _mg_fold(counts, a, cap)
    _mg_fold(counts, b, cap)
    return sorted(counts.items())


def _mg_partitions(cap: int):
    """mapInPandas generator: per partition emit MG survivors as
    ``(tok, w)`` rows plus ONE ``(NULL, partition_token_count)`` row so
    the global total rides the same pass (no second scan for N)."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        counts: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            s = pdf["tok"]
            n_part += len(s)
            vc = s.value_counts()  # vectorized: O(batch) + O(distinct)
            _mg_fold(counts, vc.items(), cap)
        yield pd.DataFrame(
            {
                "tok": list(counts.keys()) + [None],
                "w": [int(v) for v in counts.values()] + [n_part],
            }
        )

    return gen


def heavy_hitter_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    support_denom: int = DEFAULT_SUPPORT_DENOM,
    sketch_cap: int | None = None,
    persist_tokens: bool = False,
) -> DataFrame:
    """``(token, cnt, total_tokens)`` — every token whose EXACT corpus
    count satisfies ``cnt · (support_denom + 1) > total_tokens`` (i.e.
    frequency strictly above ``1/(support_denom+1)``), counts exact.

    ``sketch_cap`` (default ``support_denom``, must be ≥ it) trades
    executor memory (cap dict entries) for candidate-set size; the
    OUTPUT is invariant to it — only the plan changes.

    ``persist_tokens`` caches the exploded token stream between the
    sketch pass and the exact recount, saving the second corpus scan —
    but the exploded stream is CORPUS-SIZED (larger than the input: one
    row per token), so at 100 TB that cache is the whole corpus spilled
    to executor disk. The default (``False``) re-scans: two cheap
    columnar scans beat materializing a corpus-sized intermediate, the
    same small-case/large-case trade the dedup family exposes
    explicitly. Output is identical either way (pinned by
    ``tests/test_heavyhitters.py``)."""
    s = int(support_denom)
    if s < 1:
        raise ValueError("support_denom must be >= 1")
    cap = int(sketch_cap) if sketch_cap is not None else s
    if cap < s:
        raise ValueError(
            f"sketch_cap ({cap}) must be >= support_denom ({s}): the MG "
            f"guarantee only covers items above 1/(cap+1)"
        )
    toks = df.select(F.explode(F.expr(_words_sql(text_col))).alias("tok"))
    if persist_tokens:
        toks = tracked_persist(toks)
    sketch = toks.mapInPandas(_mg_partitions(cap), schema="tok string, w long")
    sketch = tracked_persist(sketch)
    total = sketch.filter(F.col("tok").isNull()).agg(
        F.sum("w").cast("long").alias("total_tokens")
    )
    candidates = sketch.filter(F.col("tok").isNotNull()).select("tok").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(s + 1) > F.col("total_tokens"))
        .select(F.col("tok").alias("token"), "cnt", "total_tokens")
    )
