"""Frequent-itemset mining: SON two-phase + FPGrowth (SURVEY §2.4 A11).

The reference implements SON with per-partition A-Priori at scaled
threshold ⌊s/p⌋ (phase 1, reference Assignment2/task1.py:42-137) and
exact candidate verification (phase 2, :145-172). SON is *exact*:
phase-1 candidates are a superset of the truly frequent sets
(monotonicity), phase 2 recounts them exactly.

Engine mapping:
- phase 1 = ``mapInPandas`` over a deterministic ``repartition(p,
  key)`` — each partition is a basket block; A-Priori runs in
  Arrow-batched Python (partition-block algorithm, the sanctioned
  escape hatch per SURVEY §2.12).
- candidate union → driver (bounded: candidates only) → broadcast.
- phase 2 = ``mapInPandas`` exact counting + ``groupBy(itemset).sum``
  + HAVING — partial counts merge map-side, one small shuffle.
- FPGrowth (`pyspark.ml.fpm`) is the built-in capability twin used as
  a cross-check in tests.

Scale design:
- The local threshold scales with the partition's actual share of
  baskets: ``ceil(support * part_baskets / total_baskets)``. Counts
  are integers, so any globally-frequent itemset clears this bound in
  at least one partition (pigeonhole) — exactness is preserved, and
  the threshold no longer collapses to 1 when support < partitions.
- Pair candidates are counted from pairs that *occur in baskets*
  (Σ C(|basket|,2) work), never enumerated from frequent-singleton
  cross products (O(f²), which kills the JVM at sf0.1).
- A candidate circuit breaker (``CANDIDATE_CAP``, through
  ``guards.require``) fails fast with a clear error instead of
  OOM-ing the driver when support is set unreasonably low for the
  data (SCALE.md "Finding 1").
The only driver-resident state is the candidate list. Baskets never
leave executors.
"""

from __future__ import annotations

import math
from collections import Counter
from itertools import combinations
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..guards import local_rows, require

# Frequent-set cap, per partition and for the phase-1 union: beyond
# this, phase 2 (baskets × candidates subset scan) and the driver
# collect stop being bounded. Must be positive: a cap <= 0 turns the
# per-partition guard off.
CANDIDATE_CAP = 200_000

_CAP_REMEDY = "raise `support` for this data size"


def _apriori_local(
    baskets: list[frozenset], threshold: int, max_size: int | None, cap: int
) -> set[tuple]:
    """In-memory A-Priori (reference Assignment2/task1.py:47-83):
    frequent k-sets seed candidate (k+1)-sets; counts via subset
    scan. Returns frequent itemsets as sorted tuples; more than
    ``cap`` of them raises ``guards.GuardError``.

    k=2 counts occurring pairs directly (Σ C(|b|,2)) rather than
    generating all pairs of frequent singletons — at low thresholds
    the cross-product form is O(f²) and melts memory.
    """
    threshold = max(threshold, 1)
    counts: Counter = Counter()
    for basket in baskets:
        counts.update(basket)
    frequent = {(i,) for i, c in counts.items() if c >= threshold}
    result = set(frequent)
    if max_size is not None and max_size < 2:
        return result

    freq_items = {t[0] for t in frequent}
    pair_counts: Counter = Counter()
    for basket in baskets:
        if len(basket) < 2:
            continue
        kept = sorted(i for i in basket if i in freq_items)
        pair_counts.update(combinations(kept, 2))
    frequent = {p for p, c in pair_counts.items() if c >= threshold}
    result |= frequent
    require(
        f"A-Priori frequent sets up to k=2 at local threshold {threshold}",
        cap, lambda: len(result), "CANDIDATE_CAP", _CAP_REMEDY,
    )

    k = 2
    while frequent and (max_size is None or k < max_size):
        k += 1
        prev_items = sorted({i for tup in frequent for i in tup})
        candidates = set()
        for tup in frequent:
            for item in prev_items:
                if item > tup[-1]:
                    cand = tup + (item,)
                    # a-priori prune: all (k-1)-subsets must be frequent
                    if all(
                        tuple(sorted(set(cand) - {x})) in frequent for x in cand
                    ):
                        candidates.add(cand)
        if not candidates:
            break
        cand_sets = [(c, frozenset(c)) for c in candidates]
        counts = Counter()
        for basket in baskets:
            if len(basket) < k:
                continue
            for cand, cset in cand_sets:
                if basket >= cset:
                    counts[cand] += 1
        frequent = {c for c, n in counts.items() if n >= threshold}
        result |= frequent
        require(
            f"A-Priori frequent sets up to k={k} at local threshold {threshold}",
            cap, lambda: len(result), "CANDIDATE_CAP", _CAP_REMEDY,
        )
    return result


def son_frequent_itemsets(
    baskets_df: DataFrame,
    items_col: str = "items",
    support: int = 3,
    num_partitions: int = 8,
    max_size: int | None = None,
) -> DataFrame:
    """SON over a (key, items array<string>) DataFrame →
    (itemset csv-string, support long), exact at ``support``.

    ``num_partitions`` is pinned (SURVEY §7 watch-list 4): phase-1
    thresholds depend on the partition count, so it is an explicit
    parameter, not cluster-dependent state. The phase-1 threshold is
    ``ceil(support * partition_share)`` — exact by pigeonhole (see
    module docstring), never the degenerate ``support // p`` of the
    reference (Assignment2/task1.py:42) which floors to 0-1 whenever
    support < p.

    Phase 1 fails fast above ``CANDIDATE_CAP`` frequent sets, per
    partition and in the candidate union the driver collects.
    """
    spark = baskets_df.sparkSession
    # read on the driver so the phase-1 closure ships the value
    cap = CANDIDATE_CAP
    parts = (
        baskets_df.select(F.col(items_col).alias("items"))
        .repartition(num_partitions, F.crc32(F.concat_ws(",", F.col(items_col))))
        .persist()
    )
    # One materializing pass warms the cache for the two mapInPandas
    # jobs (phase 1 + phase 2) AND supplies the basket total that the
    # partition-share threshold needs.
    total = parts.count()
    if total == 0:
        return spark.createDataFrame([], "itemset string, support long")

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        baskets = []
        for pdf in batches:
            baskets.extend(frozenset(row) for row in pdf["items"])
        local_threshold = max(
            1, math.ceil(support * len(baskets) / total)
        )
        found = _apriori_local(baskets, local_threshold, max_size, cap)
        yield pd.DataFrame({"itemset": [",".join(t) for t in found]})

    cand_df = parts.mapInPandas(phase1, "itemset string").distinct()
    rows = local_rows(cand_df, cap)
    if rows is None:
        require(
            "SON phase-1 candidates (counted up to CANDIDATE_CAP + 1)",
            cap, lambda: cap + 1, "CANDIDATE_CAP", _CAP_REMEDY,
        )
    cand_bc = spark.sparkContext.broadcast(
        [tuple(r.itemset.split(",")) for r in rows]
    )

    def phase2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Exact counting pass. Singletons count directly; k>=2
        # candidates sit in an inverted index keyed by their first
        # (sorted) item so each basket only tests candidates it could
        # possibly contain — never the full candidate list (the
        # O(baskets x candidates) scan does not survive wide
        # candidate sets).
        singles = set()
        by_first: dict = {}
        for c in cand_bc.value:
            if len(c) == 1:
                singles.add(c[0])
            else:
                by_first.setdefault(c[0], []).append((c, frozenset(c)))
        counts: Counter = Counter()
        for pdf in batches:
            for row in pdf["items"]:
                b = frozenset(row)
                for item in b & singles:
                    counts[(item,)] += 1
                for item in b:
                    for cand, cset in by_first.get(item, ()):
                        if b >= cset:
                            counts[cand] += 1
        all_cands = [tuple(c) for c in cand_bc.value]
        yield pd.DataFrame(
            {
                "itemset": [",".join(c) for c in all_cands],
                "cnt": [counts.get(c, 0) for c in all_cands],
            }
        )

    return (
        parts.mapInPandas(phase2, "itemset string, cnt long")
        .groupBy("itemset")
        .agg(F.sum("cnt").alias("support"))
        .where(F.col("support") >= support)
    )


def fpgrowth_frequent_itemsets(
    baskets_df: DataFrame, items_col: str = "items", support: int = 3
) -> DataFrame:
    """Built-in capability twin: ml.fpm.FPGrowth → same output shape
    (itemset csv-string sorted, support).

    Baskets are pruned to globally-frequent items BEFORE the fit
    (the A2-task2 pattern, reference Assignment2/task2.py:24-28):
    any itemset containing an infrequent item cannot be frequent
    (monotonicity), so the filter is exactness-preserving while
    shrinking the FP-tree the fit must explore — at low relative
    supports the unpruned tree dominates the runtime. Empty baskets
    are kept so the relative minSupport denominator is unchanged.

    Surviving items are dictionary-compressed to dense int codes for
    the fit (``dictionary_encode_big`` — no single-task sort, scales
    with the frequent-item domain) and decoded in the output
    projection: FP-tree nodes and the conditional bases then carry
    4-byte ints instead of strings, which both shrinks the tree and
    makes node comparisons cheap. Output contract unchanged:
    (itemset csv of original items lexicographically sorted, support).
    """
    from pyspark.ml.fpm import FPGrowth

    from .encoding import dictionary_encode_big

    keyed = baskets_df.select(
        F.monotonically_increasing_id().alias("_bid"),
        F.col(items_col).alias("_items"),
    ).persist()
    total = keyed.count()
    exploded = keyed.select("_bid", F.explode("_items").alias("_i"))
    freq_items = (
        exploded.groupBy("_i")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= support)
        .select("_i")
    )
    # item -> dense int code; the same broadcast join that prunes
    # infrequent items attaches the code, so encoding costs no extra
    # shuffle over the plain prune
    item_dict = dictionary_encode_big(freq_items, "_i", "_code")
    pruned = (
        keyed.join(
            exploded.join(F.broadcast(item_dict), "_i")
            .groupBy("_bid")
            .agg(F.collect_list("_code").alias("_kept")),
            "_bid",
            "left",
        )
        .select(
            F.coalesce("_kept", F.array().cast("array<int>")).alias(items_col)
        )
    )
    # minCount = ceil(minSupport * total); nudge below the exact
    # fraction so float round-up can never raise the effective count
    # to support+1 — the final filter restores exactness.
    # numPartitions stays at the library default (= input
    # partitioning): swept 0/8/32/64 at sf0.1 → 10.8/12.2/14.1/16.1 s
    # with identical outputs (OPTIMIZATION_r18.md §6) — the extra
    # shuffle of conditional bases costs more than the parallelism it
    # adds.
    model = FPGrowth(
        itemsCol=items_col,
        minSupport=max(support - 0.5, 0.5) / max(total, 1),
        minConfidence=0.5,
    ).fit(pruned)
    coded = model.freqItemsets.where(F.col("freq") >= support)
    # decode: explode codes, broadcast-join the dictionary back, and
    # regroup on the (distinct-by-construction) code array — sorting
    # happens on the DECODED strings so the csv order matches the
    # pre-encoding contract
    return (
        coded.select(
            F.col("items").alias("_codes"),
            F.col("freq").alias("support"),
            F.explode("items").alias("_code"),
        )
        .join(F.broadcast(item_dict), "_code")
        .groupBy("_codes", "support")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("_i"))).alias("itemset")
        )
        .select("itemset", "support")
    )
