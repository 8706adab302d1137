"""Relational operators (SURVEY.md §2.2-2.7).

Each function is a parameterized, table-agnostic version of a query
shape the reference hardwires to Yelp files. All are lazy DataFrame
transformations; Catalyst handles partial aggregation, predicate
pushdown, column pruning, and join-strategy selection. Shuffle
surface is noted per operator — that is the 100 TB design review.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sketches import approx_distinct


def count_rows(df: DataFrame) -> DataFrame:
    """A1: global count. Partial counts per partition, single-row
    final merge — no data shuffle, only counters."""
    return df.agg(F.count(F.lit(1)).alias("n"))


def count_by(df: DataFrame, *keys: str | Column, alias: str = "n") -> DataFrame:
    """A2: count per key (reference ``reduceByKey(add)``,
    Assignment1/task1.py:25). Map-side partial agg then one shuffle
    on the group keys."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def distinct_count(df: DataFrame, col: str | Column, alias: str = "n") -> DataFrame:
    """A3: exact distinct count (reference reduceByKey-then-count,
    Assignment1/task1.py:29). Expands to a two-stage partial
    aggregate in Catalyst."""
    return df.agg(F.countDistinct(col).alias(alias))


def approx_distinct_count(
    df: DataFrame, col: str | Column, rsd: float = 0.05, alias: str = "n_approx"
) -> DataFrame:
    """A12 capability: HLL approximate distinct (``sketches.approx_distinct``)
    — the engine's answer to Flajolet-Martin (Assignment6/task2.py:33-76).
    Constant memory per partition; no shuffle of raw values, only
    sketches."""
    return df.agg(approx_distinct(col, rsd).alias(alias))


def top_k_by_count(
    df: DataFrame,
    key: str | Column,
    k: int,
    count_alias: str = "n",
) -> DataFrame:
    """O1+O3: top-k keys by frequency, ties broken key-ascending
    (A1 PDF §4.1.3 tie rule). Plans as TakeOrderedAndProject — each
    partition keeps only k rows, driver merges k*p rows, never the
    full table."""
    key_col = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .orderBy(F.col(count_alias).desc(), key_col.asc())
        .limit(k)
    )


def word_count(
    df: DataFrame,
    text_col: str,
    stopwords: tuple[str, ...] = (),
    alias: str = "n",
) -> DataFrame:
    """A7: tokenize + count per word (reference flatMap-split,
    Assignment1/task1.py:52-53). Normalization + explode stay in
    whole-stage codegen; one shuffle on the word key."""
    from ..functions.text import normalize, tokenize

    words = F.explode(tokenize(normalize(text_col))).alias("word")
    out = df.select(words)
    if stopwords:
        out = out.where(~F.col("word").isin(*stopwords))
    return out.groupBy("word").agg(F.count(F.lit(1)).alias(alias))


def baskets(
    df: DataFrame, key: str | Column, item: str | Column, alias: str = "items"
) -> DataFrame:
    """A5: market-basket build — key → sorted array of distinct items
    (reference set-union reduce, Assignment2/task1.py:28-35).
    ``array_sort`` makes downstream comparisons and oracles
    order-insensitive. One shuffle on the basket key."""
    return df.groupBy(key).agg(F.array_sort(F.collect_set(item)).alias(alias))


def co_occurrence_pairs(
    df: DataFrame,
    key: str,
    item: str,
    min_shared: int,
    left_alias: str = "a",
    right_alias: str = "b",
    count_alias: str = "n_shared",
) -> DataFrame:
    """J3: theta-join on set overlap rewritten as equi-join + HAVING.

    The reference discovers graph edges with an O(V^2) driver loop
    over a collected dict (Assignment4/task1.py:32-47). Here:
    distinct (key,item) pairs self-joined on item, pair-counted,
    filtered to >= min_shared, emitted once with a < b. Shuffles: one
    on item for the join, one on the pair for the count — both scale
    out; hot items are handled by AQE skew-join splitting.

    Scale note (r14, measured): the pair expansion is Σdᵢ² over item
    degree. On FLAT-degree corpora that is volume-linear and this
    exact build is the right plan — at sf10 (degree ~10, max banded
    bucket 73) it beats the LSH pre-cut 350.6 s vs 758.7 s because
    ~40-item baskets against 32 minhashes leave banding nothing to
    prune (343M candidate rows vs 300M exact pair rows, SCALE.md
    r14). Under DEGREE SKEW the d² term owns the shuffle and this
    build dies first; there prefer :func:`co_occurrence_pairs_lsh`,
    whose output provably refines this one (identical counts,
    banded-recall contract) and whose buckets stay ~d/|basket| wide
    regardless of a hot item's degree (skew receipt: SCALE.md r14).
    """
    base = df.select(F.col(key).alias("_k"), F.col(item).alias("_i")).distinct()
    left = base.select(F.col("_k").alias(left_alias), "_i")
    right = base.select(F.col("_k").alias(right_alias), "_i")
    return (
        left.join(right, "_i")
        .where(F.col(left_alias) < F.col(right_alias))  # J6: unordered pair once
        .groupBy(left_alias, right_alias)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .where(F.col(count_alias) >= min_shared)
    )


def co_occurrence_pairs_lsh(
    df: DataFrame,
    key: str,
    item: str,
    min_shared: int,
    left_alias: str = "a",
    right_alias: str = "b",
    count_alias: str = "n_shared",
    num_hashes: int = 32,
    bands: int = 32,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """LSH-pre-cut twin of :func:`co_occurrence_pairs` (r13 verdict
    task 1): banded-minhash candidate generation over the (key →
    items) baskets replaces the exact Σdᵢ² pair expansion, then the
    shared-item count of each surviving candidate is verified EXACTLY
    and filtered to >= min_shared.

    Contract: output ⊆ the exact twin's output with identical
    ``count_alias`` values on every emitted pair (precision 1.0 — the
    verify is exact; refinement pytest-asserted). Recall is governed
    by the banding vs each qualifying pair's JACCARD, not its raw
    overlap: a pair sharing min_shared items out of huge baskets has
    low Jaccard and may miss every band. One caveat on "identical
    counts" (ADVICE r14): the verify intersects 60-bit md5 ITEM
    HASHES while the exact twin (and the DuckDB replay) counts raw
    items, so two distinct items of one pair's union colliding in 60
    bits would inflate n_shared — P ≈ n²/2⁶¹ per pair, the same seam
    every md5-folded family member documents; negligible at any
    corpus size this engine runs.

    WHEN to use which twin — measured, not assumed (SCALE.md r14):
    this build's candidate volume is what banding leaves after
    sampling ≤ num_hashes minima per basket and capping hot buckets.
    On the FLAT synthetic corpus (degree ~10, ~40-item baskets vs 32
    hashes) banding prunes nothing — 343M candidate rows vs the exact
    build's 300M at sf10 — and the signature + dedup overhead makes
    this twin SLOWER (758.7 s vs 350.6 s). Under DEGREE SKEW the
    roles invert: a hot item of degree d adds d²/2 rows to the exact
    shuffle but only ~(d/|basket|)²-wide buckets here (each holder's
    minimum is the hot item with prob ~1/|basket|), so this build's
    wall barely moves while the exact one's explodes — the skew
    receipt in SCALE.md r14 measures exactly that. Use exact on
    flat/bounded-degree relations; use this one when the item-degree
    distribution is heavy-tailed (the 100 TB default) or baskets are
    large relative to num_hashes (documents/shingles).

    Items are cast to string (md5-folded like every minhash family
    member) — distinctness-preserving for the numeric item ids the
    graph queries use, so the overlap counts match the exact twin's.
    """
    from .similarity import minhash_lsh_pairs

    pairs = df.select(
        F.col(key).alias("_k"), F.col(item).cast("string").alias("_i")
    )
    return minhash_lsh_pairs(
        baskets(pairs, "_k", "_i"),
        "_k",
        "items",
        threshold=0.0,  # ignored: min_overlap mode verifies on count
        num_hashes=num_hashes,
        bands=bands,
        key_a=left_alias,
        key_b=right_alias,
        max_bucket=max_bucket,
        min_overlap=min_shared,
        count_alias=count_alias,
    )


def top_k_per_group(
    df: DataFrame,
    group: str | Column,
    order: list[Column],
    k: int,
    rank_alias: str = "rnk",
    ties: bool = True,
) -> DataFrame:
    """§2.5/A14: top-k within each group; ``ties=True`` uses
    dense_rank (all ties kept, the reference's top-3-hashtags rule,
    Assignment6/task3.py:86-97), else row_number."""
    fn = F.dense_rank() if ties else F.row_number()
    w = Window.partitionBy(group).orderBy(*order)
    return df.withColumn(rank_alias, fn.over(w)).where(F.col(rank_alias) <= k)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for pathological skew.

    ``left`` (the skewed, large side) gets a random salt in [0, salt);
    ``right`` is replicated ``salt`` times with every salt value, and
    the join runs on (key, salt) — so one hot key's rows spread over
    ``salt`` shuffle partitions instead of hammering one reducer.
    Output columns match ``left.join(right, on, how)``.

    AQE's skew-join split handles moderate skew without help and is
    the first choice; explicit salting is for the cases AQE can't
    split — a sort-merge join whose single hot key exceeds executor
    memory, or a deliberately partitioned write. Replication cost is
    |right| × salt: keep ``right`` the smaller side (if it fits a
    broadcast, use a broadcast join instead — salting is pointless
    there). The salt column uses a per-row uniform draw, seeded for
    repeatable tests; correctness never depends on the draw.
    """
    if salt < 1:
        raise ValueError("salt must be >= 1")
    if how not in {"inner", "left", "left_outer", "leftouter", "semi",
                   "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}:
        # right/full joins would emit each unmatched RIGHT row once per
        # salt replica — silently wrong; refuse instead.
        raise ValueError(f"salted_join supports left-preserving joins only, not {how!r}")
    lhs = left.withColumn("_salt", (F.rand(seed=7) * salt).cast("int"))
    rhs = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return lhs.join(rhs, [on, "_salt"], how).drop("_salt")
