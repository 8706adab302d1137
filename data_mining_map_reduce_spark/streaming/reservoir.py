"""Reservoir sampling (SURVEY §2.9 ST6 / §2.11 M4).

The reference keeps a global 100-slot reservoir fed by a tweepy
callback: keep the first 100 items, then keep the n-th with
probability 100/n, evicting a uniform-random slot (reference
Assignment6/task3.py:38-78). That is inherently sequential driver
state — the engine reproduces those exact semantics as a seeded
driver-side sampler fed by ``foreachBatch`` (the shape SURVEY §2.9
sanctions), and ALSO provides the distributed batch equivalent: a
uniform k-row sample via ``ORDER BY rand(seed) LIMIT k``, which has
the identical uniform-k-subset distribution and plans as
TakeOrderedAndProject (per-partition top-k, no full sort, no driver
sequential pass) — the 100 TB path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..guards import local_rows, require


class ReservoirSampler:
    """Sequential reservoir with the reference's exact update rule.

    Deterministic under ``seed``. ``feed`` accepts any iterable of
    items; use as the body of a ``foreachBatch`` callback (stream) or
    feed batch partitions in order (test harness).
    """

    def __init__(self, capacity: int = 100, seed: int = 7):
        self.capacity = capacity
        self.count = 0
        self.items: list = []
        self._rng = random.Random(seed)

    def feed(self, items) -> None:
        for item in items:
            self.count += 1
            if len(self.items) < self.capacity:
                self.items.append(item)
            # n-th item kept with probability capacity/n, evicting a
            # uniform slot (Assignment6/task3.py:52-60 semantics)
            elif self._rng.random() < self.capacity / self.count:
                self.items[self._rng.randrange(self.capacity)] = item

    def foreach_batch(self, order_col: str, batch_cap: int = 1_000_000):
        """ST6: foreachBatch callback feeding rows in a deterministic
        per-batch order (micro-batch content is deterministic under
        availableNow file replay; ordering within the batch must be
        pinned for reproducibility): by ``order_col``, ties broken by
        the batch's remaining columns in schema order, so rows with
        equal order values never feed in file order.

        ``batch_cap`` bounds the per-batch collect
        (``guards.local_rows``) — this sampler IS driver-side
        sequential state by its documented semantics (reference
        Assignment6/task3.py's global reservoir), but an unbounded
        collect of a runaway micro-batch would OOM the driver before
        the operator's semantics ever mattered, so an oversized batch
        fails fast, before anything is fed, with the scale
        prescription. ``batch_cap=0`` collects unbounded. The
        executor-side keyed reservoir (streaming/stateful.py
        ``keyed_reservoir``) is the unbounded-scale path."""

        def _fn(batch_df: DataFrame, batch_id: int) -> None:
            ordered = batch_df.orderBy(
                order_col, *(c for c in batch_df.columns if c != order_col)
            )
            rows = local_rows(ordered, batch_cap) if batch_cap > 0 else ordered.collect()
            if rows is None:
                require(
                    f"ReservoirSampler.foreach_batch micro-batch {batch_id} rows "
                    "(counted up to batch_cap + 1)",
                    batch_cap, lambda: batch_cap + 1, "batch_cap",
                    "shrink the trigger interval / maxFilesPerTrigger, raise "
                    "batch_cap explicitly, or use the executor-side keyed_reservoir "
                    "(streaming/stateful.py) — the unbounded-scale path",
                )
            self.feed(rows)

        return _fn


def _content_key_str(id_cols: list[str], seed: int) -> Column:
    """Injective string key over ``id_cols`` ⊕ seed for the content
    hashes below. Single column keeps the plain ``value|seed`` form
    (replayed verbatim by the SQL oracles; the row id is required
    non-null by the sampling contract). Multi-column keys
    length-prefix every component (``len:value``) and mark NULL as
    ``#`` so a ``|`` inside a value or a skipped NULL can never make
    two distinct rows collide on the key — concat_ws alone silently
    skips NULLs and leaves separators ambiguous."""
    if len(id_cols) == 1:
        return F.concat_ws("|", F.col(id_cols[0]), F.lit(str(seed)))
    parts = []
    for c in id_cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("#")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.concat_ws("|", *parts, F.lit(str(seed)))


def uniform_sample(
    df: DataFrame, k: int, seed: int = 7, id_cols: list[str] | None = None
) -> DataFrame:
    """M4 batch twin: uniform k-row sample, distribution-identical to
    a reservoir pass, fully distributed (the sort key is per-row
    codegen; ORDER BY + LIMIT plans as TakeOrderedAndProject).

    With ``id_cols`` the sort key is the md5-derived content hash of
    those columns ⊕ seed — the hash acts as a seeded random
    permutation of the rows, so the k smallest are a uniform k-subset
    that is layout-independent AND bit-replayable in a SQL oracle.
    Without ``id_cols``, falls back to ``F.rand(seed)`` (uniform but
    partition-layout-dependent)."""
    from ..functions.hashing import md5_hash60

    if id_cols:
        key = md5_hash60(_content_key_str(id_cols, seed))
        ties = [F.col(c).asc() for c in id_cols]
    else:
        key = F.rand(seed)
        ties = []
    return (
        df.withColumn("_r", key)
        .orderBy(F.col("_r").asc(), *ties)
        .limit(k)
        .drop("_r")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    strata: list[str] | None = None,
    seed: int = 7,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Weighted k-row sample without replacement — Efraimidis &
    Spirakis (2006) A-ES: each row draws key u^(1/w) (u uniform,
    w its weight) and the k largest keys win; selection probability
    is proportional to weight, exactly the reservoir semantics a
    quality-weighted training-mix pass needs. With ``strata``, k
    rows are drawn PER stratum (one window shuffle, no driver loop);
    without, globally (TakeOrderedAndProject — per-partition top-k,
    no full sort). Rows with non-positive weight are excluded (they
    have probability 0).

    Determinism: with ``id_cols`` the uniform draw is
    md5_hash60(id_cols… ⊕ seed) scaled to (0,1) — a pure function of
    row CONTENT, so the sample is identical under any partition
    layout, split count, or engine re-plan (the reproducible-
    training-mix contract), and the md5-derived hash is bit-identical
    in DuckDB, so the whole sample is replayable as a SQL oracle
    (``u = (h % 2^52 + 0.5) / 2^52``, ``key = u^(1/w)``, top-k window
    — see the weighted_doc_sample oracle). Ranking ties break on
    ``id_cols`` so equal keys can't reorder across engines. Without
    ``id_cols`` the draw falls back to ``F.rand(seed)``, which is
    deterministic only for a fixed physical layout (rand seeds
    per-partition)."""
    from ..functions.hashing import md5_hash60

    if id_cols:
        # 2^52 buckets keep the quotient exactly representable in a
        # double; +0.5 centers each bucket so u is never exactly 0
        # (u=0 would zero the key regardless of weight).
        u = (
            F.pmod(
                md5_hash60(_content_key_str(id_cols, seed)),
                F.lit(1 << 52),
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 52))
        ties = [F.col(c).asc() for c in id_cols]
    else:
        u = F.rand(seed)
        ties = []
    keyed = df.where(F.col(weight_col) > 0).withColumn(
        "_wk", F.pow(u, F.lit(1.0) / F.col(weight_col))
    )
    if strata:
        w = Window.partitionBy(*strata).orderBy(F.col("_wk").desc(), *ties)
        return (
            keyed.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_wk", "_rk")
        )
    return keyed.orderBy(F.col("_wk").desc(), *ties).limit(k).drop("_wk")


def weighted_sample_log2(
    df: DataFrame,
    k: int,
    log2_weight_col: str,
    strata: list[str] | None = None,
    seed: int = 7,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """``weighted_sample`` for weights given in the LOG2 domain
    (w = 2^log2_w) — the importance-resampling form (X33 DSIR, Xie et
    al. 2023 arXiv:2302.03169 §2: sample ∝ the likelihood-ratio
    weight). Materializing w = 2^log2_w in a double overflows above
    log2_w ≈ 1023 and flushes to zero below ≈ −1074 (silently
    EXCLUDING those rows, since A-ES gives weight-0 rows probability
    0) — log-likelihood-ratio sums over long documents reach such
    magnitudes, so the A-ES key comparison runs entirely in log
    space instead:

        maximize  u^(1/w)
      ⇔ minimize  (-ln u) / w          (the exponential race: the key
                                        is Exp(rate=w); smallest wins)
      ⇔ minimize  ln(-ln u) - log2_w·ln 2

    — the same selection as ``weighted_sample`` for every finite
    weight, with no magnitude constraint. The uniform draw u is the
    same md5 content hash over ``id_cols`` ⊕ seed (bit-identical in
    DuckDB, so the oracle replays the key; see the
    dsir_resampled_docs oracle), strictly inside (0, 1) by the +0.5
    bucket centering, so ln(-ln u) is always finite. Ties break on
    ``id_cols`` ascending. Cross-engine caveat (the documented
    weighted_doc_sample pow() argument): last-ulp ln() differences
    could flip a rank only when two keys agree to ~15 significant
    digits at the k-boundary — not observable on real draws. Without
    ``id_cols`` the draw falls back to ``F.rand(seed)``
    (layout-dependent)."""
    import math

    from ..functions.hashing import md5_hash60

    if id_cols:
        u = (
            F.pmod(
                md5_hash60(_content_key_str(id_cols, seed)),
                F.lit(1 << 52),
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 52))
        ties = [F.col(c).asc() for c in id_cols]
    else:
        u = F.rand(seed)
        ties = []
    keyed = df.withColumn(
        "_ek", F.log(-F.log(u)) - F.col(log2_weight_col) * F.lit(math.log(2.0))
    )
    if strata:
        w = Window.partitionBy(*strata).orderBy(F.col("_ek").asc(), *ties)
        return (
            keyed.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_ek", "_rk")
        )
    return keyed.orderBy(F.col("_ek").asc(), *ties).limit(k).drop("_ek")
