"""Collaborative filtering, item-based and user-based (SURVEY §2.4
A15 — spec-only in the reference: A3 PDF §4.3 requires BOTH models:
Pearson-over-co-rated-pairs similarity with top-N-neighbor weighted
prediction, and a MinHash-LSH candidate pre-filter for the user-based
model; no reference code exists, so the engine implements the PDF's
math).

Pipeline shapes, all relational:
- similarities: self-join ratings on the co-key (user for item-item,
  item for user-user), Pearson per pair with >= min_co co-ratings.
  One shuffle on the co-key join + one on the pair groupBy — the same
  equi-join rewrite as J3 (``relational.bucket_pairs``).

Determinism contract: Pearson is computed from
EXACT integer sufficient statistics, never from float aggregation.
Ratings are 6-dp quantities (ROUND(avg, 6)), so ``rating * 1e6`` is
an exact BIGINT; n, Σx, Σy, Σxy, Σx², Σy² are then integer sums —
order-independent across partitions, retries, and engines — and the
closed-form r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is one
fixed tree of correctly-rounded IEEE-double ops that DuckDB replays
bit-for-bit (the oracle spells the same expression). The final 6-dp
quantization is floor(r·1e6 + 0.5)/1e6 — plain IEEE arithmetic, so
no dependence on either engine's ROUND implementation. Zero-variance
pairs are detected EXACTLY (min == max on the integer ratings), not
via float-variance == 0. Rationale: covar_samp/stddev (and DuckDB's
corr()) are float-summation-order dependent, and ROUND(·, 6) flips
when a pair's correlation lands within an ulp of a 6th-decimal
boundary — cf_item_similarities went intermittently hash-red against
its oracle on exactly that (SCALE.md "Deterministic Pearson").
- prediction: candidate neighbors joined through the similarity
  table (positive sims only), top-N by similarity (window), then the
  weighted average Σ(sim·r)/Σ(sim) — reference formula, A3 PDF §4.3.
- LSH pre-filter (user-based): user→rated-item baskets through the
  MinHash-LSH pair pipeline (operators/similarity.py) — the Pearson
  self-join then runs only over candidate pairs, turning the O(Σ
  raters_i²) pair blow-up into LSH bucket cost. Probabilistic recall
  (banding curve), so the engine keeps it as a separate code path
  from the exact model; agreement is pytest-asserted.
Skew note: hot keys fan out in the self-join; AQE skew-join plus the
min_co filter keep pair counts bounded at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .relational import bucket_pairs

RATING_SCALE = 1_000_000  # 6-dp ratings -> exact integer micro-units


def _micros(col: Column | str) -> Column:
    """Exact BIGINT micro-units of a 6-dp double (the double sits
    within ~1e-9 of k/1e6, so round(x*1e6) recovers k exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(float(RATING_SCALE))).cast("long")


# Split point for the hi/lo product sums below. Per-row products of
# micro-ratings (<= (5e7)² = 2.5e15) fit BIGINT, but their GROUP sums
# don't at scale — and summing through DECIMAL buffers measured 2× the
# whole aggregation wall at sf0.1 (decimal aggs fall out of Tungsten's
# primitive fast path). So each product is split into
# (p >> 26, p & (2^26 - 1)) and the two halves are summed as plain
# BIGINTs: hi <= 3.7e7 and lo <= 6.7e7 per row, so both sums stay
# exact past 1e11 rows per pair — far beyond any co-rating count — at
# primitive-aggregation speed. The oracle replays the identical
# split + reconstruction (the reconstruction's rounding order is part
# of the cross-engine contract).
SPLIT_SHIFT = 26
SPLIT_BASE = 1 << SPLIT_SHIFT


def _pearson_suffstat_aggs() -> list[Column]:
    """Aggregates over per-row integer micro-ratings ``_xa``/``_xb``
    — all plain BIGINT (see SPLIT_SHIFT note), integer-exact and
    order-independent."""
    xa, xb = F.col("_xa"), F.col("_xb")

    def split_sums(p: Column, name: str) -> list[Column]:
        return [
            F.sum(F.shiftright(p, SPLIT_SHIFT)).alias(f"_{name}_hi"),
            F.sum(p.bitwiseAND(F.lit(SPLIT_BASE - 1))).alias(f"_{name}_lo"),
        ]

    return [
        F.count(F.lit(1)).alias("n_co"),
        F.sum(xa).alias("_sx"),
        F.sum(xb).alias("_sy"),
        *split_sums(xa * xb, "sxy"),
        *split_sums(xa * xa, "sxx"),
        *split_sums(xb * xb, "syy"),
        F.min(xa).alias("_mna"),
        F.max(xa).alias("_mxa"),
        F.min(xb).alias("_mnb"),
        F.max(xb).alias("_mxb"),
    ]


def _pearson_sim() -> Column:
    """Closed-form Pearson r from the exact sufficient statistics,
    quantized to 6 dp as floor(r·1e6 + 0.5)/1e6. NULL when either
    side has exactly zero variance (min == max, integer-exact) or the
    float-computed variance term underflows to <= 0 — both conditions
    evaluate identically on both engines. Scale note: r is invariant
    under the ×1e6 rating scaling."""
    nd = F.col("n_co").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")

    def rejoin(name: str) -> Column:
        # fl(fl(Σhi)·2^26 + Σlo): one multiply by an exact power of
        # two + one add — the oracle spells the identical expression,
        # so the (at most 1-ulp) reconstruction rounding is shared
        return F.col(f"_{name}_hi").cast("double") * F.lit(
            float(SPLIT_BASE)
        ) + F.col(f"_{name}_lo").cast("double")

    sxy, sxx, syy = rejoin("sxy"), rejoin("sxx"), rejoin("syy")
    cov = nd * sxy - sx * sy
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    r = cov / (F.sqrt(vx) * F.sqrt(vy))
    return F.when(
        (F.col("_mna") != F.col("_mxa"))
        & (F.col("_mnb") != F.col("_mxb"))
        & (vx > F.lit(0.0))
        & (vy > F.lit(0.0)),
        F.floor(r * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0),
    )


def _weighted_pred() -> Column:
    """Exact-integer weighted average Σ(sim·r)/Σ(sim) quantized to
    4 dp: numerator Σ(sim_e6·r_e6) and denominator Σ(sim_e6) are
    BIGINT-exact (top-N bounds the sum), the single division and the
    floor-quantization are the same IEEE ops on both engines."""
    num = F.sum(F.col("_sim6") * F.col("_r6")).cast("double")
    den = F.sum("_sim6").cast("double") * F.lit(1000000.0)
    return F.floor(num / den * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def item_similarities(
    ratings: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
    rating_col: str = "rating",
    min_co: int = 3,
) -> DataFrame:
    """(i1, i2, sim, n_co) — Pearson correlation over co-ratings for
    unordered item pairs with >= min_co common raters; zero-variance
    pairs (corr undefined) are dropped. Deterministic by construction
    (module docstring): exact integer sufficient statistics, one
    IEEE-double closed form."""
    co = ratings.select(
        F.col(user_col).alias("_u"),
        F.col(item_col).alias("_i"),
        _micros(rating_col).alias("_x"),
    )
    return (
        bucket_pairs(co, "_i", ["_u"], "i1", "i2", carry=("_x",))
        .groupBy("i1", "i2")
        .agg(*_pearson_suffstat_aggs())
        .withColumn("_c", _pearson_sim())
        .where((F.col("n_co") >= min_co) & F.col("_c").isNotNull())
        .select("i1", "i2", F.col("_c").alias("sim"), "n_co")
    )


def predict_ratings(
    ratings: DataFrame,
    sims: DataFrame,
    targets: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
    rating_col: str = "rating",
    top_n: int = 5,
) -> DataFrame:
    """(u, i, pred) for each (user, item) row in ``targets``:
    weighted average of the user's ratings on the top-N most-similar
    items (positive similarity only). Targets with no positive-sim
    co-rated neighbor get no row (the reference falls back to item
    averages; callers can coalesce against one)."""
    # The filtered similarity table is the small side (pairs with
    # >= min_co co-raters, positive sim only): broadcast it so the
    # target/ratings sides never shuffle for the candidate build. At
    # 100 TB the sims table is bounded by item-pair density, not by
    # ratings volume — it stays broadcastable long after ratings
    # don't.
    # Persist before the symmetrizing union: sims is referenced twice
    # and would otherwise be planned (and its Pearson self-join
    # computed) twice — see predict_ratings_user_based.
    sims_m = sims.select("i1", "i2", "sim").persist()
    both = F.broadcast(
        sims_m.unionByName(
            sims_m.select(F.col("i2").alias("i1"), F.col("i1").alias("i2"), "sim")
        ).where(F.col("sim") > 0)
    )
    cand = (
        targets.select(F.col(user_col).alias("_u"), F.col(item_col).alias("_ti"))
        .join(both, F.col("_ti") == both.i1)
        .select("_u", "_ti", F.col("i2").alias("_nbr"), "sim")
        .join(
            ratings.select(
                F.col(user_col).alias("_u"),
                F.col(item_col).alias("_nbr"),
                _micros(rating_col).alias("_r6"),
            ),
            ["_u", "_nbr"],
        )
        # sim is an exact 6-dp double (suffstat Pearson), so the
        # micro-unit recovery is exact and the weighted average runs
        # on integers — deterministic (module docstring).
        .withColumn("_sim6", _micros("sim"))
    )
    w = Window.partitionBy("_u", "_ti").orderBy(
        F.col("_sim6").desc(), F.col("_nbr").asc()
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_n)
        .groupBy("_u", "_ti")
        .agg(_weighted_pred().alias("pred"))
        .select(
            F.col("_u").alias(user_col),
            F.col("_ti").alias(item_col),
            "pred",
        )
    )


def user_candidate_pairs_lsh(
    ratings: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
    threshold: float = 0.02,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """(u1, u2) candidate user pairs whose rated-item sets collide in
    MinHash-LSH buckets (u1 < u2). The A3 §4.3 pre-filter: user
    similarity only gets computed for pairs that plausibly co-rate.

    Candidates-only by design (``verify=False`` downstream): the
    Pearson pass this feeds re-joins the co-ratings and applies its
    own ``min_co`` floor, so an exact-Jaccard verification here would
    re-shuffle the full item-set arrays to filter almost nothing at
    pre-filter thresholds — measured as the single largest cost of
    the LSH-CF query at sf0.1 before removal. ``threshold`` remains
    the banding design point documented below, not an applied filter.

    Banding regime — the crossover that makes the pre-filter pay:
    with r=1 (b=num_hashes) ANY shared minhash makes a candidate, so
    collision = 1-(1-s)^32 ≈ 0.5 even at s=0.02 — half of ALL
    overlapping pairs survive and the pre-filter costs more than the
    exact item-key self-join it replaces (measured 46 s vs 6.4 s at
    sf0.1). Defaults are b=16, r=2: collision = 1-(1-s^2)^16, which
    collapses the low-similarity mass (s=0.01 → 0.2%) while keeping
    genuinely-similar pairs (s=0.3 → 78%, s=0.5 → 99%). On corpora
    whose similarity ceiling sits below ~0.1, r=2 trades recall at the
    threshold for a >100x candidate reduction — the correct trade for
    a *pre-filter*, whose contract is precision 1.0 (exact verify)
    and whose recall knob is (bands, rows) per A3 PDF §4.1.4. Use
    r=1 only when near-total recall at a very low threshold matters
    more than cost."""
    from .similarity import minhash_lsh_pairs

    baskets = ratings.groupBy(user_col).agg(
        F.collect_set(F.col(item_col).cast("string")).alias("_items")
    )
    # max_bucket defaults to None here (unlike the operator): the
    # candidate set is what the cf_user_predictions_lsh ORACLE
    # replays, and the SQL band-OR join cannot model the cap; r=2
    # banding keeps buckets tiny at any realistic rating density, and
    # callers facing genuinely hot buckets can re-enable the cap.
    return minhash_lsh_pairs(
        baskets,
        user_col,
        "_items",
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        key_a="u1",
        key_b="u2",
        verify=False,
        max_bucket=max_bucket,
    ).select("u1", "u2")


def user_similarities(
    ratings: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
    rating_col: str = "rating",
    min_co: int = 3,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """(u1, u2, sim, n_co) — Pearson correlation over co-ratings for
    unordered user pairs with >= min_co co-rated items; zero-variance
    pairs dropped. ``candidate_pairs`` (u1, u2, u1 < u2 — e.g. from
    ``user_candidate_pairs_lsh``) restricts the pair aggregation to
    those pairs; exact mode (None) considers every co-rating pair."""
    a = ratings.select(
        F.col(item_col).alias("_i"),
        F.col(user_col).alias("u1"),
        _micros(rating_col).alias("_xa"),
    )
    b = ratings.select(
        F.col(item_col).alias("_i"),
        F.col(user_col).alias("u2"),
        _micros(rating_col).alias("_xb"),
    )
    if candidate_pairs is not None:
        # Candidates DRIVE the join — co-ratings are assembled only
        # for candidate pairs (|cand| x items-per-user join rows),
        # never via the full item-key self-join. Filtering after the
        # self-join would do strictly more work than exact mode,
        # defeating the pre-filter's entire point.
        joined = (
            candidate_pairs.select("u1", "u2")
            .join(a, "u1")
            .join(b, ["u2", "_i"])
        )
    else:
        joined = a.join(b, "_i").where(F.col("u1") < F.col("u2"))
    # Same deterministic suffstat Pearson as item_similarities.
    return (
        joined.groupBy("u1", "u2")
        .agg(*_pearson_suffstat_aggs())
        .withColumn("_c", _pearson_sim())
        .where((F.col("n_co") >= min_co) & F.col("_c").isNotNull())
        .select("u1", "u2", F.col("_c").alias("sim"), "n_co")
    )


def predict_ratings_user_based(
    ratings: DataFrame,
    sims: DataFrame,
    targets: DataFrame,
    user_col: str = "u",
    item_col: str = "i",
    rating_col: str = "rating",
    top_n: int = 5,
) -> DataFrame:
    """(u, i, pred) for each (user, item) row in ``targets``:
    weighted average of the target item's ratings by the top-N users
    most similar to u (positive similarity only) — the user-based
    mirror of ``predict_ratings``. The user-pair similarity table is
    NOT broadcast (user pairs outnumber item pairs at scale); the
    candidate build shuffles on the user key and AQE handles hot
    users."""
    # The symmetrizing union references sims TWICE; without a
    # materialization Catalyst plans two copies of the whole upstream
    # similarity DAG (for the LSH-prefiltered path that doubles the
    # signature->bucket->verify pipeline — measured 13.4 s of a
    # 26.9 s query at sf0.01). sims is bounded (pairs surviving
    # min_co + non-null Pearson), so an in-memory persist is safe at
    # any scale the pair table itself is viable at.
    sims_m = sims.select("u1", "u2", "sim").persist()
    both = sims_m.unionByName(
        sims_m.select(F.col("u2").alias("u1"), F.col("u1").alias("u2"), "sim")
    ).where(F.col("sim") > 0)
    cand = (
        targets.select(F.col(user_col).alias("_u"), F.col(item_col).alias("_ti"))
        .join(both, F.col("_u") == both.u1)
        .select("_u", "_ti", F.col("u2").alias("_nbr"), "sim")
        .join(
            ratings.select(
                F.col(user_col).alias("_nbr"),
                F.col(item_col).alias("_ti"),
                _micros(rating_col).alias("_r6"),
            ),
            ["_nbr", "_ti"],
        )
        .withColumn("_sim6", _micros("sim"))
    )
    w = Window.partitionBy("_u", "_ti").orderBy(
        F.col("_sim6").desc(), F.col("_nbr").asc()
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_n)
        .groupBy("_u", "_ti")
        .agg(_weighted_pred().alias("pred"))
        .select(
            F.col("_u").alias(user_col),
            F.col("_ti").alias(item_col),
            "pred",
        )
    )
