"""Set-similarity self-joins: exact Jaccard and MinHash+LSH.

SURVEY.md §2.11 M3 / §2.3 J4. The reference pipeline (reference
Assignment3/task1.py:20-105): dictionary-encode users, 32-function
MinHash signature per business, b=32 bands × r=1 rows, bucket
candidates, verify exact Jaccard ≥ 0.05.

Engine design (fully distributed, no driver dicts):
- exact path: threshold-gated dual plan — item-equi-join pair counting
  at low t, Bayardo/Chaudhuri prefix filtering at high t — the ground
  truth / oracle twin (see exact_jaccard_pairs docstring).
- LSH path: codegen'd MinHash signature (functions/hashing.py), band
  explode, bucket equi-join, distinct candidates, exact verify.
  Shuffles: one on band bucket, one on pair dedup — both key-partition
  friendly. Hot buckets (skew) are the known hazard at scale; AQE
  skew-join handles moderate skew, and ``max_bucket`` hard-caps
  pathological buckets (dropping only buckets that LSH theory says are
  near-useless anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import FOLD_PRIME, hash_params
from ..guards import require
from .relational import bucket_pairs, cap_buckets, co_occurrence_pairs, count_by
from .sketches import approx_distinct

# Scale guard for the exact all-pairs twins: the exact self-join
# paths exhaust local disk at ~500 k docs (SCALE.md "Exact all-pairs
# twins: guarded") — the candidate/verify shuffle is superlinear in
# set count, and on a cluster it grinds shuffle disks the same way.
# The exact path is a VERIFICATION twin; above this many distinct set
# keys the banded MinHash-LSH twin is the shipped scale path.
# Env-overridable (0 disables — e.g. for a deliberate ground-truth run
# on a cluster with the disk to pay for it).
EXACT_PAIRS_DEFAULT_MAX_KEYS = 200_000

# Scale guard for the LSH verify join: the registered reference-banding
# row (J >= 0.05, b=32/r=1) took 958.6 s at sf10 — 343 M candidate rows
# each carrying TWO ~40-element bigint item arrays (~220 GB) through
# ONE verify shuffle, where spill turns linear candidate growth
# superlinear; raising the partition count does not help (1024
# partitions died on disk — the WRITE volume is the wall; SCALE.md
# "The minhash_lsh_pairs verify wall is now guarded"). The guard
# estimates that write volume BEFORE the verify join runs:
# candidate mass (sum of B*(B-1)/2 over post-cap bucket sizes — one
# cheap aggregate over the banded relation, which the hot-bucket cap
# scans anyway) times the per-candidate array payload (average set
# size from the already-materialized per-item relation). sf1 measures
# ~24 GB and runs in 30.4 s; sf10 measures ~240 GB and dies — the
# 64 GiB default budget passes the former with ~2.6x headroom and
# fails the latter fast, naming the four payload knobs. Env-overridable
# (0 disables — e.g. a cluster whose shuffle tier has the capacity).
LSH_VERIFY_DEFAULT_BUDGET_BYTES = 64 << 30


def _guard_lsh_verify(
    banded: DataFrame, exploded: DataFrame, threshold: float, bands: int,
    rows_per_band: int, max_bucket: int | None,
    bucket_sizes: DataFrame | None = None,
) -> None:
    # Candidate mass = sum over (post-cap) buckets of B*(B-1)/2 — the
    # pre-distinct collision rows, a cheap upper bound on what the
    # verify join shuffles (dedup only shrinks it). With a hot-bucket
    # cap the caller already grouped the banded relation into
    # ``bucket_sizes``; filtered to the surviving buckets it is
    # row-for-row the post-cap bucket histogram (the cap join keeps
    # exactly _bsz rows per surviving bucket), so no second keys×bands
    # aggregation runs. The mass collect runs FIRST on purpose: it
    # materializes the lazy exploded/sig/bucket_sizes checkpoints, so
    # the second estimate and the main query read blocks. (A single
    # crossJoined collect of both estimates is WORSE: its two leaf
    # stages race on the lazy exploded checkpoint and double-compute
    # it — build wall 3.2 → 6.0 s at sf0.1.)
    def estimate() -> int:
        if bucket_sizes is not None and max_bucket is not None:
            hist = bucket_sizes.where(F.col("_bsz") <= max_bucket)
        else:
            hist = count_by(banded, "_bucket", alias="_bsz")
        pairs = hist.agg(
            F.coalesce(
                F.sum(F.col("_bsz") * (F.col("_bsz") - 1) / 2), F.lit(0.0)
            )
        ).collect()[0][0]
        # avg_set over DEDUPED (key, item) pairs: the verify sets are
        # collect_set aggregates, so the payload is governed by distinct
        # items per key — the raw occurrence count would inflate the
        # estimate on duplicate-heavy baskets. xxhash64 folds the pair
        # for one HLL (collisions are irrelevant at estimate precision).
        stats = exploded.agg(
            approx_distinct(F.xxhash64("_k", "_h60"), rsd=0.05).alias("_pairs_d"),
            approx_distinct("_k", rsd=0.05).alias("_keys"),
        ).collect()[0]
        avg_set = stats["_pairs_d"] / max(stats["_keys"], 1)
        # Two bigint arrays per candidate row (8 B/element) + ~64 B of
        # row overhead — the shape the sf10 receipt attributes the wall to.
        return int(pairs * (16.0 * avg_set + 64.0))

    require(
        "minhash_lsh_pairs estimated verify-join payload bytes",
        int(
            os.environ.get(
                "SPARK_GRAFT_LSH_VERIFY_BUDGET",
                str(LSH_VERIFY_DEFAULT_BUDGET_BYTES),
            )
        ),
        estimate,
        "SPARK_GRAFT_LSH_VERIFY_BUDGET",
        f"at threshold={threshold}, bands={bands} (r={rows_per_band}), "
        f"max_bucket={max_bucket} this banding is a near-all-pairs "
        "contract (958.6 s at sf10; raising the partition count does not "
        "help — the array WRITE volume is the wall). Bound it with a "
        "tighter threshold (the X2 dedup regime runs 0.7 at r=2), fewer "
        "bands (recall trade), a lower max_bucket (half the wall, "
        "output-identical on this corpus), or verify=False for consumers "
        "that re-exactify downstream; raise SPARK_GRAFT_LSH_VERIFY_BUDGET "
        "(bytes, 0 disables) for a deliberate run with the shuffle capacity",
    )


def _guard_exact_pairs(df: DataFrame, key: str) -> None:
    # Single linear scan of the key column (map-side partial HLL, no
    # shuffle of note). At rsd=0.05 the count is within ~±10% (2
    # sigma), irrelevant to a disk-death guard with a 2.5x safety
    # margin under the measured failure point.
    require(
        f"exact_jaccard_pairs distinct '{key}' sets (approx)",
        int(
            os.environ.get(
                "SPARK_GRAFT_EXACT_PAIRS_MAX", str(EXACT_PAIRS_DEFAULT_MAX_KEYS)
            )
        ),
        lambda: df.select(approx_distinct(key, rsd=0.05)).collect()[0][0],
        "SPARK_GRAFT_EXACT_PAIRS_MAX",
        "this operator is the QUADRATIC VERIFICATION twin (it exhausts "
        "local disk at ~500k docs at sf10) — use the banded MinHash-LSH "
        "variant (minhash_lsh_pairs / the *_lsh query twin) at scale, or "
        "raise SPARK_GRAFT_EXACT_PAIRS_MAX (0 disables) for a deliberate "
        "ground-truth run",
    )


def exact_jaccard_pairs(
    df: DataFrame,
    key: str,
    item: str,
    threshold: float,
    key_a: str = "a",
    key_b: str = "b",
    sim_alias: str = "jaccard",
    prefix_filter: bool | None = None,
) -> DataFrame:
    """All unordered key pairs with Jaccard(items_a, items_b) >= t — EXACT.

    Two physically different plans behind one contract, auto-selected
    by threshold (``prefix_filter=None``):

    - **Count-join** (t < 0.3): explode (key, item), self-join on item,
      pair-count |A∩B| map-side-combined, |A∪B| = |A|+|B|-|A∩B| via a
      join of per-key sizes (AQE broadcasts them when small). One pass, no arrays, no window. At
      low thresholds nothing can be pruned anyway (measured: the prefix
      plan is ~8× SLOWER than this at t=0.05), so the straight join is
      the right plan. On the synthetic docs corpus (flat shingle
      frequencies, no hot items) it also wins at t=0.5 by ~2.5× —
      but that advantage inverts on natural text, where df is Zipfian
      and the count-join's Σ df(i)² cost turns quadratic; the prefix
      plan is the one that holds at corpus scale, so it stays the
      high-threshold default.
    - **Prefix-filtered** (t >= 0.3): Chaudhuri et al. ICDE'06 /
      Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity Search".
      Candidates come from joining only each set's PREFIX — its
      ``n - ceil(t*n) + 1`` globally-rarest items (rarity order =
      (document frequency, item)). Jaccard >= t forces |∩| >= ceil(t*n)
      on each side, so two qualifying sets must collide inside both
      prefixes — lossless. The frequency^2 join blow-up lives entirely
      in the frequent items the prefixes exclude, which is what lets
      the exact path survive corpus scale at meaningful thresholds;
      survivors are verified with one array_intersect each.

    Items are dictionary-compressed to their xxhash64 BEFORE any join
    or set-collect: every downstream shuffle keys on a fixed-width
    bigint instead of an arbitrary-length string, and the verify
    stage's ``array_intersect`` runs over long arrays (measured ~7×
    cheaper than the same intersect over 30-char shingle strings at
    sf0.1 — 24 s → 3.4 s for a 312 k-pair verify). Jaccard over hashed
    item sets equals Jaccard over the items themselves unless two
    distinct items of one key-pair's union collide in 64 bits
    (P ≈ n²/2⁶⁵ per pair — negligible at any corpus size where this
    engine runs; the prefix filter itself is order-agnostic, so the
    hash only changes the tie-break of the rarity sort).

    Guarded against scale misuse: raises ValueError above
    ``SPARK_GRAFT_EXACT_PAIRS_MAX`` (default 200 k) distinct set keys
    — see ``_guard_exact_pairs``.
    """
    _guard_exact_pairs(df, key)
    base = (
        df.select(F.col(key).alias("_k"), F.xxhash64(item).alias("_i"))
        .distinct()
    )
    sizes = base.groupBy("_k").agg(F.count(F.lit(1)).alias("_sz"))
    if prefix_filter is None:
        prefix_filter = threshold >= 0.3

    if not prefix_filter:
        inter = co_occurrence_pairs(base, "_k", "_i", 1, key_a, key_b, "_inter")
        # No broadcast hint on the per-key size tables: one row per set
        # key means billions of rows at corpus scale, where a forced
        # broadcast is impossible. Catalyst/AQE broadcasts them anyway
        # when the measured size is small, so small inputs lose nothing.
        sz_a = sizes.select(F.col("_k").alias(key_a), F.col("_sz").alias("_sza"))
        sz_b = sizes.select(F.col("_k").alias(key_b), F.col("_sz").alias("_szb"))
        return (
            inter.join(sz_a, key_a)
            .join(sz_b, key_b)
            .withColumn(
                sim_alias,
                F.col("_inter").cast("double")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
            )
            .where(F.col(sim_alias) >= threshold)
            .select(key_a, key_b, F.round(sim_alias, 6).alias(sim_alias))
        )

    # The prefix plan reads `base` from four distinct subtrees (sizes,
    # document frequencies, prefix build, verification sets) — without
    # a cache each one re-executes the upstream explode; the count-join
    # branch doesn't need this because its self-join reuses one
    # shuffle exchange.
    base = base.cache()
    dfreq = base.groupBy("_i").agg(F.count(F.lit(1)).alias("_df"))
    rarity = Window.partitionBy("_k").orderBy("_df", "_i")
    # round before ceil: float epsilon in t*n must never push ceil up
    # a notch (that would shorten the prefix and break losslessness)
    prefix_len = F.col("_sz") - F.ceil(
        F.round(F.lit(threshold) * F.col("_sz"), 6)
    ) + 1
    # Slim (4-long-column) pin: the collision self-join references
    # `prefix` TWICE, and Catalyst plans — and EXECUTES — the whole
    # prefix build (dfreq aggregate + rarity Window + sizes join) once
    # per side; the unpinned funnel plan shows two Window nodes and
    # duplicated dfreq/sizes aggregates
    # (plans/r18/corpus_curation_funnel_before.txt). Both consumers
    # read every column, so the RDD pin loses no pruning (SCALE.md
    # "Materialize slim relations, never fat ones"). eager=False: the
    # first action materializes it; plan-only callers stay job-free.
    prefix = (
        base.join(dfreq, "_i")
        .withColumn("_rn", F.row_number().over(rarity))
        .join(sizes, "_k")  # per-key rows — unbroadcastable at scale; AQE decides
        .where(F.col("_rn") <= prefix_len)
        .select("_k", "_i", "_sz", "_rn")
        .localCheckpoint(eager=False)
    )
    # Length filter (Bayardo/Chaudhuri): J(A,B) >= t forces
    # min(|A|,|B|) >= t * max(|A|,|B|); dropping size-incompatible
    # collisions BEFORE the pair-dedup shuffle and verify join is
    # lossless. Same round-to-6dp guard as prefix_len so float
    # epsilon in t*n never discards a boundary-qualifying pair.
    collisions = bucket_pairs(
        prefix, "_k", ["_i"], key_a, key_b, carry=("_sz", "_rn")
    ).where(
        (F.col("_sza") >= F.round(F.lit(threshold) * F.col("_szb"), 6))
        & (F.col("_szb") >= F.round(F.lit(threshold) * F.col("_sza"), 6))
    )
    # Positional filter (ppjoin, Xiao et al. WWW'08): the pair-dedup
    # groupBy (same shuffle the old .distinct() paid) also keeps each
    # pair's FIRST prefix collision — the item minimizing _rn on both
    # sides simultaneously, since both keys sort items by one global
    # (df, item) order, so any earlier collision item would have a
    # smaller _rn in BOTH lists. Every other common item follows that
    # first collision in both lists (an earlier common item would
    # itself be a prefix collision), so
    #   |A ∩ B| <= 1 + min(|A| - rn_a, |B| - rn_b),
    # while Jaccard >= t forces |A ∩ B| >= t/(1+t) · (|A|+|B|).
    # Candidates whose upper bound can't reach that floor are dropped
    # before the verify join ever assembles their item arrays —
    # lossless, and the pruning strengthens exactly where the verify
    # is most expensive (large sets whose prefixes first agree late).
    required = F.round(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_sza") + F.col("_szb")),
        6,
    )
    candidates = (
        collisions.groupBy(key_a, key_b)
        .agg(
            F.min("_rna").alias("_ia"),
            F.min("_rnb").alias("_jb"),
            F.first("_sza").alias("_sza"),
            F.first("_szb").alias("_szb"),
        )
        .where(
            (
                F.lit(1)
                + F.least(
                    F.col("_sza") - F.col("_ia"), F.col("_szb") - F.col("_jb")
                )
            )
            >= required
        )
        .select(key_a, key_b)
    )
    # Same pin for the verify sets: referenced by BOTH sides of
    # the verify join (each was executing the collect_list aggregate
    # — the ObjectHashAggregate pair in the funnel before-plan). Fat
    # array rows, but both consumers read every column — the exact
    # argument that justifies the minhash items_sets pin.
    sets = (
        base.groupBy("_k")
        .agg(F.sort_array(F.collect_list("_i")).alias("_set"))
        .localCheckpoint(eager=False)
    )
    sets_a = sets.select(F.col("_k").alias(key_a), F.col("_set").alias("_ia"))
    sets_b = sets.select(F.col("_k").alias(key_b), F.col("_set").alias("_ib"))
    # Two stacked projections so the intersect is evaluated ONCE per
    # candidate: filtering directly on the jaccard expression lets
    # Catalyst clone the whole array_intersect tree into the join
    # condition AND the output projection (measured 2.6× slower).
    inter = F.size(F.array_intersect("_ia", "_ib"))
    scored = (
        candidates.join(sets_a, key_a)
        .join(sets_b, key_b)
        .select(
            key_a,
            key_b,
            inter.alias("_inter"),
            (F.size("_ia") + F.size("_ib")).alias("_tot"),
        )
    )
    return (
        scored.withColumn(
            sim_alias,
            F.col("_inter").cast("double")
            / (F.col("_tot") - F.col("_inter")).cast("double"),
        )
        .where(F.col(sim_alias) >= threshold)
        .select(key_a, key_b, F.round(sim_alias, 6).alias(sim_alias))
    )


def minhash_lsh_pairs(
    baskets: DataFrame,
    key: str,
    items: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 16,
    key_a: str = "a",
    key_b: str = "b",
    sim_alias: str = "jaccard",
    max_bucket: int | None = 5000,
    verify: bool = True,
    materialize: bool = True,
    min_overlap: int | None = None,
    count_alias: str = "n_shared",
) -> DataFrame:
    """MinHash+LSH candidate generation + exact-Jaccard verification.

    ``baskets``: one row per key with an array<string> column
    ``items``. Output: pairs with true Jaccard >= threshold that
    shared at least one LSH bucket (precision 1.0 by construction;
    recall is governed by (bands, rows-per-band) — asserted >= 0.9 in
    tests against the exact path, mirroring A3 PDF §4.1.4's >= 0.8).

    ``verify=False`` returns the distinct bucket-collision pairs
    (key_a, key_b) WITHOUT the exact-Jaccard join — no ``sim_alias``
    column, no threshold filter. That is the right contract when the
    caller is itself an exactifying pass (the user-CF Pearson join
    re-assembles co-ratings and applies min_co anyway): the verify
    join's collect-set + array_intersect shuffle is pure overhead for
    a pre-filter, and at low thresholds it prunes almost nothing.

    ``min_overlap`` (the graph edge-build pre-cut) switches the
    exact verify from a Jaccard threshold to a SHARED-ITEM COUNT:
    surviving candidates are filtered to ``|A ∩ B| >= min_overlap``
    and emitted as (key_a, key_b, ``count_alias``) — ``threshold``
    and ``sim_alias`` are ignored in this mode. Same candidate stage,
    same exact verify join; only the final filter/projection differs,
    so the output provably refines the exact overlap-count self-join
    (relational.co_occurrence_pairs) with identical counts on every
    emitted pair. Requires ``verify=True`` (counting IS the verify).

    The signature is computed as explode → one 31-bit fold per item →
    groupBy(key) with ``num_hashes`` plain ``min`` aggregates — the
    simhash lesson (operators/dedup.py): the per-row
    ``minhash_signature`` expression tree (num_hashes × array
    transform HOFs) exceeds the codegen method budget and runs
    interpreted, measured 20 s for 15 k signature rows at sf0.1 where
    the aggregate form takes ~1 s. Map-side partial aggregation means
    the shuffle carries one 32-long row per key per map partition.
    Keys whose item array is empty produce no signature rows (the
    per-row form gave them all-null signatures, which then collided
    into one shared bucket); pairs of empty sets can never reach a
    positive threshold, so dropping them is the correct contract for
    both modes. Verify sets carry the hashed items (fixed-width bigint
    arrays — ~7× cheaper to intersect than strings; collision odds per
    pair ≈ n²/2⁶¹, negligible), reusing the hash the fold needs.

    The base item hash is ``md5_hash60`` — bit-identical in DuckDB —
    and band membership joins on the literal (band, slot values)
    struct, so the ENTIRE pipeline (signatures → band collisions →
    exact-Jaccard verify) is replayable as a SQL oracle: the driver
    value-hashes this operator's output instead of trusting a
    rows-only count. xxhash64 would be ~3× cheaper per item; the
    oracle-replayable family is the default because checkability is
    worth more than a cheap projection, and the fold cost is a small
    slice of the pipeline (the shuffles dominate).

    ``materialize`` (the basket/signature subtree otherwise
    re-executes ~6×): pin the
    multi-consumer relations with lazy ``localCheckpoint`` — the
    per-item ``(key, h60, fold)`` rows (three longs; feeds both the
    signature and the verify-set aggregates), the signature relation
    (key + num_hashes longs; read by BOTH sides of the bucket
    self-join plus the hot-bucket count), and the verify sets (read
    by both sides of the verify join, which need every column, so no
    pruning is lost). All three are SLIM (SCALE.md "Materialize slim
    relations, never fat ones"): an RDD checkpoint scan cannot
    column-prune, which is why checkpointing the COMBINED fat
    signature+verify-set aggregate regressed sf1 2× — splitting the
    aggregate is the fix that rule prescribes.
    ``eager=False`` keeps plan-only callers (explain, plan tests)
    job-free; the blocks materialize on the first action and every
    consumer subtree reads them instead of re-running the upstream
    basket join. Set ``materialize=False`` to keep the pure-lineage
    plan (plan tests assert the aggregate shape through this knob).

    Guarded against the measured sf10 verify-shuffle wall: when
    ``verify=True`` a pre-flight estimate of candidate mass x array
    payload raises ``guards.GuardError`` above
    ``SPARK_GRAFT_LSH_VERIFY_BUDGET``
    (default 64 GiB; 0 disables) — see ``_guard_lsh_verify``. SIDE
    EFFECT: this makes ``verify=True`` CONSTRUCTION eager — the two
    estimate aggregates run as collect() jobs when this function is
    called, even if the returned DataFrame is never acted on. With
    ``materialize=True`` (the default) those jobs double as the lazy
    checkpoints' materializing actions, so the main query reuses
    their blocks and the guard is nearly free; with
    ``materialize=False`` each estimate recomputes its full upstream
    (plan-only callers should use verify=False or budget 0).
    """
    from ..functions.hashing import md5_hash60

    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    if min_overlap is not None and not verify:
        raise ValueError("min_overlap requires verify=True")
    rows_per_band = num_hashes // bands

    exploded = (
        baskets.select(F.col(key).alias("_k"), F.explode_outer(items).alias("_it"))
        .where(F.col("_it").isNotNull())
        .select("_k", md5_hash60("_it").alias("_h60"))
        .select("_k", "_h60", F.pmod("_h60", F.lit(FOLD_PRIME)).alias("_f"))
    )
    if verify and materialize:
        # two aggregates (signature + verify sets) consume this
        # subtree; without the pin the upstream basket join runs once
        # per aggregate
        exploded = exploded.localCheckpoint(eager=False)
    min_aggs = []
    for i in range(num_hashes):
        a, b = hash_params(i, FOLD_PRIME)
        min_aggs.append(
            F.min(
                F.pmod(F.lit(a) * F.col("_f") + F.lit(b), F.lit(FOLD_PRIME))
            ).alias(f"_h{i}")
        )
    sig = exploded.groupBy("_k").agg(*min_aggs)
    if materialize:
        # slim (key + num_hashes longs); read by the bucket
        # self-join's two sides plus the hot-bucket count
        sig = sig.localCheckpoint(eager=False)

    # One bucket key per band: the (band index, r signature slots)
    # struct itself. Struct equality is exact band-slice equality —
    # no derived-hash collisions — which keeps the operator's output
    # literally equal to its SQL-oracle formulation.
    banded = sig.select(
        "_k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("_band"),
                        *[
                            F.col(f"_h{b * rows_per_band + j}").alias(f"_s{j}")
                            for j in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bucket"),
    )

    bucket_sizes = None
    if max_bucket is not None:
        bucket_sizes = count_by(banded, "_bucket", alias="_bsz")
        if verify and materialize:
            # two consumers (the cap join here and the guard's mass
            # estimate below) — pinned so the histogram is grouped
            # once; slim (bucket struct + one long). The guard's
            # collect doubles as the materializing action.
            bucket_sizes = bucket_sizes.localCheckpoint(eager=False)
    banded = cap_buckets(banded, ["_bucket"], max_bucket, bucket_sizes)
    candidates = (
        bucket_pairs(banded, "_k", ["_bucket"], key_a, key_b)
        .select(key_a, key_b)
        .distinct()
    )
    if not verify:
        return candidates

    # Pre-flight payload estimate BEFORE the array-carrying verify
    # join is wired up — the sf10-measured scale wall (see
    # _guard_lsh_verify). verify=False callers skip it: their output
    # carries no arrays and their consumers re-exactify downstream.
    _guard_lsh_verify(
        banded, exploded, threshold, bands, rows_per_band, max_bucket,
        bucket_sizes=bucket_sizes,
    )

    items_sets = exploded.groupBy("_k").agg(F.collect_set("_h60").alias("_items"))
    if materialize:
        # fat rows, but BOTH consumers (the verify join's two sides)
        # read every column — no pruning lost, one aggregation saved
        items_sets = items_sets.localCheckpoint(eager=False)
    sets_a = items_sets.select(F.col("_k").alias(key_a), F.col("_items").alias("_ia"))
    sets_b = items_sets.select(F.col("_k").alias(key_b), F.col("_items").alias("_ib"))
    # Same two-step projection as exact_jaccard_pairs: intersect once,
    # filter on the aliased result.
    inter = F.size(F.array_intersect("_ia", "_ib"))
    scored = (
        candidates.join(sets_a, key_a)
        .join(sets_b, key_b)
        .select(
            key_a,
            key_b,
            inter.alias("_inter"),
            (F.size("_ia") + F.size("_ib")).alias("_tot"),
        )
    )
    if min_overlap is not None:
        return scored.where(F.col("_inter") >= min_overlap).select(
            key_a, key_b, F.col("_inter").cast("long").alias(count_alias)
        )
    return (
        scored.withColumn(
            sim_alias,
            F.col("_inter").cast("double")
            / (F.col("_tot") - F.col("_inter")).cast("double"),
        )
        .where(F.col(sim_alias) >= threshold)
        .select(key_a, key_b, F.round(sim_alias, 6).alias(sim_alias))
    )
