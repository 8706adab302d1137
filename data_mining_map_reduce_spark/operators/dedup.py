"""Document deduplication: exact content-hash, MinHash-LSH near-dup,
SimHash near-dup (the LLM-data-pipeline dedup block; SURVEY §7
phase 5, built on §2.11 M3's machinery).

The reference's similarity engine (MinHash+LSH+Jaccard, reference
Assignment3/task1.py:20-105) operates on (business → user-set)
baskets; here the identical banding machinery points at document
shingle sets — the actual dedup use case for a training-data corpus.

Scale posture (the 100 TB design review):
- exact dedup: one hash + one groupBy — embarrassingly scalable;
  the canonical-id join is a self-equi-join on the 64-bit hash.
- MinHash LSH: no all-pairs anywhere; candidates come from band
  buckets (operators/similarity.py), skew-capped.
- SimHash: 60-bit fingerprint per doc (one codegen pass), banded
  into 10×6-bit sub-keys (hamming_band_pairs, shared with the media
  dHash pairs); hamming ≤ 7 < bands ⇒ pigeonhole guarantees intact
  bands, so the bucket join has *guaranteed* recall at that radius —
  a stronger property than probabilistic MinHash banding.
  (Calibration on the testdata corpus: planted near-dups at Jaccard
  0.9+ land at hamming 0-10.)
- cluster_survivors: pairs → connected components → one survivor per
  cluster, shared by every dedup pipeline (text, media, embedding).
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import hamming64
from ..functions.text import normalize, tokenize, word_ngrams


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    shingles_alias: str = "shingles",
) -> DataFrame:
    """(doc_id, distinct word-n-gram shingle array). Normalization +
    tokenization + shingling — no shuffle, no UDF.

    Two stacked projections on purpose: the token array is aliased in
    its own Project so the shingle expression references a computed
    COLUMN. Inlined, the regex split is re-evaluated for every
    reference inside the n-gram HOF (size guards + per-element slice)
    — O(tokens²) regex work per doc, measured 11× slower on the
    documents corpus. CollapseProject keeps the split intact because
    the alias is non-cheap and referenced more than once."""
    toks = docs.select(
        F.col(id_col), tokenize(normalize(F.col(text_col))).alias("_toks")
    )
    return toks.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col("_toks"), n)).alias(shingles_alias),
    )


def doc_shingle_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    shingle_alias: str = "shingle",
) -> DataFrame:
    """Exploded (doc_id, shingle) rows — the input shape of the exact
    Jaccard / prefix-filter joins.

    Uses ``explode_outer`` + a post-explode null filter instead of a
    plain ``explode``: Catalyst's InferFiltersFromGenerate would
    otherwise push a ``size(shingles) > 0`` predicate below the
    shingle Project, INLINING the whole normalize→tokenize→n-gram
    expression into a per-row Filter (evaluated twice, with the
    quadratic token re-scan doc_shingles exists to avoid — measured
    ~20 s of pure expression re-evaluation at sf0.1). The outer
    variant infers no such filter; dropping the null rows afterwards
    restores plain-explode semantics exactly."""
    return (
        doc_shingles(docs, id_col, text_col, n)
        .select(id_col, F.explode_outer("shingles").alias(shingle_alias))
        .where(F.col(shingle_alias).isNotNull())
    )


def exact_duplicate_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup: group docs by xxhash64 of normalized text →
    (doc_id, canonical_id, group_size). ``canonical_id`` = min doc_id
    of the group (the survivor a dedup pass would keep). Hash
    collisions at 64 bits are negligible at any realistic corpus
    size; a paranoid pass can re-verify groups on the raw text."""
    # Window over the hash partition instead of groupBy + self-join:
    # one scan of the (regex-heavy) normalize+hash projection and one
    # shuffle, where the join form re-executed the projection on both
    # sides of the equi-join. Same output, half the scan work.
    hashed = docs.select(
        F.col(id_col),
        F.xxhash64(normalize(F.col(text_col))).alias("_h"),
    )
    w = W.partitionBy("_h")
    return hashed.select(
        id_col,
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# SimHash width: 60 bits — the md5_hash60 hash is replayable bit-for-
# bit in DuckDB, which is what lets simhash_doc_pairs carry a FULL
# driver oracle (the only rows-only → oracle conversion available for
# a hash-defined operator: the oracle must reproduce the hash itself).
SIMHASH_BITS = 60


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, 60-bit simhash of the doc's shingle set).

    Bit j of the fingerprint is set iff a majority of the doc's
    shingles have bit j set in their md5-derived 60-bit hash
    (functions/hashing.md5_hash60 — chosen over xxhash64 because
    DuckDB reproduces it exactly, making the whole operator
    oracle-checkable). Computed as explode → one hash per shingle →
    groupBy(doc_id) with 60 conditional sums
    (``sum(shiftright(h, j) & 1)``) — each a trivially codegen-able
    aggregate with map-side partial aggregation — then one projection
    assembles the 60 majority bits into a bigint. Replaces a per-row
    64-lane ``aggregate``/``zip_with`` fold that fell out of
    whole-stage codegen (~100× slower per row).

    Docs whose shingle set is empty keep a fingerprint of 0 (the
    explode drops them; a left join restores them), matching the
    empty-fold semantics of the expression form.
    """
    from ..functions.hashing import md5_hash60

    shingled = doc_shingles(docs, id_col, text_col, n)
    hashed = doc_shingle_pairs(docs, id_col, text_col, n, shingle_alias="_s").select(
        id_col, md5_hash60("_s").alias("_h")
    )
    counts = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright("_h", j).bitwiseAND(F.lit(1))).alias(f"_b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    fp = reduce(
        Column.bitwiseOR,
        [
            F.when(
                F.col(f"_b{j}") * 2 > F.col("_n"),
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
            for j in range(SIMHASH_BITS)
        ],
    )
    return (
        shingled.select(id_col)
        .join(counts.select(id_col, fp.alias("simhash")), id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


# Polynomial rolling-hash parameters shared with the DuckDB oracles:
# base 257 over a Mersenne-prime modulus keeps every intermediate
# below 2^40, so the same BIGINT arithmetic runs on both engines
# (ANSI-safe: no overflow to fold).
WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): polynomial rolling hash over
    character ``k``-grams of the whitespace-stripped normalized text,
    then the min hash of every ``window`` consecutive grams, distinct.
    Guarantees any shared substring of length >= k + window - 1
    yields a shared fingerprint — the classic copy-detection primitive.

    Plan shape: explode to one row per CHARACTER, then both the
    k-gram hash (a fold over ``lead(code, j)`` for j < k) and the
    winnowing min run as window expressions over the same
    (doc_id, pos) sort — one shuffle, everything whole-stage-codegen
    (a per-row substring+fold HOF tree would run interpreted; the
    simhash lesson). Work is O(chars) per doc; the only shuffle keys
    on doc_id. Docs shorter than ``k`` chars produce no rows.

    Returns (doc_id, fp).
    """
    s = F.regexp_replace(normalize(F.col(text_col)), r"\s+", "")
    chars = (
        docs.select(F.col(id_col), s.alias("_s"), F.length(s).alias("_len"))
        .where(F.col("_len") >= k)
        .select(
            id_col,
            (F.col("_len") - (k - 1)).alias("_ng"),
            F.posexplode(F.split("_s", "")).alias("pos", "_c"),
        )
        .select(id_col, "pos", "_ng", F.ascii("_c").cast("bigint").alias("_code"))
    )
    ord_win = W.partitionBy(id_col).orderBy("pos")
    h = F.lit(0).cast("bigint")
    for j in range(k):
        h = F.pmod(
            h * WINNOW_BASE + F.lead("_code", j).over(ord_win), F.lit(WINNOW_MOD)
        )
    grams = chars.select(
        id_col, "pos", "_ng", h.alias("_h")
    ).where(F.col("pos") < F.col("_ng"))  # full grams only (pos 0-based)
    min_win = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.select(id_col, "pos", "_ng", F.min("_h").over(min_win).alias("fp"))
        # keep only full windows (plus pos=0 so short docs with fewer
        # than `window` grams still emit their global min)
        .where((F.col("pos") < F.col("_ng") - (window - 1)) | (F.col("pos") == 0))
        .select(id_col, "fp")
        .distinct()
    )


def fingerprint_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 10,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup / containment pairs by shared winnowing fingerprints:
    docs sharing >= ``min_shared`` fingerprints, with the count.

    Default min_shared=10 calibrated on the testdata corpus: planted
    near-dups share >= 14 fingerprints, the background distribution's
    p99 is 13 — ten keeps full recall with margin while cutting ~99%
    of incidental-English-8-gram pairs.
    Fingerprints appearing in more than ``max_df`` docs are dropped
    before the self-join — boilerplate grams carry no ranking signal
    and are exactly the skew that blows up a fingerprint-keyed join
    at corpus scale (same cap discipline as the LSH bucket guard).

    Returns (doc_a, doc_b, n_shared).
    """
    # localCheckpoint (the simhash idiom below): the fingerprint
    # relation — whose lineage is the per-CHARACTER posexplode plus
    # two window passes, the most expensive scan in this operator —
    # feeds the df-cap aggregate AND both sides of the self-join;
    # without materializing it Catalyst executes the whole winnowing
    # pipeline three times (plan-audited r12; at 100 TB that is 3x
    # the dominant stage). The relation is a handful of longs per doc
    # — trivially materializable at any SF. eager=False (r13, advisor
    # ask): plan-only callers (explain, plan tests, query builders)
    # stay job-free; the blocks materialize on the first action and
    # are shared by all three consumers either way. Caveat either
    # way: localCheckpoint blocks are unreplicated with truncated
    # lineage, so on a real cluster an executor loss fails the query
    # instead of recomputing — acceptable for a batch dedup pass
    # whose retry is the query itself.
    fps = winnow_fingerprints(docs, id_col, text_col, k, window).localCheckpoint(
        eager=False
    )
    kept = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("fp")
    )
    shared = fps.join(kept, "fp")
    lhs = shared.select(F.col(id_col).alias("doc_a"), "fp")
    rhs = shared.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        lhs.join(rhs, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def hamming_band_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    hash_bits: int,
    bands: int,
    hamming_max: int,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs of ``fp`` rows whose ``hash_bits``-wide fingerprints
    in ``hash_col`` differ in at most ``hamming_max`` bits: Manku-style
    combination banding, equi-join on the banded key, popcount verify.
    Rows pair only within equal ``by`` values. Returns
    (a, b, hamming, *by) with a < b.

    With hamming_max < bands, pigeonhole guarantees every qualifying
    pair has at least m = bands - hamming_max fully-intact bands —
    so it shares *some* s-subset of intact bands for any s ≤ m, and
    joining on every s-subset key keeps recall 1.0 at that radius.
    That same pigeonhole makes the driver oracle exact: the banded
    join + popcount filter returns exactly the all-pairs hamming ≤
    ``hamming_max`` set, which DuckDB computes directly from the
    replayed fingerprints — the candidate scheme is invisible to the
    result.

    Why s-subsets instead of single bands: with bands=10 over 60 bits
    a single-band key is only 6 bits wide — 64 bucket values — so
    candidate pairs grow O(n²/2^bits): measured ~195 M join rows at
    50 000 docs (19× the sf0.1 wall for 10× the data). Joining on
    s = min(m, 3) band-value tuples (C(10,3)=120 keys/doc at s=3,
    the scheme of Manku et al., WWW'07 §3) widens the key to s·bits
    + combo id: expected bucket size drops below 1 row, the join
    output collapses to ~the true pair set, and the explode cost is a
    linear row factor on the (tiny) fingerprint relation. The verify stays a broadcast-free codegen popcount;
    ``distinct`` dedups pairs that share several intact subsets.
    """
    bits = hash_bits // bands
    m = bands - hamming_max
    if m <= 0:
        raise ValueError(
            f"hamming_max={hamming_max} must be < bands={bands} for recall 1.0"
        )
    # s = min(m, 3): s=3 is enough key width at any realistic corpus
    # (2^18 buckets per combo); larger s just multiplies C(bands, s).
    s = min(m, 3)
    combos = list(itertools.combinations(range(bands), s))
    assert s * bits + (len(combos)).bit_length() < 62  # packed key fits a long

    def _bval(i: int) -> Column:
        return F.shiftright(hash_col, i * bits).bitwiseAND(F.lit((1 << bits) - 1))

    keys = []
    for cid, combo in enumerate(combos):
        k: Column = F.lit(cid).cast("long")
        for i in combo:
            k = F.shiftleft(k, bits).bitwiseOR(_bval(i))
        keys.append(k)
    # localCheckpoint: the fingerprint relation (an expensive scan)
    # feeds BOTH sides of the self-join, and with the key explode in
    # between Catalyst no longer collapses the two sides into one
    # reused exchange — without materializing it, the whole
    # fingerprint pipeline executes twice (measured 2x wall at
    # sf0.1/sf1). The relation is one long per row — trivially
    # materializable at any SF. Eager localCheckpoint instead of
    # persist(): blocks are reclaimed when the DataFrame is GC'd, so
    # repeated invocations in a long-lived session leave no
    # storage-tab residue.
    banded = fp.localCheckpoint(eager=True).select(
        F.col(id_col), hash_col, *by, F.explode(F.array(*keys)).alias("_bkey")
    )
    lhs = banded.select(
        F.col(id_col).alias("a"), F.col(hash_col).alias("_ha"), *by, "_bkey"
    )
    rhs = banded.select(
        F.col(id_col).alias("b"), F.col(hash_col).alias("_hb"), *by, "_bkey"
    )
    return (
        lhs.join(rhs, ["_bkey", *by])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b", hamming64(F.col("_ha"), F.col("_hb")).alias("hamming"), *by
        )
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 10,
    hamming_max: int = 7,
) -> DataFrame:
    """SimHash near-dup pairs: ``hamming_band_pairs`` over the 60-bit
    fingerprint with band-value triples, verify hamming ≤
    ``hamming_max``. Returns (a, b, hamming)."""
    return hamming_band_pairs(
        simhash_fingerprints(docs, id_col, text_col, n),
        id_col,
        "simhash",
        SIMHASH_BITS,
        bands,
        hamming_max,
    )


def cluster_survivors(
    items: DataFrame,
    id_col: str,
    edges: DataFrame,
    order: list[Column] | None = None,
) -> DataFrame:
    """One survivor per duplicate cluster: duplicate pairs
    ``edges(a, b)`` (the shape every near-dup pair operator returns;
    other columns are ignored) → connected components → each item
    mapped to its cluster's survivor. Returns ``items`` plus
    ``best_id`` and ``is_kept``; items no edge touches are singletons
    that keep themselves.

    Transitive closure matters: A≈B and B≈C must collapse to one
    survivor even when A and C are not directly similar.

    With ``order=None`` the survivor is the component label — the
    minimum id — so no window and no extra shuffle. Otherwise the
    survivor is the first member by ``order`` (columns of ``items``),
    ties to the smallest id: one ``row_number`` window partitioned by
    the component, joined back.
    """
    from .graph import connected_components

    comp = connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    ).toDF("_cid", "_comp")
    mapped = items.join(comp, F.col(id_col) == F.col("_cid"), "left").select(
        *items.columns, F.coalesce("_comp", id_col).alias("_grp")
    )
    if order is None:
        out = mapped.withColumnRenamed("_grp", "best_id")
    else:
        w = W.partitionBy("_grp").orderBy(*order, F.col(id_col))
        best = (
            mapped.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("_grp", F.col(id_col).alias("best_id"))
        )
        out = mapped.join(best, "_grp")
    return out.select(
        *items.columns,
        "best_id",
        (F.col(id_col) == F.col("best_id")).alias("is_kept"),
    )
