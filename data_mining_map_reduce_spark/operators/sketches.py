"""Probabilistic sketches: Bloom filter, Flajolet-Martin (SURVEY §2.4
A12-A13, §2.8 F8, §2.9 ST4).

The reference hand-rolls both on the driver: a 7000-bit Bloom filter
with six ``(a*x+b) mod m`` hashes over collected distinct cities
(reference Assignment6/task1.py:26-61), and Flajolet-Martin with 40
hashes, max-trailing-zeros, mean-of-groups, median-of-means — all
computed in a ``foreachRDD`` callback after ``collect()``
(Assignment6/task2.py:33-76).

Engine design — sketches are *aggregates*, so they distribute:
- Bloom: Spark's ``bloom_filter_agg`` builds the bitmap as a
  distributive aggregate (partial sketches OR-merge map-side); the
  single-row binary result broadcast-joins onto the probe side where
  ``might_contain`` is a codegen'd expression. No driver bit array,
  no collect — at 100 TB the build is one scan + tiny merge.
- FM: per-hash max-trailing-zeros is ``MAX`` over a codegen'd bit
  expression — 40 maxes in ONE aggregate pass (partial max per
  partition), then the group-mean/median combine runs on the 40-value
  row. Exactly the reference's estimator, minus the driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_params


def _bloom_pos(col: Column, i: int, m: int) -> Column:
    """Bit position for hash index ``i``: an independent md5-derived
    stream per index (the index is mixed into the hash INPUT) —
    affine transforms of a single fold correlate positions and
    measurably inflate FPR. md5_hash60 over ``"i|value"`` replays
    bit-for-bit in DuckDB, which is what lets the Bloom probe query
    carry a full value-hashed oracle instead of a rows-only check."""
    from ..functions.hashing import md5_hash60

    return F.pmod(
        md5_hash60(F.concat_ws("|", F.lit(str(i)), col.cast("string"))),
        F.lit(m),
    )


def _bloom_geometry(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n ln(p)/(ln 2)^2 bits,
    k = (m/n) ln 2 hashes."""
    n = max(expected_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    # int(x + 0.5) = half-UP for the (always positive) ratio — the
    # same rule as the DuckDB oracle's ROUND() (half-away-from-zero);
    # Python's round() is banker's and would diverge on an exact .5.
    k = max(1, int(m / n * math.log(2) + 0.5))
    return m, k


def bloom_build(
    df: DataFrame,
    col: str,
    expected_items: int,
    fpp: float = 0.03,
) -> "BloomFilter":
    """A13 build: Bloom filter over ``col``'s distinct values.

    (Spark's `bloom_filter_agg` expression is not registered as a SQL
    routine in this build, so the engine carries its own — which also
    mirrors the reference's construction: k universal hashes into an
    m-bit array, reference Assignment6/task1.py:26-50.)

    Fully distributed build: each value expands to its k bit
    positions (codegen), positions group into 64-bit words with a
    ``bit_or`` aggregate (distributive — partial ORs merge map-side),
    and only the ≤ m/64-word bitmap reaches the driver. That bitmap
    is the same tiny broadcast state the reference ships to its
    closures, never the data.
    """
    m, k = _bloom_geometry(expected_items, fpp)
    c = F.col(col)
    positions = df.select(
        F.explode(
            F.array(*[_bloom_pos(c, i, m) for i in range(k)])
        ).alias("_p")
    )
    words = (
        positions.select(
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod("_p", F.lit(64)).cast("int")
            ).alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_bit").alias("_word"))
        .collect()
    )
    bitmap = [0] * ((m + 63) // 64)
    for r in words:
        bitmap[r._w] = r._word
    return BloomFilter(num_bits=m, num_hashes=k, bitmap=bitmap)


class BloomFilter:
    """Immutable built sketch: geometry + packed 64-bit words."""

    def __init__(self, num_bits: int, num_hashes: int, bitmap: list[int]):
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.bitmap = bitmap

    def _contains_expr(self, c: Column, words: Column) -> Column:
        """All k bits set in ``words`` (an array<long> column). False
        negatives impossible; FPR ≈ the build's fpp (pytest-asserted,
        mirroring A6 PDF §4.1 grading)."""
        tests = []
        for i in range(self.num_hashes):
            pos = _bloom_pos(c, i, self.num_bits)
            word = F.element_at(words, (pos / 64).cast("int") + 1)
            bit = F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
            )
            tests.append(word.bitwiseAND(bit) != 0)
        out = tests[0]
        for t in tests[1:]:
            out = out & t
        return out

    def might_contain(self, col: Column | str) -> Column:
        """Column-level membership test with the bitmap INLINED as a
        literal array — only safe for small filters (plan size grows
        with m). The scale path is :func:`bloom_probe`, which ships
        the bitmap as broadcast data instead."""
        c = F.col(col) if isinstance(col, str) else col
        return self._contains_expr(
            c, F.array(*[F.lit(w).cast("long") for w in self.bitmap])
        )


def bloom_probe(
    probes: DataFrame,
    sketch: "BloomFilter",
    col: str,
    flag_alias: str = "maybe_member",
) -> DataFrame:
    """A13 probe: adds boolean ``maybe_member`` per probe row.

    The bitmap travels as BROADCAST DATA (a one-row array<long>
    DataFrame, same pattern as the k-means centroids) rather than as
    literals inside the expression tree: a billion-key filter is
    gigabits, and an inlined plan that size breaks analysis/codegen
    long before execution. The broadcast is one copy per executor and
    the plan stays O(k) expressions regardless of m."""
    words_row = probes.sparkSession.createDataFrame(
        [([int(w) for w in sketch.bitmap],)], "_bloom_words array<bigint>"
    )
    c = F.col(col)
    return (
        probes.crossJoin(F.broadcast(words_row))
        .withColumn(flag_alias, sketch._contains_expr(c, F.col("_bloom_words")))
        .drop("_bloom_words")
    )


def trailing_zeros(col: Column | str) -> Column:
    """F8: count of low-order zero bits of a positive long —
    ``bit_count((h & -h) - 1)``: isolate the lowest set bit, turn the
    zeros below it into ones, popcount. Pure integer arithmetic (the
    earlier ``log2(h & -h)`` form depends on libm rounding at exact
    powers of two, which a SQL oracle on another engine cannot be
    trusted to reproduce through an int cast). h=0 → 0, matching the
    reference's convention for the empty-hash case
    (Assignment6/task2.py:29-30: r=0 contributes 2^0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == 0, F.lit(0)).otherwise(
        F.bit_count((c.bitwiseAND(-c)) - 1)
    )


def fm_distinct_estimate(
    df: DataFrame,
    col: str,
    num_hashes: int = 40,
    group_size: int = 4,
    alias: str = "n_estimate",
) -> DataFrame:
    """A12/F8: Flajolet-Martin distinct-count estimate — the
    reference's exact combine (Assignment6/task2.py:33-76): per hash
    function, R = max trailing zeros; estimates 2^R are averaged
    within groups of ``group_size``; the median of group means is the
    answer (statistics.median semantics: the two middle values are
    averaged when the group count is even).

    One aggregate pass: 40 codegen'd MAX columns (partial max per
    partition — constant-size state), then the combine is pure array
    math on a single row. Single-row output (n_estimate double).

    The value fold is md5-derived (functions/hashing.md5_hash60 of the
    value's string form), so every h_i, every trailing-zeros count,
    and the whole group-median combine replay bit-for-bit in a DuckDB
    oracle — the FM estimate is deterministic given the hash family,
    and with a replayable family it stops being a trust-me number.
    """
    if num_hashes % group_size:
        raise ValueError("num_hashes must divide evenly into groups")
    row = df.agg(*_fm_max_aggs(col, num_hashes))
    median = _fm_median(num_hashes, group_size)
    return row.select(F.round(median, 4).alias(alias))


def _fm_max_aggs(col: str, num_hashes: int) -> list[Column]:
    """The 40 per-hash MAX(trailing-zeros) aggregate columns."""
    from ..functions.hashing import md5_hash60

    folded = F.pmod(md5_hash60(F.col(col).cast("string")), F.lit(2**31 - 1))
    maxes = []
    for i in range(num_hashes):
        a, b = hash_params(i, 2**31 - 1)
        h = F.pmod(F.lit(a) * folded + F.lit(b), F.lit(2**31 - 1))
        maxes.append(F.max(trailing_zeros(h)).alias(f"_r{i}"))
    return maxes


def _fm_median(num_hashes: int, group_size: int) -> Column:
    """Median-of-group-means combine over the ``_r{i}`` columns."""
    ests = F.array(
        *[F.pow(F.lit(2.0), F.col(f"_r{i}")) for i in range(num_hashes)]
    )
    group_means = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes // group_size - 1)),
        lambda g: F.aggregate(
            F.slice(ests, g * group_size + 1, group_size),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / group_size,
    )
    g = num_hashes // group_size
    sorted_means = F.array_sort(group_means)
    if g % 2:
        return F.element_at(sorted_means, (g + 1) // 2)
    return (
        F.element_at(sorted_means, g // 2)
        + F.element_at(sorted_means, g // 2 + 1)
    ) / 2


def fm_distinct_estimate_by(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    num_hashes: int = 40,
    group_size: int = 4,
    alias: str = "n_estimate",
) -> DataFrame:
    """Per-group FM estimate — the reference's actual A6-task2 shape
    (one estimate per sliding window, Assignment6/task2.py:87-91),
    generalized to any grouping. One groupBy with 40 MAX aggregates
    (constant per-group state, map-side partials), then the
    median-of-means combine per group row. Same replayable hash
    family as :func:`fm_distinct_estimate`, so a grouped oracle
    replays every estimate."""
    if num_hashes % group_size:
        raise ValueError("num_hashes must divide evenly into groups")
    grouped = df.groupBy(*group_cols).agg(*_fm_max_aggs(col, num_hashes))
    median = _fm_median(num_hashes, group_size)
    return grouped.select(*group_cols, F.round(median, 4).alias(alias))


def approx_distinct(col: str | Column, rsd: float) -> Column:
    """A12: the engine's one approximate-distinct aggregate, a bigint
    column usable in any ``agg`` (global or grouped). Built on Spark's
    DataSketches HLL (``hll_sketch_estimate(hll_sketch_agg(col, lg_k))``)
    with ``lg_k = ceil(2·log2(1.106 / rsd))``, Spark's own HLL++
    register formula, so a given ``rsd`` keeps HLL++'s register count
    and error bound (rsd 0.02 → 4096 registers, 0.05 → 512).

    Why not ``approx_count_distinct``: HLL++ packs ten 6-bit registers
    into each long field of the aggregation buffer (410 fields at rsd
    0.02), and each task pays a fixed cost inside the aggregate that
    grows with that width, not with the rows: on 4 vCPUs a one-row
    map task spent 0.3-0.46 s in aggregation build at rsd 0.02 and
    2-15 ms with this sketch, whose buffer is one binary field at any
    ``lg_k``.

    Nulls are ignored and an empty input estimates 0. The sketch takes
    INT, BIGINT, STRING and BINARY input; any other type fails analysis
    with DATATYPE_MISMATCH naming those types. Every caller passes one
    of them, so no cast or hash fallback is added here. An ``rsd`` whose
    ``lg_k`` falls outside the sketch's 4..21 range also fails
    analysis."""
    lg_k = math.ceil(2.0 * math.log2(1.106 / rsd))
    return F.hll_sketch_estimate(F.hll_sketch_agg(col, lg_k))


def kmv_distinct_estimate(
    df: DataFrame,
    col: str,
    k: int = 256,
    alias: str = "n_estimate",
) -> DataFrame:
    """K-minimum-values distinct estimator (Bar-Yossef et al. 2002):
    keep the k smallest hash values of the distinct items; with
    hashes uniform on (0, 2^60), E[distinct] ≈ (k-1) · 2^60 / h_(k).
    Fewer than k distinct values → the count IS exact, return it.

    The scale shape: distinct-hash projection → ORDER BY LIMIT k
    (TakeOrderedAndProject: per-partition top-k, no global sort) →
    one tiny aggregate. Mergeable like any KMV sketch (union = merge
    + re-truncate). md5-derived hash ⇒ the whole estimate replays in
    a DuckDB oracle — unlike the HLL sketch (:func:`approx_distinct`),
    whose register layout is engine internals."""
    from ..functions.hashing import md5_hash60

    hashes = (
        df.select(md5_hash60(F.col(col).cast("string")).alias("_h"))
        .distinct()
        .orderBy("_h")
        .limit(k)
    )
    row = hashes.agg(
        F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_hk")
    )
    return row.select(
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(k - 1))
                * F.lit(float(1 << 60))
                / F.col("_hk").cast("double"),
                4,
            )
        )
        .alias(alias)
    )


def _cm_pos(col: Column, i: int, width: int) -> Column:
    """Count-Min column index for hash row ``i`` — an independent
    md5-derived stream per row (the row index is mixed into the hash
    INPUT, with a ``cm`` salt so Bloom and Count-Min streams over the
    same column stay independent). Replays bit-for-bit in DuckDB,
    which is what gives the heavy-hitter query a full value-hashed
    oracle."""
    from ..functions.hashing import md5_hash60

    return F.pmod(
        md5_hash60(F.concat_ws("|", F.lit(f"cm{i}"), col.cast("string"))),
        F.lit(width),
    )


def count_min_build(
    df: DataFrame, col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the
    occurrences of ``col``: a depth x width counter grid as a
    DataFrame of (i, pos, c) rows — at most depth*width rows
    regardless of input size.

    Scale shape: each occurrence expands to its ``depth`` (row, pos)
    cells (pure codegen), then ONE groupBy aggregates the grid with
    map-side partial counts — the shuffle carries at most
    depth*width*partitions rows, not the data. Counter grids are
    mergeable by (i, pos) sum, so per-partition / per-day sketches
    combine without rescanning (the streaming/backfill contract)."""
    c = F.col(col)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cm_pos(c, i, width).alias("pos")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_cell")
    ).select(F.col("_cell.i").alias("i"), F.col("_cell.pos").alias("pos"))
    return cells.groupBy("i", "pos").agg(F.count(F.lit(1)).alias("c"))


def count_min_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    alias: str = "est",
) -> DataFrame:
    """Point-query the sketch for each candidate key: est = min over
    hash rows of the addressed counter — the classic CM overestimate
    (est >= true count, pytest-asserted; error ~ 2N/width with prob
    1 - (1/2)^depth). The sketch side is tiny (<= depth*width rows)
    and broadcasts. The join is LEFT with empty cells coalesced to 0:
    a grid cell no occurrence hashed into has no sketch row, and true
    CM semantics read that counter as 0 — so a key absent from the
    build reports est=0 instead of vanishing (all cells empty) or
    returning a spurious positive min over only its non-empty cells
    (ADVICE r7)."""
    c = F.col(col)
    keyed = candidates.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cm_pos(c, i, width).alias("pos")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_cell"),
    ).select(col, F.col("_cell.i").alias("i"), F.col("_cell.pos").alias("pos"))
    return (
        keyed.join(F.broadcast(sketch), ["i", "pos"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias(alias))
    )
