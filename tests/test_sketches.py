"""Fuzzy oracles for approximation operators (SURVEY.md §5):
exact recomputation + threshold, mirroring the reference's grading
(A3 PDF accuracy ≥ 0.8; A6 FM/Bloom FPR-FNR checks)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from data_mining_map_reduce_spark.operators.sketches import approx_distinct
from data_mining_map_reduce_spark.sources.catalog import load_table

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_mining_map_reduce_spark"


def test_approx_distinct_within_rsd(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    exact = events.agg(F.countDistinct("user_id")).collect()[0][0]
    approx = events.agg(approx_distinct("user_id", 0.02)).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05, (exact, approx)


@pytest.mark.parametrize(
    "rows, exact, tol",
    [
        # enough distinct values that the sketch estimates (at sf0.01
        # it counts user_id exactly); rsd 0.02 -> 2.5 sigma
        (lambda s: s.range(1_000_003), 1_000_003, 0.05),
        (lambda s: s.range(0), 0, 0.0),
        (
            lambda s: s.createDataFrame(
                [(1,), (None,), (2,), (None,), (2,)], "id bigint"
            ),
            2,
            0.0,
        ),
    ],
    ids=["million", "empty", "nulls"],
)
def test_approx_distinct_estimate(spark, rows, exact, tol):
    out = rows(spark).agg(approx_distinct("id", rsd=0.02).alias("n"))
    assert out.schema["n"].dataType == LongType()
    n = out.collect()[0].n
    assert abs(n - exact) <= tol * exact, (exact, n)


_HLL_NAMES = {"approx_count_distinct", "approxCountDistinct"}


def _raw_hll_calls(tree: ast.AST) -> list[int]:
    """Line numbers of every ``approx_count_distinct`` call, as a
    function (``F.approx_count_distinct(...)``) or inside a SQL string
    (``F.expr("approx_count_distinct(...)")``), outside a function
    named ``approx_distinct``."""
    skip = {
        id(n)
        for d in ast.walk(tree)
        if isinstance(d, ast.FunctionDef) and d.name == "approx_distinct"
        for n in ast.walk(d)
    }
    lines = []
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _HLL_NAMES:
                lines.append(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "approx_count_distinct(" in node.value.lower()
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_approx_distinct_only_in_sketches():
    found = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in _raw_hll_calls(ast.parse(path.read_text(), filename=str(path)))
    ]
    assert not found, f"approx_count_distinct outside sketches.approx_distinct: {found}"


def test_hll_scan_sees_every_form():
    tree = ast.parse(
        "a = F.approx_count_distinct('x', 0.02)\n"
        "b = (df.agg(\n    approxCountDistinct(c)))\n"
        "c = F.expr('APPROX_COUNT_DISTINCT(u)')\n"
        "def approx_distinct(col, rsd):\n    return F.approx_count_distinct(col, rsd)\n"
        "d = F.hll_sketch_agg('x', 12)\n"
    )
    assert _raw_hll_calls(tree) == [1, 3, 4]


def test_bloom_no_false_negatives_and_fpr_bound(spark, sf_dir):
    """A6 PDF §4.1 grading: FNR must be 0; FPR stays near nominal."""
    from data_mining_map_reduce_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    customer = load_table(spark, sf_dir, "customer")
    members = customer.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    sketch = bloom_build(members, "key", expected_items=members.count(), fpp=0.01)
    probes = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    flagged = bloom_probe(probes, sketch, "key").join(
        members.withColumn("is_member", F.lit(True)), "key", "left"
    )
    rows = flagged.agg(
        F.sum((~F.col("maybe_member") & F.col("is_member").isNotNull()).cast("long")),
        F.sum((F.col("maybe_member") & F.col("is_member").isNull()).cast("long")),
        F.sum(F.col("is_member").isNull().cast("long")),
    ).collect()[0]
    false_neg, false_pos, non_members = rows
    assert false_neg == 0
    if non_members:
        assert false_pos / non_members <= 0.03  # 3x headroom over fpp=0.01


def test_fm_estimate_within_order_of_magnitude(spark, sf_dir):
    """FM is a coarse estimator (the reference's grading tolerates
    wide error); assert the estimate lands within a small constant
    factor of truth."""
    from data_mining_map_reduce_spark.operators.sketches import fm_distinct_estimate

    events = load_table(spark, sf_dir, "events")
    exact = events.agg(F.countDistinct("user_id")).collect()[0][0]
    est = fm_distinct_estimate(events, "user_id").collect()[0][0]
    assert exact / 4 <= est <= exact * 4, (exact, est)


def test_fm_deterministic(spark, sf_dir):
    from data_mining_map_reduce_spark.operators.sketches import fm_distinct_estimate

    events = load_table(spark, sf_dir, "events")
    a = fm_distinct_estimate(events, "user_id").collect()[0][0]
    b = fm_distinct_estimate(events, "user_id").collect()[0][0]
    assert a == b


def test_windowed_approx_distinct_per_window(spark, sf_dir):
    """ST4: per-window approx distinct within 10% of per-window exact."""
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.window_start: r.n
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    }
    approx = {
        r.window_start: r.n
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(approx_distinct("user_id", 0.02).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    }
    assert exact.keys() == approx.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.1 * n), (k, n, approx[k])


def test_window_fm_query_tracks_exact(spark):
    """The windowed-approx QUERY now emits per-window FM estimates
    (the reference's A6-task2 shape). FM's guarantee is much looser
    than HLL's: assert the A6 grading-style aggregate band (sum of
    estimates within [0.2x, 5x] of truth) plus window-key equality."""
    from data_mining_map_reduce_spark.queries import window_distinct_users

    sf = "/root/testdata/sf0.01"
    rows = window_distinct_users(spark, sf).collect()
    assert rows and len({r.window_start for r in rows}) == len(rows)
    ratio = sum(r.n_users_approx for r in rows) / sum(r.n_users for r in rows)
    assert 0.2 <= ratio <= 5.0, ratio


def test_kmv_distinct_within_bound(spark, sf_dir):
    """KMV with k=256 has relative error ~1/sqrt(k) ≈ 6%; assert 20%
    against exact (loose enough for any corpus, tight enough to catch
    a broken estimator)."""
    from data_mining_map_reduce_spark.operators.sketches import (
        kmv_distinct_estimate,
    )
    from data_mining_map_reduce_spark.queries import load_table

    events = load_table(spark, sf_dir, "events")
    exact = events.select("user_id").distinct().count()
    est = kmv_distinct_estimate(events, "user_id", k=256).collect()[0][0]
    if exact < 256:
        assert est == exact
    else:
        assert abs(est - exact) / exact <= 0.2, (exact, est)


def test_bloom_geometry_rounding_matches_duckdb():
    """ADVICE r6: the engine's k must use the same rounding rule as
    the DuckDB oracle's ROUND() (half-away-from-zero) — Python's
    banker's round() silently diverges on an exact .5. Sweep n and
    compare against DuckDB's own ROUND of the identical formula."""
    import duckdb

    from data_mining_map_reduce_spark.operators.sketches import _bloom_geometry

    con = duckdb.connect()
    for n in list(range(1, 120)) + [1000, 4096, 65536]:
        m, k = _bloom_geometry(n, 0.01)
        sql_m, sql_k = con.execute(
            """
            SELECT m, GREATEST(1, CAST(ROUND(m * 1.0 / ? * ln(2)) AS INTEGER))
            FROM (SELECT GREATEST(64,
                    CAST(trunc(-? * ln(0.01) / (ln(2) * ln(2))) AS BIGINT)) AS m)
            """,
            [n, n],
        ).fetchone()
        assert (m, k) == (sql_m, sql_k), (n, m, k, sql_m, sql_k)


def test_count_min_overestimates_and_merges(spark, sf_dir):
    """CM laws: est >= true count for EVERY key (structural guarantee
    of the min-of-counters read), exact on the heavy tail at this
    scale, and counter grids built on disjoint halves merge by
    (i, pos) sum into exactly the full grid."""
    from data_mining_map_reduce_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("key")
    )
    sketch = count_min_build(li, "key", width=256, depth=4)
    est = count_min_estimate(li.distinct(), sketch, "key", width=256, depth=4)
    truth = li.groupBy("key").agg(F.count(F.lit(1)).alias("true_n"))
    joined = est.join(truth, "key").collect()
    assert len(joined) == truth.count()
    assert all(r.est >= r.true_n for r in joined), "CM must never undercount"

    half_a = li.where(F.col("key") % 2 == 0)
    half_b = li.where(F.col("key") % 2 == 1)
    merged = (
        count_min_build(half_a, "key", width=256, depth=4)
        .unionByName(count_min_build(half_b, "key", width=256, depth=4))
        .groupBy("i", "pos")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, sketch.collect())
    )


def test_count_min_unseen_key_reports_zero(spark, sf_dir):
    """True CM semantics for a key ABSENT from the build (ADVICE r7):
    every counter it addresses that no occurrence hashed into reads 0,
    so the min must be 0 when any addressed cell is empty — the key
    must neither vanish from the output nor report a spurious positive
    min over only its non-empty cells."""
    from data_mining_map_reduce_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    built = spark.createDataFrame([(k,) for k in range(8)], "key int")
    # wide grid + few keys => an unseen key all but surely addresses
    # at least one empty cell in some hash row
    sketch = count_min_build(built, "key", width=4096, depth=4)
    probes = spark.createDataFrame(
        [(5,), (999_999,)], "key int"
    )  # one built, one unseen
    rows = {
        r.key: r.est
        for r in count_min_estimate(
            probes, sketch, "key", width=4096, depth=4
        ).collect()
    }
    assert set(rows) == {5, 999_999}, "unseen key must not vanish"
    assert rows[5] >= 1
    assert rows[999_999] == 0


def test_percentile_approx_tracks_exact(spark, sf_dir):
    """doc_length_percentiles_approx (mergeable quantile sketch,
    constant memory per group) must track the exact buffering twin
    within a tight relative band at this accuracy setting — the same
    approx-vs-exact contract the FM/HLL queries carry."""
    from data_mining_map_reduce_spark.queries import SPARK_QUERIES

    exact = {
        r.lang: r
        for r in SPARK_QUERIES["doc_length_percentiles"](spark, sf_dir).collect()
    }
    approx = {
        r.lang: r
        for r in SPARK_QUERIES["doc_length_percentiles_approx"](
            spark, sf_dir
        ).collect()
    }
    assert set(exact) == set(approx)
    for lang, e in exact.items():
        a = approx[lang]
        assert a.n_docs == e.n_docs
        for col in ("p50", "p90", "p99"):
            ev, av = getattr(e, col), getattr(a, col)
            assert abs(av - ev) <= 0.15 * max(ev, 1.0), (lang, col, ev, av)
