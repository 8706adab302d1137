"""MinHash+LSH fuzzy oracle: precision 1.0 by construction (exact
verify), recall >= 0.8 vs the exact Jaccard path — the A3 PDF §4.1.4
grading rule."""

from __future__ import annotations

import ast
import random
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.operators.relational import (
    baskets,
    bucket_pairs,
    cap_buckets,
)
from data_mining_map_reduce_spark.operators.similarity import (
    exact_jaccard_pairs,
    minhash_lsh_pairs,
)
from data_mining_map_reduce_spark.queries import _customer_part_pairs

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_mining_map_reduce_spark"


def test_lsh_recall_and_precision(spark, sf_dir):
    pairs = _customer_part_pairs(spark, sf_dir)
    threshold = 0.05

    exact = {
        (r.a, r.b)
        for r in exact_jaccard_pairs(pairs, "k", "i", threshold).collect()
    }
    b = baskets(pairs.select("k", F.col("i").cast("string").alias("i")), "k", "i")
    lsh = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            b, "k", "items", threshold, num_hashes=32, bands=32
        ).collect()
    }

    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall:.3f} ({len(lsh)}/{len(exact)})"


def test_lsh_deterministic(spark, sf_dir):
    pairs = _customer_part_pairs(spark, sf_dir)
    b = baskets(pairs.select("k", F.col("i").cast("string").alias("i")), "k", "i")
    r1 = sorted(map(tuple, minhash_lsh_pairs(b, "k", "items", 0.05).collect()))
    r2 = sorted(map(tuple, minhash_lsh_pairs(b, "k", "items", 0.05).collect()))
    assert r1 == r2


def test_exact_pairs_scale_guard(spark, monkeypatch):
    """r10 verdict task 2: the exact all-pairs twin must refuse to run
    above the key-count threshold the sf10 probe measured as fatal
    (~500k docs on one box), with a message routing users to the
    banded _lsh twin; below the threshold (and with the guard
    disabled) it must run unchanged."""
    import pytest as _pytest

    from data_mining_map_reduce_spark.operators.similarity import (
        exact_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(k, f"item{i}") for k in range(10) for i in range(k, k + 4)],
        "k long, it string",
    )
    # over the cap -> clear refusal naming the _lsh escape hatch
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRS_MAX", "5")
    with _pytest.raises(ValueError, match="_lsh"):
        exact_jaccard_pairs(df, "k", "it", threshold=0.5)
    # under the cap -> runs
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRS_MAX", "100")
    assert exact_jaccard_pairs(df, "k", "it", threshold=0.5).count() > 0
    # 0 disables (deliberate ground-truth runs)
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRS_MAX", "0")
    assert exact_jaccard_pairs(df, "k", "it", threshold=0.5).count() > 0


def test_lsh_verify_payload_guard(spark, monkeypatch):
    """r14 verdict task 2: the verify join must refuse to run when the
    estimated candidate-mass x array-payload volume exceeds the
    shuffle budget (sf10 measured 958.6 s / ~220 GB at reference
    banding; the partition fix was refuted — write volume is the
    wall). The refusal names the payload knobs; under the budget (and
    with the guard disabled) the operator runs unchanged, and
    verify=False callers never pay the estimate."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(k, [f"item{i}" for i in range(k, k + 6)]) for k in range(20)],
        "k long, items array<string>",
    )
    # tiny budget -> clear refusal naming the knobs
    monkeypatch.setenv("SPARK_GRAFT_LSH_VERIFY_BUDGET", "1")
    with _pytest.raises(ValueError, match="max_bucket"):
        minhash_lsh_pairs(df, "k", "items", threshold=0.05)
    # min_overlap mode verifies too -> same guard
    with _pytest.raises(ValueError, match="SPARK_GRAFT_LSH_VERIFY_BUDGET"):
        minhash_lsh_pairs(df, "k", "items", 0.0, min_overlap=2)
    # verify=False carries no arrays -> no guard, runs under a 1-byte
    # budget (its consumers re-exactify downstream)
    assert (
        minhash_lsh_pairs(df, "k", "items", 0.05, verify=False).count() >= 0
    )
    # generous budget -> runs
    monkeypatch.setenv("SPARK_GRAFT_LSH_VERIFY_BUDGET", str(1 << 30))
    assert minhash_lsh_pairs(df, "k", "items", threshold=0.05).count() >= 0
    # 0 disables (deliberate runs on clusters with the shuffle tier)
    monkeypatch.setenv("SPARK_GRAFT_LSH_VERIFY_BUDGET", "0")
    assert minhash_lsh_pairs(df, "k", "items", threshold=0.05).count() >= 0


def test_cooccurrence_lsh_refines_exact(spark, sf_dir):
    """r13 verdict task 1: the LSH-pre-cut edge build must REFINE the
    exact co-occurrence build — every emitted pair exists in the
    exact output with an IDENTICAL n_shared (precision 1.0: the
    verify is an exact intersection count), and recall on the smoke
    corpus stays above the floor the banding predicts (b=32, r=1:
    P(candidate) = 1-(1-J)^32; tau=3 pairs with low Jaccard are the
    documented misses)."""
    from data_mining_map_reduce_spark.operators.relational import (
        co_occurrence_pairs,
        co_occurrence_pairs_lsh,
    )

    pairs = _customer_part_pairs(spark, sf_dir)
    exact = {
        (r.a, r.b): r.n_shared
        for r in co_occurrence_pairs(pairs, "k", "i", min_shared=3).collect()
    }
    lsh = {
        (r.a, r.b): r.n_shared
        for r in co_occurrence_pairs_lsh(pairs, "k", "i", min_shared=3).collect()
    }
    assert set(lsh) <= set(exact), "pre-cut emitted a pair the exact build lacks"
    assert all(exact[p] == n for p, n in lsh.items()), "n_shared mismatch"
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    assert recall >= 0.6, f"recall {recall:.3f} ({len(lsh)}/{len(exact)})"


def test_min_overlap_requires_verify():
    import pytest as _pytest

    from data_mining_map_reduce_spark.operators.similarity import (
        minhash_lsh_pairs,
    )

    with _pytest.raises(ValueError, match="verify"):
        minhash_lsh_pairs(
            None, "k", "items", 0.0, verify=False, min_overlap=3
        )


def test_cooccurrence_lsh_hot_bucket_cap(spark):
    """The skew story, unit-pinned (SCALE.md r14): a hot item's
    bucket blows past max_bucket and is DROPPED, but every pair that
    truly qualifies (>= tau shared items) also collides through its
    NON-hot shared items' buckets, so the capped pre-cut still equals
    the exact build on this construction — the cap absorbs the d^2
    term without costing qualifying pairs that have any other
    overlap."""
    from data_mining_map_reduce_spark.operators.relational import (
        co_occurrence_pairs,
        co_occurrence_pairs_lsh,
    )

    rows = []
    for k in range(30):
        rows.append((k, "hot"))  # one item shared by ALL 30 keys
        pair = k // 2
        rows.append((k, f"a{pair}"))  # shared within (2i, 2i+1) only
        rows.append((k, f"b{pair}"))
    df = spark.createDataFrame(rows, "k long, i string")

    exact = {
        (r.a, r.b, r.n_shared)
        for r in co_occurrence_pairs(df, "k", "i", min_shared=3).collect()
    }
    # pairs (2i, 2i+1) share {hot, a_i, b_i} = 3; everyone else shares
    # only "hot" = 1 < tau
    assert exact == {(2 * i, 2 * i + 1, 3) for i in range(15)}

    capped = {
        (r.a, r.b, r.n_shared)
        for r in co_occurrence_pairs_lsh(
            df, "k", "i", min_shared=3, max_bucket=3
        ).collect()
    }
    # hot's buckets hold up to 30 keys >> cap 3 and are dropped; the
    # qualifying pairs re-collide via a_i/b_i minima (bucket size 2)
    assert capped == exact


HOT = 50  # ids in the planted bucket


@pytest.mark.parametrize("max_bucket", [None, HOT - 1, HOT, HOT + 1])
def test_bucket_pairs_capped_equals_brute_force(spark, max_bucket):
    """``bucket_pairs(cap_buckets(...))`` against a Python brute force
    over random (id, k1, k2, p) rows plus one planted bucket of HOT
    distinct ids: the same pair multiset, each side's carried value,
    a < b, and the cap dropping exactly the buckets with
    more than ``max_bucket`` rows (HOT itself is kept at the
    boundary)."""
    rng = random.Random(11)
    rows = [
        (rng.randrange(60), rng.randrange(4), rng.randrange(4), rng.randrange(1000))
        for _ in range(200)
    ]
    rows += [(i, 1, 9, rng.randrange(1000)) for i in rng.sample(range(100), HOT)]
    df = spark.createDataFrame(rows, "id long, k1 int, k2 int, p int")
    got = Counter(
        tuple(r)
        for r in bucket_pairs(
            cap_buckets(df, ["k1", "k2"], max_bucket),
            "id", ["k1", "k2"], "a", "b", carry=("p",),
        )
        .select("k1", "k2", "a", "pa", "b", "pb")
        .collect()
    )
    size = Counter((k1, k2) for _, k1, k2, _ in rows)
    want = Counter(
        (k1, k2, i, p, j, q)
        for i, k1, k2, p in rows
        for j, l1, l2, q in rows
        if (k1, k2) == (l1, l2)
        and i < j
        and (max_bucket is None or size[k1, k2] <= max_bucket)
    )
    hot = sum(n for (k1, k2, *_), n in want.items() if (k1, k2) == (1, 9))
    kept = max_bucket is None or max_bucket >= HOT
    assert hot == (HOT * (HOT - 1) // 2 if kept else 0)
    assert sum(want.values()) - hot > 500
    assert got == want


def _pair_order_filters(tree: ast.AST) -> list[int]:
    """Line numbers of every equi-join filtered to one pair order —
    ``<x>.join(<y>, <keys>).where|filter(... F.col(a) < F.col(b) ...)``
    — outside ``bucket_pairs`` and ``user_similarities``. A theta join
    (``.join(y, F.col(a) < F.col(b))``) is not an equi-join and is
    not flagged. ``user_similarities`` is allowed: its candidate mode
    joins each side to the candidate pairs separately, so its exact
    mode keeps the two sides as named frames instead of a bucket
    self-join."""
    skip = {
        id(n)
        for d in ast.walk(tree)
        if isinstance(d, ast.FunctionDef)
        and d.name in {"bucket_pairs", "user_similarities"}
        for n in ast.walk(d)
    }

    def is_col(node: ast.AST) -> bool:
        return isinstance(node, ast.Call) and (
            getattr(node.func, "attr", None) == "col"
            or getattr(node.func, "id", None) == "col"
        )

    def pair_order(node: ast.AST) -> bool:
        return any(
            isinstance(c, ast.Compare)
            and isinstance(c.ops[0], ast.Lt)
            and is_col(c.left)
            and is_col(c.comparators[0])
            for c in ast.walk(node)
        )

    lines = []
    for node in ast.walk(tree):
        if (
            id(node) not in skip
            and isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) in {"where", "filter"}
            and isinstance(join := node.func.value, ast.Call)
            and getattr(join.func, "attr", None) == "join"
            and not any(pair_order(arg) for arg in join.args[1:2])
            and any(pair_order(arg) for arg in node.args)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_bucket_self_join_only_in_relational():
    found = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in _pair_order_filters(
            ast.parse(path.read_text(), filename=str(path))
        )
    ]
    assert not found, f"bucket self-join outside relational.bucket_pairs: {found}"


def test_pair_order_scan_sees_old_forms():
    tree = ast.parse(
        "a = lhs.join(rhs, '_bucket').where(F.col(key_a) < F.col(key_b))\n"
        "b = (l.join(r, ['_bkey', *by])\n"
        "     .filter((F.col('a') < F.col('b')) & (F.col('x') >= 1)))\n"
        "c = l.join(r, F.col('id_a') < F.col('id_b')).where(F.col('a') < F.col('b'))\n"
        "d = l.join(r, 'k').where(F.col('a') != F.col('b'))\n"
        "def bucket_pairs(df):\n"
        "    return l.join(r, 'k').where(F.col('a') < F.col('b'))\n"
    )
    assert _pair_order_filters(tree) == [1, 2]
