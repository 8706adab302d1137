"""X36 model-based quality filter: weak-label discrimination, the
Pareto keep-rule arithmetic, and determinism of the content-addressed
draw."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.operators.quality_model import (
    quality_classifier_scores,
    quality_classifier_stats,
)
from data_mining_map_reduce_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scored(module_spark):
    docs = load_table(module_spark, SF, "documents")
    return quality_classifier_scores(docs, target_value="src0").collect()


def test_discrimination(spark, scored):
    """The classifier must separate its own weak labels: target-slice
    docs outscore the rest on average by a wide margin (in-sample —
    this pins that the featurizer + trainer wiring learns at all,
    the analogue of the DSIR discrimination pin)."""
    tgt = [r.score for r in scored if r.source == "src0"]
    rest = [r.score for r in scored if r.source != "src0"]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest) + 0.2


def test_pareto_keep_rule_replayed(spark, scored):
    """keep == score > 1 - ((1-u)^(-1/9) - 1) with u derived from
    md5(doc_id|7) — replayed here in pure Python from hashlib, the
    same cross-engine contract as the samplers."""
    for r in scored:
        hv = int(hashlib.md5(f"{r.doc_id}|7".encode()).hexdigest()[:15], 16)
        u = ((hv % (1 << 52)) + 0.5) / float(1 << 52)
        pareto = (1.0 - u) ** (-1.0 / 9.0) - 1.0
        assert r.keep == (r.score > 1.0 - pareto), r.doc_id


def test_keep_monotone_in_score(spark, scored):
    """The Pareto(9) rule keeps monotonically in score: P(keep at
    score s) = P(x > 1-s) = (2-s)^(-9), so >0.9 scorers are kept
    ~42-60% of the time and <0.1 scorers almost never (~0.3%) — the
    filter separates its tails."""
    hi = [r for r in scored if r.score > 0.9]
    lo = [r for r in scored if r.score < 0.1]
    hi_rate = sum(r.keep for r in hi) / len(hi) if hi else None
    lo_rate = sum(r.keep for r in lo) / len(lo) if lo else None
    assert hi and lo, "fixture corpus must populate both tails"
    assert hi_rate > 0.2
    assert lo_rate < 0.35
    assert hi_rate > lo_rate


def test_stats_rollup_consistent(spark, scored):
    docs = load_table(spark, SF, "documents")
    stats = {
        r.source: r
        for r in quality_classifier_stats(docs, target_value="src0").collect()
    }
    by_src: dict = {}
    for r in scored:
        n, s, k = by_src.get(r.source, (0, 0.0, 0))
        by_src[r.source] = (n + 1, s + r.score, k + int(r.keep))
    assert set(stats) == set(by_src)
    for src, (n, s, k) in by_src.items():
        row = stats[src]
        assert row.n_docs == n
        assert row.n_kept == k
        assert row.mean_score == pytest.approx(round(s / n, 4), abs=2e-4)
