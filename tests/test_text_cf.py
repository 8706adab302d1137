"""Text-analysis (TF-IDF, quality stats, language-ID) and item-item
CF (A15) unit tests on hand-computable fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.operators.recommend import (
    item_similarities,
    predict_ratings,
    predict_ratings_user_based,
    user_candidate_pairs_lsh,
    user_similarities,
)
from data_mining_map_reduce_spark.operators.text_analysis import (
    doc_quality_stats,
    language_id,
    tfidf_top_terms,
)


def test_tfidf_rare_term_tops(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common common other words"),
            (3, "common words words words"),
        ],
        "doc_id long, text string",
    )
    top = {
        r.doc_id: r.term
        for r in tfidf_top_terms(docs, k=1).collect()
    }
    # 'zebra' appears only in doc 1 => highest idf there; 'common'
    # has idf ln(3/3)=0 everywhere
    assert top[1] == "zebra"


def test_doc_quality_stats_hand_values(spark):
    docs = spark.createDataFrame(
        [(1, "The cat and the cat!")], "doc_id long, text string"
    )
    r = doc_quality_stats(docs).collect()[0]
    # tokens: the cat and the cat -> 5 tokens, 2 stopwords (the, and,
    # the => 3), distinct {the, cat, and} = 3
    assert r.n_tokens == 5
    assert r.stopword_ratio == pytest.approx(3 / 5)
    assert r.distinct_ratio == pytest.approx(3 / 5)
    assert r.avg_token_len == pytest.approx((3 + 3 + 3 + 3 + 3) / 5)


def test_language_id_known_texts(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der Hund ist nicht in das Haus und die Katze"),
            (3, "le chat est dans la maison et les oiseaux"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "und"


@pytest.fixture()
def tiny_ratings(spark):
    rows = [
        # items A(1) and B(2) perfectly correlated over u1-u3
        (1, 1, 5.0), (1, 2, 5.0),
        (2, 1, 4.0), (2, 2, 4.0),
        (3, 1, 1.0), (3, 2, 1.0),
        # item C(3) anti-correlated with A
        (1, 3, 1.0), (2, 3, 2.0), (3, 3, 5.0),
        # u4 rated only B
        (4, 2, 3.0),
    ]
    return spark.createDataFrame(rows, "u long, i long, rating double")


def test_item_similarities_hand_values(spark, tiny_ratings):
    sims = {(r.i1, r.i2): r.sim for r in item_similarities(tiny_ratings, min_co=3).collect()}
    assert sims[(1, 2)] == pytest.approx(1.0)
    assert sims[(1, 3)] < 0  # anti-correlated
    assert all(r_n >= 3 for r_n in
               [r.n_co for r in item_similarities(tiny_ratings, min_co=3).collect()])


def test_predict_from_top_neighbor(spark, tiny_ratings):
    sims = item_similarities(tiny_ratings, min_co=3)
    targets = spark.createDataFrame([(4, 1)], "u long, i long")
    got = predict_ratings(tiny_ratings, sims, targets, top_n=5).collect()
    # u4's only positive-sim neighbor of item 1 is item 2 (sim 1.0,
    # rating 3.0) => prediction exactly 3.0
    assert len(got) == 1
    assert got[0].pred == pytest.approx(3.0)


def test_user_similarities_hand_values(spark, tiny_ratings):
    # u1 and u2 rate items 1,2,3 as (5,5,1) vs (4,4,2): Pearson over
    # the 3 co-rated items is exactly -? compute: a=(5,5,1) b=(4,4,2)
    # both perfectly linearly related (b = 0.5a + 1.5) => sim 1.0
    sims = {
        (r.u1, r.u2): (r.sim, r.n_co)
        for r in user_similarities(tiny_ratings, min_co=3).collect()
    }
    assert sims[(1, 2)][0] == pytest.approx(1.0)
    assert sims[(1, 2)][1] == 3
    # u4 has a single rating -> no pair reaches min_co
    assert not any(4 in k for k in sims)


def test_user_based_prediction_from_top_neighbor(spark, tiny_ratings):
    sims = user_similarities(tiny_ratings, min_co=3)
    # predict u1's rating of item 2 from similar users who rated it
    targets = spark.createDataFrame([(1, 2)], "u long, i long")
    got = predict_ratings_user_based(
        tiny_ratings, sims, targets, top_n=5
    ).collect()
    assert len(got) == 1
    # u1's only positive-sim neighbor who rated item 2 is u2 (sim 1.0,
    # r=4.0); u3 is anti-correlated ((5,5,1) vs (1,1,5)) and excluded
    # => prediction exactly 4.0
    assert got[0].pred == pytest.approx(4.0)


def test_lsh_prefilter_restricts_to_exact_subset(spark):
    """LSH-prefiltered user sims must be a subset of exact user sims
    (precision 1.0: candidates are verified at exact Jaccard), with
    usable recall on the real-data regime."""
    from data_mining_map_reduce_spark.queries import _ratings

    ratings = _ratings(spark, "/root/testdata/sf0.001").cache()
    cand = user_candidate_pairs_lsh(ratings, threshold=0.05)
    exact = {
        (r.u1, r.u2): r.sim
        for r in user_similarities(ratings, min_co=3).collect()
    }
    filtered = {
        (r.u1, r.u2): r.sim
        for r in user_similarities(
            ratings, min_co=3, candidate_pairs=cand
        ).collect()
    }
    assert set(filtered) <= set(exact)
    assert all(exact[k] == pytest.approx(v) for k, v in filtered.items())
    assert len(filtered) > 0


def test_content_based_hand_values(spark):
    from data_mining_map_reduce_spark.operators.content import (
        content_based_scores,
        item_profiles,
        user_profiles,
    )

    item_docs = spark.createDataFrame(
        [
            (1, "red metal box"),
            (2, "red plastic cup"),
            (3, "green glass jar"),
        ],
        "i long, text string",
    )
    iprof = item_profiles(item_docs, k=3)
    # every item keeps its 3 terms ('red' has lower idf but k=3 keeps all)
    assert {(r.i, r.term) for r in iprof.collect()} == {
        (1, "red"), (1, "metal"), (1, "box"),
        (2, "red"), (2, "plastic"), (2, "cup"),
        (3, "green"), (3, "glass"), (3, "jar"),
    }
    interactions = spark.createDataFrame(
        [(7, 1), (7, 2)], "u long, i long"
    )
    uprof = user_profiles(interactions, iprof, k=3)
    # term counts for u7: red=2, box/cup/metal/plastic=1 -> top-3 by
    # (count desc, term asc): red, box, cup
    assert {r.term for r in uprof.collect()} == {"red", "box", "cup"}
    targets = spark.createDataFrame([(7, 1), (7, 3)], "u long, i long")
    got = {
        (r.u, r.i): r.cos_sim
        for r in content_based_scores(uprof, iprof, targets).collect()
    }
    # cos(u7, item1) = |{red, box}| / sqrt(3*3) = 2/3; item3 shares
    # nothing -> filtered out
    assert got == {(7, 1): pytest.approx(round(2 / 3, 6))}


def test_predictions_track_actuals(spark):
    """On real data: predictions for already-rated (u,i) targets
    should land in the rating range and beat a null model grossly."""
    from data_mining_map_reduce_spark.queries import SPARK_QUERIES

    pred = SPARK_QUERIES["cf_predictions"](spark, "/root/testdata/sf0.001")
    rows = pred.collect()
    assert len(rows) > 0
    assert all(0 < r.pred <= 50 for r in rows)


# Under AQE coalescing a batch plan's shuffle partition count comes
# from this setting, not from spark.sql.shuffle.partitions.
_INITIAL_PARTS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_pearson_bit_identical_across_shuffle_partitions(spark):
    """r10 verdict task 1 gate: the suffstat Pearson family must be
    BIT-identical under different partitionings. covar/stddev (and
    any float aggregation) is summation-order dependent, and the old
    ROUND(corr, 6) flipped cf_item_similarities hash-red in the r10
    driver window when a pair's correlation landed within an ulp of a
    6th-decimal boundary; exact integer sufficient statistics are
    order-independent by construction, so changing the shuffle
    partitioning must not move a single bit of output."""
    from data_mining_map_reduce_spark.queries import SPARK_QUERIES

    prev = spark.conf.get(_INITIAL_PARTS)
    runs = []
    try:
        for parts in ("2", "8", "32"):
            spark.conf.set(_INITIAL_PARTS, parts)
            rows = SPARK_QUERIES["cf_item_similarities"](
                spark, "/root/testdata/sf0.001"
            ).collect()
            runs.append([(r.i1, r.i2, r.sim, r.n_co) for r in rows])
    finally:
        spark.conf.set(_INITIAL_PARTS, prev)
    assert len(runs[0]) > 0
    # exact equality — floats included; any ulp drift is a failure
    assert runs[0] == runs[1] == runs[2]


def test_prediction_bit_identical_across_shuffle_partitions(spark):
    """Same gate for the exact-integer weighted-average prediction
    (Σ(sim_e6·r_e6)/Σ(sim_e6) with floor-quantization)."""
    from data_mining_map_reduce_spark.queries import SPARK_QUERIES

    prev = spark.conf.get(_INITIAL_PARTS)
    runs = []
    try:
        for parts in ("2", "32"):
            spark.conf.set(_INITIAL_PARTS, parts)
            rows = SPARK_QUERIES["cf_predictions"](
                spark, "/root/testdata/sf0.001"
            ).collect()
            runs.append([(r.u, r.i, r.pred) for r in rows])
    finally:
        spark.conf.set(_INITIAL_PARTS, prev)
    assert len(runs[0]) > 0
    assert runs[0] == runs[1]


def test_lm_perplexity_hand_computed(spark):
    """Unigram-LM perplexity on a hand-computable corpus: vocab
    a:2, b:2, c:1 (total 5) -> doc1 "a a b." has H = log2(2.5)
    (ppl 2.5 exactly); doc2 "b c" has ppl = sqrt(2.5*5) = 3.5355.
    Normalization strips the punctuation before tokenizing."""
    from data_mining_map_reduce_spark.operators.text_analysis import (
        lm_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a a b."), (2, "b c"), (3, "   ")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in lm_perplexity(docs).collect()}
    assert set(rows) == {1, 2}  # the empty doc has no H
    assert rows[1].n_tokens == 3 and rows[1].ppl == 2.5
    assert rows[2].n_tokens == 2 and rows[2].ppl == 3.5355


def test_source_token_kl_hand_computed(spark):
    """KL(P_source || P_corpus) on a hand-computable corpus: sources
    A = "a a b." and B = "b c" against corpus probs a:.4 b:.4 c:.2 ->
    KL_A = 2/3*log2(5/3) + 1/3*log2(5/6) = 0.403632 bits,
    KL_B = 1/2*log2(5/4) + 1/2*log2(5/2) = 0.821928 bits."""
    from data_mining_map_reduce_spark.operators.text_analysis import (
        source_token_kl,
    )

    docs = spark.createDataFrame(
        [(1, "A", "a a b."), (2, "B", "b c"), (3, "C", " ")],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in source_token_kl(docs).collect()}
    assert set(rows) == {"A", "B"}  # tokenless slice has no KL
    assert rows["A"].n_tokens == 3 and rows["A"].kl_bits == 0.403632
    assert rows["B"].n_tokens == 2 and rows["B"].kl_bits == 0.821928


def test_stratified_sample_quota_and_layout_invariance(spark, sf_dir):
    """The exact-quota subsample must take min(k, |stratum|) rows per
    stratum and be CONTENT-ADDRESSED: the same rows regardless of
    input partitioning/order (the property that makes a resumable
    100 TB rebalance reproducible without RNG state)."""
    from data_mining_map_reduce_spark.queries import stratified_doc_sample

    base = stratified_doc_sample(spark, sf_dir).collect()
    per = {}
    for r in base:
        per.setdefault(r.source, []).append(r.doc_id)
    from data_mining_map_reduce_spark.sources.catalog import load_table

    sizes = {
        r.source: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for src, ids in per.items():
        assert len(ids) == min(20, sizes[src])
        assert len(set(ids)) == len(ids)

    # layout invariance: shuffle the input hard, same output
    from data_mining_map_reduce_spark.functions.hashing import md5_hash60
    from data_mining_map_reduce_spark.operators.relational import (
        top_k_per_group,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy(F.col("doc_id").desc())
        .repartition(7)
        .select("source", "doc_id", md5_hash60("doc_id").alias("_hv"))
    )
    again = sorted(
        (r.source, r.doc_id)
        for r in top_k_per_group(
            docs, "source", [F.col("_hv").asc(), F.col("doc_id").asc()],
            k=20, ties=False,
        ).select("source", "doc_id").collect()
    )
    assert again == sorted((r.source, r.doc_id) for r in base)


def test_dsir_weights_hand_computed(spark):
    """X33 DSIR log importance: hand-check the smoothed unigram
    likelihood ratio on a 3-doc corpus. Target slice = 'tgt'.
    Corpus tokens: apple x3 (2 tgt), banana x2 (0 tgt), V=2,
    nc=5, nt=2.
      w(apple)  = log2( (2+1)/(2+2) / ((3+1)/(5+2)) ) = log2(21/16)
      w(banana) = log2( (0+1)/(2+2) / ((2+1)/(5+2)) ) = log2(7/12)
    d1 ('apple apple', tgt)  -> 2*w(apple)
    d2 ('banana banana')     -> 2*w(banana)
    d3 ('apple')             -> 1*w(apple)
    """
    import math

    from data_mining_map_reduce_spark.operators.text_analysis import (
        dsir_log_importance,
    )

    docs = spark.createDataFrame(
        [(1, "tgt", "apple apple"), (2, "web", "banana banana"),
         (3, "web", "apple")],
        "doc_id long, source string, text string",
    )
    rows = {r.doc_id: r for r in dsir_log_importance(docs, "tgt").collect()}
    w_apple = math.log2((3 / 4) / (4 / 7))
    w_banana = math.log2((1 / 4) / (3 / 7))
    assert rows[1].n_tokens == 2
    assert rows[1].log2_w == round(2 * w_apple, 4)
    assert rows[2].log2_w == round(2 * w_banana, 4)
    assert rows[3].log2_w == round(1 * w_apple, 4)


def test_dsir_weights_discriminate_target_slice(spark):
    """The estimator's point: documents FROM the target slice must
    score higher on average than the rest of the corpus (measured
    +0.80 vs -0.83 mean log2_w at sf0.01 — assert the sign gap, not
    the exact values)."""
    from data_mining_map_reduce_spark.operators.text_analysis import (
        dsir_log_importance,
    )
    from data_mining_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    scored = dsir_log_importance(docs, "src0").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    rows = scored.groupBy(F.col("source") == "src0").agg(
        F.avg("log2_w").alias("m")
    ).collect()
    m = {r[0]: r["m"] for r in rows}
    assert m[True] > m[False] + 1.0, m


def test_dsir_resample_shifts_mean_weight(spark):
    """X33 completion (r16): importance RESAMPLING must actually move
    the selected subset toward the target distribution — the paper's
    §3 sanity property. Assert the resampled set's mean log2_w exceeds
    the full-corpus mean (k=100 of 500 docs at sf0.01; measured gap
    ~ +1 bit vs the corpus mean straddling 0), and that selection ∝
    2^log2_w is deterministic content-addressed top-k (rerun equal)."""
    from data_mining_map_reduce_spark.queries import dsir_resampled_docs

    sample = dsir_resampled_docs(spark, "/root/testdata/sf0.01")
    rows = sample.collect()
    assert len(rows) == 100
    from data_mining_map_reduce_spark.operators.text_analysis import (
        dsir_log_importance,
    )
    from data_mining_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    corpus_mean = dsir_log_importance(docs, "src0").agg(
        F.avg("log2_w")
    ).collect()[0][0]
    sample_mean = sum(r.log2_w for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)
    again = {r.doc_id for r in dsir_resampled_docs(spark, "/root/testdata/sf0.01").collect()}
    assert again == {r.doc_id for r in rows}


def test_weighted_sample_log2_matches_linear_domain(spark):
    """weighted_sample_log2 must select the SAME rows as
    weighted_sample when the linear-domain weight is representable:
    w = 2^log2_w with small magnitudes — the log-space key is a
    monotone transform of u^(1/w), so top-k agrees exactly."""
    from data_mining_map_reduce_spark.streaming.reservoir import (
        weighted_sample,
        weighted_sample_log2,
    )

    rows = [(i, float((i % 7) - 3)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, lw double").withColumn(
        "w", F.pow(F.lit(2.0), F.col("lw"))
    )
    lin = {
        r.id
        for r in weighted_sample(df, 10, "w", seed=7, id_cols=["id"]).collect()
    }
    log = {
        r.id
        for r in weighted_sample_log2(
            df, 10, "lw", seed=7, id_cols=["id"]
        ).collect()
    }
    assert lin == log


def test_decontamination_drops_planted_probe(spark):
    """X27 removal half (r16): a synthetic corpus with a TRAIN doc
    copying a TEST doc verbatim (the planted contamination), a clean
    train doc, and a too-short-to-shingle train doc. Under the affine
    X21 split, ids 1/2 land in 'test' and 3..8 in 'train'. The probe
    must be dropped (overlap 1.0 >= 0.5), the clean and short docs
    kept, token counts exact, and the re-scan residual below the
    threshold — the zero-residual contract."""
    from data_mining_map_reduce_spark.queries import (
        _decontaminated_corpus_stats_impl,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, "bench", bench_text),                      # test split
            (3, "webA", bench_text),                       # PROBE: verbatim copy -> dropped
            (4, "webA", "one two three four five six"),    # clean -> kept
            (5, "webB", "tiny doc"),                       # < 3 tokens, no shingles -> kept
            (6, "webB", "seven eight nine ten eleven"),    # clean -> kept
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        r.source: r
        for r in _decontaminated_corpus_stats_impl(docs, threshold=0.5).collect()
    }
    assert set(rows) == {"webA", "webB"}  # train sources only
    a, b = rows["webA"], rows["webB"]
    assert (a.n_docs_kept, a.n_docs_dropped) == (1, 1)
    assert (a.n_tokens_kept, a.n_tokens_dropped) == (6, 8)
    assert (b.n_docs_kept, b.n_docs_dropped) == (2, 0)
    assert (b.n_tokens_kept, b.n_tokens_dropped) == (7, 0)
    assert a.max_residual < 0.5 and b.max_residual < 0.5
    assert a.max_residual == 0.0  # clean doc shares no trigram with bench


def test_dsir_weights_layout_invariant(spark):
    """Content-addressed determinism (the stratified-sample
    precedent): repartitioning/reordering the input must not change
    any rounded weight — the 4-dp rounding absorbs float-sum order
    across layouts (headroom ~1e9x: per-doc sums of ~50 O(1)-sized
    log terms reorder at ~1e-15)."""
    from data_mining_map_reduce_spark.operators.text_analysis import (
        dsir_log_importance,
    )
    from data_mining_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    base = {
        r.doc_id: (r.n_tokens, r.log2_w)
        for r in dsir_log_importance(docs, "src0").collect()
    }
    shuffled = {
        r.doc_id: (r.n_tokens, r.log2_w)
        for r in dsir_log_importance(
            docs.repartition(7, "source").orderBy(F.col("doc_id").desc()),
            "src0",
        ).collect()
    }
    assert base == shuffled
