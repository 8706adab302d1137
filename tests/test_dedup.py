"""Dedup block: exact content-hash groups, MinHash-LSH and SimHash
near-dup over documents — planted-duplicate recall, mirroring the
reference's LSH grading (A3 PDF §4.1.4 accuracy >= 0.8)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.operators.dedup import (
    doc_shingles,
    exact_duplicate_groups,
    fingerprint_overlap_pairs,
    hamming_band_pairs,
    simhash_near_dup_pairs,
    winnow_fingerprints,
)
from data_mining_map_reduce_spark.operators.similarity import (
    exact_jaccard_pairs,
    minhash_lsh_pairs,
)
from data_mining_map_reduce_spark.sources.catalog import load_table

SF_CORRECT = "/root/testdata/sf0.01"


def test_exact_dup_groups_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox."),
            (2, "the quick brown fox"),   # same after normalize
            (3, "THE QUICK, BROWN FOX!"),  # same after normalize
            (4, "a different document entirely"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.canonical_id, r.group_size)
            for r in exact_duplicate_groups(docs).collect()}
    assert rows[1] == (1, 3) and rows[2] == (1, 3) and rows[3] == (1, 3)
    assert rows[4] == (4, 1)


def test_lsh_near_dup_recall_on_planted_docs(spark):
    """documents carries generator-planted near-dups; the LSH path
    must recover >= 90% of exact-Jaccard>=0.5 pairs with precision 1
    (verify step filters at the same threshold)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    sh = doc_shingles(docs).cache()
    exact = {
        (r.a, r.b)
        for r in exact_jaccard_pairs(
            sh.select("doc_id", F.explode("shingles").alias("s")),
            "doc_id",
            "s",
            threshold=0.5,
        ).collect()
    }
    lsh = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            sh, "doc_id", "shingles", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert len(exact) > 0
    assert lsh <= exact  # precision 1.0 (same verify threshold)
    assert len(lsh & exact) / len(exact) >= 0.9


def test_simhash_separates_planted_from_random(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper() + "."),            # exact dup after normalize
            (3, "totally unrelated words " * 12 + "omicron pi rho sigma"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.a, r.b): r.hamming for r in simhash_near_dup_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_query_finds_planted_docs(spark):
    """At hamming<=7 with 8 bands, recall at that radius is 1.0 by
    pigeonhole; most of the corpus's planted near-dups (hamming 0-10
    at Jaccard 0.9+) must surface."""
    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = simhash_near_dup_pairs(docs).collect()
    assert len(pairs) >= 15
    # every reported pair is within the radius
    assert all(r.hamming <= 7 for r in pairs)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's defining property (Schleimer et al. SIGMOD 2003
    thm.): any shared substring of length >= k + w - 1 (= 11 chars
    here) produces at least one shared fingerprint. Disjoint-alphabet
    docs share nothing."""
    shared = "zqxjkvwpbyfgmdhn"  # 16 chars >> 11, no ws/punct
    docs = spark.createDataFrame(
        [
            (1, f"aaaa {shared} bbbb"),
            (2, f"cccc dddd {shared}"),
            (3, "eeee ffff gggg hhhh iiii jjjj"),
        ],
        "doc_id long, text string",
    )
    fps = {
        did: {r.fp for r in grp}
        for did, grp in __import__("itertools").groupby(
            sorted(winnow_fingerprints(docs).collect(), key=lambda r: r.doc_id),
            key=lambda r: r.doc_id,
        )
    }
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_short_doc_edge_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, "abc"),          # < k chars: no fingerprints
            (2, "abcdefgh"),     # exactly k: one gram, one fp (pos=1)
            (3, "abcdefghi"),    # 2 grams < window: global min via pos=1
        ],
        "doc_id long, text string",
    )
    got = winnow_fingerprints(docs).groupBy("doc_id").count().collect()
    counts = {r.doc_id: r["count"] for r in got}
    assert 1 not in counts
    assert counts[2] == 1
    assert counts[3] == 1


def test_fingerprint_overlap_finds_planted_near_dups(spark):
    """The planted near-dup doc pairs share long verbatim substrings,
    so fingerprint overlap must recover most of the exact-Jaccard
    ground-truth pairs (>= 0.8, the A3 grading bar)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    shingled = doc_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    truth = {
        (r.a, r.b)
        for r in exact_jaccard_pairs(
            shingled, "doc_id", "shingle", threshold=0.5
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in fingerprint_overlap_pairs(docs).collect()
    }
    assert truth, "planted pairs missing from testdata?"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, recall


def test_word_ngrams_short_input_guard(spark):
    from data_mining_map_reduce_spark.functions.text import word_ngrams

    df = spark.createDataFrame([("one two",), ("a b c d",)], "t string")
    out = df.select(
        word_ngrams(F.split("t", " "), 3).alias("g")
    ).collect()
    assert out[0].g == []
    assert out[1].g == ["a b c", "b c d"]


def test_dedup_lsh_pipeline_refines_exact(spark, sf_dir):
    """X16 scale path: LSH-candidate dedup clusters must REFINE the
    exact pipeline's clusters — verify-after-bucket keeps precision
    1.0, so banding recall < 1 can only split groups (missed edges),
    never merge docs the exact pipeline keeps apart."""
    from data_mining_map_reduce_spark.queries import (
        dedup_canonical_docs,
        dedup_canonical_docs_lsh,
    )

    exact = {
        r.doc_id: r.canonical_id
        for r in dedup_canonical_docs(spark, sf_dir).collect()
    }
    lsh = {
        r.doc_id: r.canonical_id
        for r in dedup_canonical_docs_lsh(spark, sf_dir).collect()
    }
    assert set(exact) == set(lsh)  # every doc assigned in both
    by_lsh_group: dict[int, set[int]] = {}
    for doc, canon in lsh.items():
        by_lsh_group.setdefault(canon, set()).add(doc)
    for members in by_lsh_group.values():
        assert len({exact[d] for d in members}) == 1, members
    # and the LSH pipeline actually merged something (non-degenerate)
    assert any(len(m) > 1 for m in by_lsh_group.values())


def test_corpus_curation_funnel_invariants(spark, sf_dir):
    """The composed curation pipeline is a funnel: each stage's doc
    and token counts are <= the previous stage's, stage 0 equals the
    raw corpus, and every stage actually exists in order. Value-level
    correctness is the DuckDB oracle's job (driver contract)."""
    from data_mining_map_reduce_spark.queries import (
        corpus_curation_funnel,
        load_table,
    )

    rows = corpus_curation_funnel(spark, sf_dir).collect()
    assert [r.stage for r in rows] == [
        "raw", "exact_dedup", "near_dedup", "quality", "lang_en",
    ]
    assert [r.stage_idx for r in rows] == [0, 1, 2, 3, 4]
    n_raw = load_table(spark, sf_dir, "documents").count()
    assert rows[0].n_docs == n_raw
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
    # non-degenerate on the test corpus: something survives to the end
    assert rows[-1].n_docs > 0


def test_corpus_curation_funnel_semantic_stage(spark):
    """X32 × X23 (r16): the funnel with embedding-level SemDeDup
    stacked after the text stages. The first five stages must be
    IDENTICAL to the text-only funnel (the semantic stage is purely
    additive), the new stage must keep the funnel monotone, and the
    exact-variant stage counts are pinned at sf0.01 (deterministic:
    md5 hash families + seeded k-means)."""
    from data_mining_map_reduce_spark.queries import (
        _corpus_funnel_impl,
        corpus_curation_funnel_semantic,
    )

    sf01 = "/root/testdata/sf0.01"
    sem = corpus_curation_funnel_semantic(spark, sf01).collect()
    assert [r.stage for r in sem] == [
        "raw", "exact_dedup", "near_dedup", "quality", "lang_en",
        "semantic_dedup",
    ]
    assert [r.stage_idx for r in sem] == [0, 1, 2, 3, 4, 5]
    base = _corpus_funnel_impl(spark, sf01, lsh=True).collect()
    for b, s in zip(base, sem[:5]):
        assert (b.n_docs, b.n_tokens) == (s.n_docs, s.n_tokens)
    for prev, cur in zip(sem, sem[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
    assert sem[5].n_docs > 0
    # exact-variant pinned counts (sf0.01): semantic stage drops 29
    # of the 401 lang_en survivors
    exact = _corpus_funnel_impl(spark, sf01, lsh=False, semantic=0.4).collect()
    assert [(r.n_docs, r.n_tokens) for r in exact] == [
        (500, 27165), (500, 27165), (476, 25901),
        (426, 24522), (401, 23776), (372, 22076),
    ]


def test_corpus_curation_funnel_modelq_stage(spark):
    """X36 × X23 (r17): the funnel with the GPT-3 model-based quality
    filter stacked after the heuristic stages. The first five stages
    must be IDENTICAL to the text-only LSH funnel (the stage is
    purely additive), the new stage must keep the funnel monotone and
    non-degenerate, and the full stage counts are pinned at sf0.01
    (deterministic: md5 hash families, seeded L-BFGS, md5-Pareto
    draw)."""
    from data_mining_map_reduce_spark.queries import (
        _corpus_funnel_impl,
        corpus_curation_funnel_modelq,
    )

    sf01 = "/root/testdata/sf0.01"
    mq = corpus_curation_funnel_modelq(spark, sf01).collect()
    assert [r.stage for r in mq] == [
        "raw", "exact_dedup", "near_dedup", "quality", "lang_en",
        "model_quality",
    ]
    assert [r.stage_idx for r in mq] == [0, 1, 2, 3, 4, 5]
    base = _corpus_funnel_impl(spark, sf01, lsh=True).collect()
    for b, s in zip(base, mq[:5]):
        assert (b.n_docs, b.n_tokens) == (s.n_docs, s.n_tokens)
    for prev, cur in zip(mq, mq[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
    # pinned counts (sf0.01): alpha=9 Pareto keep rule retains 21 of
    # the 401 lang_en survivors — the recipe's aggressive cut
    assert [(r.n_docs, r.n_tokens) for r in mq] == [
        (500, 27165), (500, 27165), (476, 25901),
        (426, 24522), (401, 23776), (21, 1468),
    ]


def test_corpus_curation_funnel_lsh_refines_exact(spark, sf_dir):
    """The LSH funnel twin (r10 — added after the sf10 probe measured
    the exact variant exhausting local disk at 500 k docs) drops a
    SUBSET of the exact variant's near-dup drops (verify-after-bucket
    gives precision 1.0; banding can only MISS true pairs), so every
    stage's surviving doc/token counts are >= the exact funnel's, the
    raw and exact_dedup stages are IDENTICAL (those stages don't
    depend on the pair source), and the funnel invariant holds."""
    from data_mining_map_reduce_spark.queries import (
        corpus_curation_funnel,
        corpus_curation_funnel_lsh,
    )

    exact = corpus_curation_funnel(spark, sf_dir).collect()
    lsh = corpus_curation_funnel_lsh(spark, sf_dir).collect()
    assert [r.stage for r in lsh] == [
        "raw", "exact_dedup", "near_dedup", "quality", "lang_en",
    ]
    for e, l in zip(exact[:2], lsh[:2]):  # pair-source-independent stages
        assert (e.n_docs, e.n_tokens) == (l.n_docs, l.n_tokens)
    for e, l in zip(exact, lsh):
        assert l.n_docs >= e.n_docs
        assert l.n_tokens >= e.n_tokens
    for prev, cur in zip(lsh, lsh[1:]):  # still a funnel
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
    # 64x32 banding at s>=0.5 should be near-lossless on the planted
    # corpus: identical near-dedup survivors here (deterministic md5
    # family — a fixed outcome, not a flaky sample).
    assert lsh[2].n_docs == exact[2].n_docs


@pytest.mark.parametrize(
    "hash_bits, bands, radius, by",
    [
        (60, 10, 7, ()),
        (64, 8, 6, ()),
        (64, 8, 6, ("grp",)),
    ],
)
def test_hamming_band_pairs_equals_brute_force(
    spark, hash_bits, bands, radius, by
):
    """Pigeonhole banding has recall 1.0 and the popcount verify has
    precision 1.0, so the result is exactly the all-pairs set within
    the radius (restricted to equal ``by`` values). Each random
    fingerprint gets variants at 0..radius+3 random flipped bits and
    variants at radius and radius+1 bits flipped in distinct bands —
    the fewest intact bands a pair within the radius can have."""
    rng = random.Random(hash_bits * 100 + len(by))
    width = hash_bits // bands
    vals = []
    for _ in range(25):
        base = rng.getrandbits(hash_bits)
        vals.append(base)
        for _ in range(2):
            flips = rng.sample(range(hash_bits), rng.randint(0, radius + 3))
            vals.append(base ^ sum(1 << i for i in flips))
        for n_flips in (radius, radius + 1):
            flips = [
                band * width + rng.randrange(width)
                for band in rng.sample(range(bands), n_flips)
            ]
            vals.append(base ^ sum(1 << i for i in flips))

    def signed(v):  # 64-bit values ride a Spark long as two's complement
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [(i, signed(v), rng.randint(0, 1)) for i, v in enumerate(vals)]
    fp = spark.createDataFrame(rows, "id long, h long, grp int")
    got = {
        (r.a, r.b, r.hamming)
        for r in hamming_band_pairs(
            fp, "id", "h", hash_bits, bands, radius, by=by
        ).collect()
    }
    want = set()
    for i, vi, gi in rows:
        for j, vj, gj in rows:
            d = bin((vi ^ vj) & ((1 << 64) - 1)).count("1")
            if i < j and d <= radius and (not by or gi == gj):
                want.add((i, j, d))
    assert len(want) > 20
    assert got == want
