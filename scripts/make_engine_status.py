#!/usr/bin/env python
"""Generate ENGINE_STATUS.md: SURVEY.md §2 operator rows → registry
query names → last green driver round, derived mechanically from the
CORRECTNESS_r*.json artifacts (r9 verdict ask 8).

The §2-row → query-name mapping is maintained HERE (it is judgment,
not derivable), but everything else — existence of each query, its
oracle pairing, and its latest green round — is read from the live
registry and the driver artifacts, and the script FAILS if a mapped
name drifts out of the registry. Run per-round:

    python scripts/make_engine_status.py > /dev/null  # writes ENGINE_STATUS.md
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_mining_map_reduce_spark.queries import ORACLES, SPARK_QUERIES  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# SURVEY §2 row -> (operator label, registry query names, extra evidence)
# "pytest" in extra marks rows whose primary signal is a dedicated test
# (streaming/stateful paths with no SQL-expressible oracle).
SURVEY_ROWS: list[tuple[str, str, list[str], str]] = [
    ("S1", "JSON-lines scan (schema-pinned)", [], "pytest test_io round-trip"),
    ("S2", "CSV scan w/ header", [], "pytest test_io"),
    ("S3", "Headerless numeric/parquet scan", ["flagship_category_avg"], "every parquet query"),
    ("S4", "Chunked-dir incremental source", ["bfr_round_stats"], "pytest + pinned BFR counts"),
    ("S5", "Socket text stream source", [], "pytest loopback smoke"),
    ("S6", "External push source", [], "pytest end-to-end"),
    ("S7", "Driver-side JSON-dict sink", [], "pytest test_io"),
    ("S8", "Line-delimited JSON sink", [], "pytest test_io"),
    ("S9", "Text/CSV report sink", [], "pytest test_io"),
    ("S10", "Single-node no-Spark path", ["solo_flagship_parity"], "solo.py (r11): pyarrow+numpy twin, pytest parity vs Spark flagship"),
    ("S11", "ORC + gzipped-JSONL sources (r15)", [], "pytest round-trips: ORC pushdown plan-asserted; one task per .gz shard pinned"),
    ("P1", "Field projection", ["flagship_category_avg"], ""),
    ("P2", "Equality filter", ["basic_count_stats"], ""),
    ("P3", "Null filter", ["join_filter_brand_counts"], ""),
    ("P4", "Threshold filter on aggregate", ["cooccurrence_pairs"], ""),
    ("P5", "Distinct / dropDuplicates", ["basic_count_stats"], ""),
    ("P6", "Membership vs broadcast list", ["word_count_top20"], ""),
    ("J1", "Left outer equi-join", ["join_filter_brand_counts"], ""),
    ("J2", "Broadcast hash join", ["flagship_category_avg"], "plan-asserted (test_plans)"),
    ("J3", "Theta set-overlap join", ["cooccurrence_pairs"], "no-cartesian plan test"),
    ("J4", "LSH band-bucket candidate join", ["minhash_lsh_pairs"], ""),
    ("J5", "Broadcast NL join vs centroids", ["kmeans_wcss_check"], "pytest"),
    ("J6", "Unordered-pair dedup (a<b)", ["minhash_lsh_pairs", "jaccard_pairs_exact"], ""),
    ("J+", "Range join (engine extra)", ["event_value_tier_counts"], "BNLJ plan-asserted"),
    ("A1", "Global count", ["basic_count_stats"], ""),
    ("A2", "Count by key", ["basic_count_stats"], ""),
    ("A3", "Distinct count", ["basic_count_stats"], ""),
    ("A4", "Sum+count → average", ["flagship_category_avg", "avg_price_by_priority"], ""),
    ("A5", "collect_set baskets", ["baskets_by_customer"], ""),
    ("A6", "collect_list", ["order_item_lists"], ""),
    ("A7", "Word count", ["word_count_top20"], ""),
    ("A8", "Sufficient stats N/SUM/SUMSQ", ["suffstats_by_label"], ""),
    ("A9", "Vector mean centroid", ["kmeans_wcss_check"], "pytest"),
    ("A10", "MinHash signature", ["minhash_lsh_pairs"], "md5 hash replayed in DuckDB"),
    ("A11", "SON + FPGrowth itemsets", ["son_itemsets", "fpgrowth_itemsets"], "SON==FPGrowth bit-identical at sf1"),
    ("A12", "Approx distinct (FM/HLL/KMV)", ["fm_distinct_users", "kmv_distinct_users", "approx_distinct_users", "sketch_error_check"], ""),
    ("A13", "Bloom build + probe", ["bloom_probe_custkeys"], ""),
    ("A14", "Top-k with ties", ["top_users_by_orders", "top_customers_per_segment"], ""),
    ("A15", "Pearson CF (item & user)", ["cf_item_similarities", "cf_predictions", "cf_user_predictions"], ""),
    ("A16", "TF-IDF content-based", ["tfidf_top_terms", "content_based_scores"], ""),
    ("W", "Window functions (§2.5)", ["top_users_by_orders", "window_heavy_hitter_users"], ""),
    ("O1", "Multi-key sort", ["top_users_by_orders"], ""),
    ("O2", "Stable-sort idiom", ["largest_baskets"], "all ordered oracles"),
    ("O3", "take(k) after sort", ["top_users_by_orders"], "TakeOrderedAndProject plan-asserted"),
    ("O4", "Sort by derived keys", ["largest_baskets"], ""),
    ("U1", "Union (bag)", ["union_filtered_event_counts"], ""),
    ("U2", "Row-level set intersect/union", ["jaccard_pairs_exact"], ""),
    ("F1-F5", "lower/translate, split+explode, year, tokenize, JSON extract", ["flagship_category_avg", "event_props_extract", "priority_token_counts"], ""),
    ("F6-F7", "Stable int encode + hash family", ["train_test_split_counts"], ""),
    ("F8", "Trailing zeros", ["fm_distinct_users"], ""),
    ("F9-F10", "Euclidean / Mahalanobis", ["kmeans_wcss_check", "bfr_round_stats"], "pytest"),
    ("F11", "Jaccard", ["jaccard_pairs_exact"], ""),
    ("F12-F13", "floor-div; pow/sqrt/median/mean", ["doc_length_percentiles", "fm_distinct_users"], ""),
    ("F14", "k-combinations", ["frequent_pairs", "simhash_doc_pairs"], "Manku C(10,3) subset keys"),
    ("F15", "Timestamp formatting", ["event_rollup_multigrain"], ""),
    ("F16", "Modularity", ["gn_quality_check"], "pytest golden + sf1 Q parity"),
    ("ST1", "Micro-batch trigger", [], "pytest test_streaming"),
    ("ST2", "Sliding/tumbling/session windows", ["window_tumbling_hourly", "window_sliding_hourly", "session_windows_per_user"], ""),
    ("ST3", "Watermark / late data", [], "pytest cross-batch drop"),
    ("ST4", "Per-window distinct estimate", ["window_distinct_users"], ""),
    ("ST5", "foreachBatch sink", [], "pytest"),
    ("ST6", "Reservoir sample", ["reservoir_sample_events"], ""),
    ("ST7", "BFR chunked rounds", ["bfr_round_stats"], "pinned 4-round counts pytest"),
    ("ST8", "Per-key stateful op", [], "pytest parity + determinism"),
    ("G1", "Graph from co-occurrence", ["cooccurrence_pairs"], ""),
    ("G2", "Label propagation", ["graph_lpa_community_sizes"], "sf1 full oracle + distributed run"),
    ("G3", "Edge betweenness (Brandes)", ["graph_betweenness_top", "graph_betweenness_sampled", "betweenness_mass_check"], "sf1 forced-distributed parity"),
    ("G4", "Connected components", ["graph_components"], "sf1 distributed engagement"),
    ("G5", "Girvan-Newman modularity loop", ["girvan_newman_communities", "gn_quality_check"], "pytest golden"),
    ("M1", "K-Means", ["kmeans_cluster_sizes", "kmeans_wcss_check"], ""),
    ("M2", "BFR full pipeline", ["bfr_round_stats"], "structural + NMI pytest"),
    ("M3", "MinHash+LSH self-join", ["minhash_lsh_pairs"], "recall >= 0.9 pytest; sf1 recall 1.0"),
    ("M4", "Reservoir sampling", ["reservoir_sample_events", "weighted_doc_sample"], ""),
]

EXTENSION_ROWS: list[tuple[str, str, list[str], str]] = [
    ("X1", "Exact dedup", ["exact_dup_doc_groups"], ""),
    ("X2", "MinHash-LSH near-dup", ["near_dup_docs_lsh", "minhash_lsh_pairs"], "sf1 recall 1.0 vs exact twin"),
    ("X3", "SimHash near-dup", ["simhash_doc_pairs"], "Manku 3-subset keys (r9)"),
    ("X4", "Winnowing fingerprints", ["doc_fingerprint_stats", "fingerprint_overlap_pairs"], ""),
    ("X5", "Exact cosine top-k", ["ann_topk_exact"], ""),
    ("X6", "Hyperplane-LSH ANN", ["ann_topk_lsh"], "recall pytest"),
    ("X7", "IVF ANN", ["ann_topk_ivf", "ann_recall_check"], ""),
    ("X8", "Embedding near-dup", ["embedding_pair_distances"], ""),
    ("X9", "TF-IDF profiles", ["tfidf_top_terms"], ""),
    ("X10", "Doc quality stats", ["doc_quality_stats"], ""),
    ("X11", "Language ID", ["language_id_docs"], ""),
    ("X12", "Token counting", ["token_counts_docs"], ""),
    ("X13", "User CF + LSH prefilter", ["cf_user_predictions", "cf_user_predictions_lsh"], ""),
    ("X14", "Content-based rec", ["content_based_scores"], ""),
    ("X15", "Multimodal columns", ["media_feature_rollup", "media_frame_sample"], "real PPM/BMP/PNG/GIF/baseline-JPEG image + WAV PCM audio decode (GIF/JPEG/WAV r11)"),
    ("X16", "Dedup pipeline (CC canonical)", ["dedup_canonical_docs", "dedup_canonical_docs_lsh", "dedup_keep_best_docs"], "r16: quality-aware keep-best canonical (window argmax per cluster, FULL oracle)"),
    ("X17", "Streaming dedup", [], "pytest cross-batch drop + parity"),
    ("X18", "Prefix-filtered exact set join", ["jaccard_pairs_exact", "near_dup_docs_exact"], "Hypothesis fuzz"),
    ("X19", "Skew/layout utils", ["partition_layout_stats"], "zero-Exchange plan pytest"),
    ("X20", "As-of join", ["asof_last_purchase"], ""),
    ("X21", "Deterministic split", ["train_test_split_counts"], ""),
    ("X22", "Weighted stratum sampling", ["weighted_doc_sample"], ""),
    ("X23", "Corpus curation funnel", ["corpus_curation_funnel", "corpus_curation_funnel_semantic", "corpus_curation_funnel_modelq"], "per-stage linear twins oracle-green at sf1; r16: optional SemDeDup stage (X32 stacked); r17: optional model-based quality stage (X36 stacked)"),
    ("X24", "KMV sketch", ["kmv_distinct_users"], ""),
    ("X25", "Count-Min heavy hitters", ["cm_heavy_hitter_partkeys", "window_heavy_hitter_users"], ""),
    ("X26", "IVF-PQ ANN", ["ann_topk_ivfpq", "ann_recall_check"], ""),
    ("X27", "Contamination detection + removal", ["contamination_ngram_overlap", "decontaminated_corpus_stats"], "r16: kept/dropped rollup + zero-residual re-scan, FULL oracle, planted probe pinned"),
    ("X28", "Repetition score", ["doc_repetition_scores"], ""),
    ("X29", "Mergeable quantile sketch", ["doc_length_percentiles_approx", "sketch_error_check"], ""),
    ("X30", "Exact-substring (8-gram span) dup discovery", ["duplicate_ngram_spans"], "r11: Lee-et-al-style span reach, all-codegen expansion"),
    ("X31", "PII scan (email/phone/IPv4/SSN/Luhn-card)", ["pii_scan_stats"], "r11: planted '_probe_pii' docs; Java-regex vs RE2 agreement pytest-pinned; r16: SSN + Luhn-checked card stages, probe counts pinned"),
    ("X32", "Semantic dedup (SemDeDup)", ["semantic_dedup_docs"], "r15: per-cluster pandas gram pairs + CC; refinement/recall pytests; sf1/sf10 receipts"),
    ("X33", "DSIR importance weights + resampling", ["doc_dsir_weights", "dsir_resampled_docs"], "r15: smoothed unigram likelihood ratio vs target slice, FULL oracle; hand-computed + discrimination pytests; r16: log-domain A-ES resample completes the paper's deliverable"),
    ("X34", "Sequence packing", ["packed_sequence_stats", "packed_sequence_stats_bpe"], "r16: concat-and-chunk shard manifest, two-phase distributed prefix sum (zero SinglePartition), FULL oracle + layout-invariance pytest; r17: learned-BPE-count twin"),
    ("X35", "Domain-mixture reweighting", ["domain_mixture_weights"], "r16: natural vs target token shares -> sampling weights (The Pile's epochs), FULL oracle"),
    ("X36", "Model-based quality filter", ["quality_filter_stats"], "r16: GPT-3 appendix-A LR on HashingTF features, balanced weights, deterministic md5 Pareto keep rule; discrimination + keep-rule pytests"),
    ("X37", "BPE tokenizer (pair counts + merge loop + encoder)", ["bpe_pair_counts", "bpe_learned_merges", "bpe_token_counts"], "r16: Sennrich iteration-one pair counts; r17: full merge loop + rank-order encoder, FULL oracles via iterated list_reduce CTE chain + pure-Python-reference parity pytests"),
    ("X38", "Perceptual media dedup", ["media_phash_pairs", "media_dedup_canonical"], "r16: dHash over the real decoders + Manku Hamming banding; planted-pair + fallback pytests; r17: pairs -> CC -> keep-best canonical per perceptual cluster"),
]


def last_green() -> dict[str, str]:
    """name -> 'rN' (hash-green) or 'rN rows' (rows-only row), from
    the newest round backwards. A name whose NEWEST driver row is
    hash-RED is flagged '**rN RED** (last green rM)' — an older green
    row must never paper over a current red one (the r10 verdict
    caught exactly that: cf_item_similarities showed 'r8' while its
    r10 row was red)."""
    out: dict[str, str] = {}
    red: dict[str, str] = {}
    for path in sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    ):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        data = json.load(open(path))
        for name, row in data.items():
            if name in out:
                continue
            if row.get("hash_match") is True:
                out[name] = f"r{rnd}"
            elif row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) >= 0:
                out[name] = f"r{rnd} rows"
            elif name not in red and (
                row.get("hash_match") is False or row.get("err")
            ):
                red[name] = f"r{rnd}"
    for name, rnd in red.items():
        green = out.get(name)
        out[name] = (
            f"**{rnd} RED** (last green {green})"
            if green
            else f"**{rnd} RED** (never green)"
        )
    return out


def main() -> None:
    greens = last_green()
    unknown = [
        q
        for _, _, qs, _ in SURVEY_ROWS + EXTENSION_ROWS
        for q in qs
        if q not in SPARK_QUERIES
    ]
    if unknown:
        raise SystemExit(f"mapped query names not in registry: {unknown}")

    def fmt(qs: list[str], extra: str) -> tuple[str, str]:
        names = ", ".join(f"`{q}`" for q in qs) if qs else "—"
        # RED-flagged entries sort FIRST regardless of round: a row
        # with any currently-red query must show it
        def key(s: str) -> tuple[int, int, str]:
            rnd = int(re.search(r"r(\d+)", s).group(1))
            return (0 if "RED" in s else 1, -rnd, s)

        seen = sorted({greens[q] for q in qs if q in greens}, key=key)
        if extra.startswith("n/a"):
            green = "n/a"
        else:
            green = seen[0] if seen else ("pytest" if not qs else "—")
        return names, green

    lines = [
        "# ENGINE STATUS — generated by scripts/make_engine_status.py",
        "",
        "Mechanically regenerated per round from the NEWEST",
        "CORRECTNESS_r*.json present (the r10 verdict's ordering fix:",
        "regenerate at round open AND after the driver writes the new",
        "artifact, so the committed table always reflects the newest",
        "round on disk). Rows whose primary evidence is a dedicated",
        "pytest (streaming, sinks) say so. `rN` = hash-green in",
        "CORRECTNESS_rN; `rN rows` = rows-only driver row (no",
        "SQL-expressible oracle); `**rN RED**` = that query's newest",
        "driver row is hash-red — an older green never papers over a",
        "current red.",
        "",
        f"Registry: **{len(SPARK_QUERIES)} named queries, "
        f"{len(ORACLES)} with DuckDB oracle SQL** "
        "(count pinned by tests/test_registry.py).",
        "",
        "## SURVEY §2 operator rows",
        "",
        "| row | operator | registry queries | last green | extra evidence |",
        "|---|---|---|---|---|",
    ]
    for rid, label, qs, extra in SURVEY_ROWS:
        names, green = fmt(qs, extra)
        lines.append(f"| {rid} | {label} | {names} | {green} | {extra} |")
    lines += [
        "",
        "## LLM-pipeline extension rows (SURVEY §2.13)",
        "",
        "| row | component | registry queries | last green | extra evidence |",
        "|---|---|---|---|---|",
    ]
    for rid, label, qs, extra in EXTENSION_ROWS:
        names, green = fmt(qs, extra)
        lines.append(f"| {rid} | {label} | {names} | {green} | {extra} |")

    lines += [
        "",
        "## Per-query last green driver row",
        "",
        "| query | oracle | last green |",
        "|---|---|---|",
    ]
    for name in SPARK_QUERIES:
        lines.append(
            f"| `{name}` | {'yes' if name in ORACLES else 'rows-only'} | "
            f"{greens.get(name, '—')} |"
        )
    never = [n for n in SPARK_QUERIES if n not in greens]
    lines += [
        "",
        f"Queries without any driver row yet: "
        f"{', '.join(f'`{n}`' for n in never) if never else 'none'}.",
        "",
    ]
    out_path = os.path.join(REPO, "ENGINE_STATUS.md")
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}: {len(SURVEY_ROWS)} survey rows, "
          f"{len(EXTENSION_ROWS)} extension rows, {len(SPARK_QUERIES)} queries")


if __name__ == "__main__":
    main()
