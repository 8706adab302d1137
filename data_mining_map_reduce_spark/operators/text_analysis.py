"""Text-analysis operators: TF-IDF profiles, document quality stats,
language-ID heuristic (SURVEY §2.4 A16 + the LLM-pipeline text block).

A16 is spec-only in the reference (A3 PDF §4.2: concat reviews per
business, top-200 TF-IDF terms with tf normalized by the doc's max
term frequency) — no code to mirror, so the engine implements the
PDF's formula directly: tfidf(t, d) = (tf(t,d) / max_tf(d)) ·
ln(N / df(t)).

Everything is DataFrame-native: tokenization explodes in codegen,
TF is one groupBy, max-tf a window max (no extra join), DF a
broadcast-joined term table (vocabulary ≪ corpus), ranking a window.
At 100 TB the only big shuffle is the (doc, term) TF groupBy, which
partitions on the pair key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, normalize, tokenize


def doc_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term) — one row per token occurrence."""
    return docs.select(
        F.col(id_col),
        F.explode(tokenize(normalize(F.col(text_col)))).alias("term"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document →
    (doc_id, term, tfidf, rnk). Rank on the rounded score with term
    tie-break for cross-engine reproducibility."""
    terms = doc_terms(docs, id_col, text_col)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    max_tf = F.max("tf").over(Window.partitionBy(id_col))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("max_tf", max_tf)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                (F.col("tf") / F.col("max_tf"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def doc_quality_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality signals for corpus filtering: token count,
    mean token length, stopword ratio, distinct-token ratio. One
    scan, no shuffle; the token array gets its own stacked projection
    (r17, the doc_shingles idiom) — the four signal expressions
    reference it seven times and the HOF aggregates run interpreted,
    so an inlined tokenize would re-run the regex split per
    reference. Same rows, same values."""
    toks = F.col("_toks")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toksed = docs.select(
        F.col(id_col), tokenize(normalize(F.col(text_col))).alias("_toks")
    )
    return toksed.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
            )
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(toks))
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            6,
        ).alias("distinct_ratio"),
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, and
# punctuation/symbol runs as separate tokens (the GPT-2 pretokenizer
# family, minus lookahead so the same pattern runs on Java regex and
# RE2 — both support \p{L}/\p{N} classes). Counting these
# approximates subword-token cost far better than whitespace words.
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc token counting for pipeline cost estimation:
    whitespace word count and BPE-ish regex token count. One codegen
    projection — no shuffle, no UDF."""
    txt = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(tokenize(txt)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_ISH_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
    )


# Tiny per-language stopword profiles for the heuristic classifier.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "no", "para"),
}


def language_pred_exprs_from_tokens(toks) -> "tuple":
    """(pred_lang, best_score) COLUMN expressions over an existing
    token-array column or expression: profile-coverage argmax,
    first-profile tie-break. Exposed so composed pipelines
    (corpus_curation_funnel) can evaluate the classifier inside an
    existing projection instead of paying a second scan + join of
    the documents table. Pass a token COLUMN, not an inlined
    ``tokenize(normalize(text))``: the HOF scoring tree runs
    interpreted, and every reference to an inlined tokenize re-runs
    the regex split."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")

    def _in_profile(profile):
        # closure factory: PySpark derives lambda arity from the
        # signature, so default-arg capture would be misread as a
        # two-argument (value, index) higher-order function
        arr = F.array(*[F.lit(w) for w in profile])
        return lambda t: F.array_contains(arr, t)

    scores = [
        (lang, F.size(F.filter(toks, _in_profile(profile))) / n_tok)
        for lang, profile in _LANG_PROFILES.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    pred = F.when(best_score <= 0, F.lit("und"))
    for lang, s in scores:
        pred = pred.when(s == best_score, F.lit(lang))
    return pred, best_score


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID: the language whose stopword profile
    covers the largest fraction of the doc's tokens ('und' for
    unknown when nothing matches). The token array gets its own
    stacked projection (r17): the scoring tree references it ~25
    times and runs interpreted, so an inlined tokenize would re-run
    the regex split per reference; as a column it is a cheap bound
    reference. Same rows, same scores."""
    toksed = docs.select(
        F.col(id_col), tokenize(normalize(F.col(text_col))).alias("_toks")
    )
    pred, best_score = language_pred_exprs_from_tokens("_toks")
    return toksed.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        F.round(best_score, 6).alias("score"),
    )


def lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Unigram-LM perplexity per document — the CCNet-style corpus
    quality filter (an LM is fit on the corpus, documents are ranked
    by how surprising the LM finds them; here the LM is the corpus's
    own unigram distribution, so no external model or smoothing is
    needed: every token has support by construction).

    Output: (id_col, n_tokens, ppl) for every document with >= 1
    token, where ppl = 2^H and H = -(1/n)·Σ log2 p(tok), p from
    corpus token frequencies over the same normalize+tokenize the
    rest of the text family uses (functions/text.py — identical
    DuckDB replay, so the oracle is FULL).

    Plan shape for 100 TB: tokens reduce to per-doc COUNTS first
    (one shuffle on (doc, tok) — in-doc repetition collapses before
    anything else sees the data), the vocabulary aggregates from that
    reduced relation (slim localCheckpoint pin: two consumers), the
    corpus total rides a 1-row broadcast, and the Zipf-skewed
    vocab join keys are AQE skew-split like every hot join here.
    All expressions are codegen (log2/pow) — no UDFs.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(normalize(F.col(text_col)))).alias("tok")
    )
    dtc = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    if materialize:
        # slim (id, tok, c) relation read by BOTH the vocab aggregate
        # and the scoring join — pin it so the explode runs once
        # (materialize=False keeps the pure lineage for plan tests)
        dtc = dtc.localCheckpoint(eager=False)
    vocab = dtc.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    surprise = F.col("c") * -F.log2(F.col("cnt") * F.lit(1.0) / F.col("n"))
    return (
        dtc.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                F.pow(F.lit(2.0), F.sum(surprise) / F.sum("c")), 4
            ).alias("ppl"),
        )
    )


def source_token_kl(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Token-distribution drift per corpus slice: KL(P_slice ‖
    P_corpus) in bits — the standard monitor for corpus mixing and
    source drift in training-data pipelines (a slice whose unigram
    distribution diverges from the blend is over/under-weighted or
    contaminated). The corpus is the base measure, so every slice
    token has support by construction — exact, no smoothing, fully
    SQL-replayable (FULL oracle).

    Rounding headroom (ADVICE r14, verified r15): kl_bits rounds to
    6 dp on a float sum whose accumulation order could differ between
    engines, but the measured cross-engine delta at sf0.01 is
    <= 1.6e-17 while the closest slice value sits 9.3e-9 from a 6-dp
    rounding boundary — ~10^8x headroom, the same order as
    doc_lm_perplexity's documented 4-dp slack. A flipped 6th decimal
    would need an accumulation divergence eight orders of magnitude
    above anything measured.

    Output: (group_col, n_tokens, kl_bits), one row per slice with
    >= 1 token. Plan shape for 100 TB: tokens collapse to per-(slice,
    token) counts in ONE shuffle (the pinned slim relation below
    feeds all three aggregates), slice totals and corpus token totals
    aggregate FROM that reduced relation, and the final join is
    slice-count-sized on one side; everything is codegen (log2), no
    UDFs."""
    toks = docs.select(
        F.col(group_col), F.explode(tokenize(normalize(F.col(text_col)))).alias("tok")
    )
    stc = toks.groupBy(group_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    if materialize:
        # slim (slice, tok, c): three consumers (slice totals, corpus
        # token totals, the scoring join) — pin so the explode runs once
        stc = stc.localCheckpoint(eager=False)
    stot = stc.groupBy(group_col).agg(F.sum("c").alias("n"))
    ctc = stc.groupBy("tok").agg(F.sum("c").alias("cc"))
    ctot = stc.agg(F.sum("c").alias("nc"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    q = F.col("cc") * F.lit(1.0) / F.col("nc")
    return (
        stc.join(F.broadcast(stot), group_col)
        .join(ctc, "tok")
        .crossJoin(F.broadcast(ctot))
        .groupBy(group_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
        )
    )


def dsir_log_importance(
    docs: DataFrame,
    target_value: str,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """DSIR-style per-document log importance weight (Xie et al.
    2023, arXiv:2302.03169 "Data Selection for Language Models via
    Importance Resampling"): score every document by how much more
    likely its tokens are under the TARGET slice's unigram
    distribution than under the whole corpus's —

        log_w(d) = Σ_t∈d  log2( p_target(t) / p_corpus(t) )

    summed over token OCCURRENCES, with add-one smoothing over the
    corpus vocabulary on both estimates (p(t) = (c(t)+1)/(n+V)), so
    out-of-target tokens are finite and the whole computation is
    integer counts + log2 — exact, deterministic, and fully
    SQL-replayable (FULL oracle). Downstream, sampling ∝ exp(log_w)
    is importance resampling toward the target domain; the engine's
    weighted/stratified samplers (X22, stratified_doc_sample) compose
    directly.

    ``target_value``: the slice of ``group_col`` that defines the
    target distribution (DSIR's "target set" — here a corpus slice,
    e.g. a trusted source; the paper uses hashed n-gram features, this
    engine scores exact unigrams — same estimator family, checkable
    hash-free).

    Output: (id_col, n_tokens, log2_w) for every document with >= 1
    token, log2_w rounded to 4 dp (doc_lm_perplexity's documented
    tolerance tier; per-token weights are O(1)-magnitude logs summed
    ~doc-length times, and the measured cross-engine delta on this
    family is <= 1e-12).

    Plan shape for 100 TB: tokens collapse once to the slim
    (doc, slice, token, count) relation — pinned, it feeds all three
    aggregates (corpus token counts, target token counts, the scoring
    join) — then per-token weights are vocabulary-sized and join back
    on the token key; the final aggregate is one groupBy(doc). All
    codegen (log2), no UDFs, linear in token volume.
    """
    toks = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(tokenize(normalize(F.col(text_col)))).alias("tok"),
    )
    dtc = toks.groupBy(id_col, group_col, "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    if materialize:
        # slim (doc, slice, tok, c): three consumers — pin so the
        # explode runs once (source_token_kl precedent)
        dtc = dtc.localCheckpoint(eager=False)
    corpus = dtc.groupBy("tok").agg(F.sum("c").alias("cc"))
    target = (
        dtc.where(F.col(group_col) == target_value)
        .groupBy("tok")
        .agg(F.sum("c").alias("ct"))
    )
    totals = dtc.agg(
        F.sum("c").alias("nc"),
        F.sum(F.when(F.col(group_col) == target_value, F.col("c")).otherwise(0)).alias(
            "nt"
        ),
        F.count_distinct("tok").alias("v"),
    )
    # per-token weight over the corpus vocabulary; tokens absent from
    # the target slice get the smoothed floor 1/(nt+V)
    weights = (
        corpus.join(target, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.log2(
                ((F.coalesce("ct", F.lit(0)) + 1) * F.lit(1.0) / (F.col("nt") + F.col("v")))
                / ((F.col("cc") + 1) * F.lit(1.0) / (F.col("nc") + F.col("v")))
            ).alias("w"),
        )
    )
    return (
        dtc.join(weights, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("c") * F.col("w")), 4).alias("log2_w"),
        )
    )


def domain_mixture_weights(
    docs: DataFrame,
    target: dict[str, float] | None = None,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture reweighting — the knob every LLM data recipe
    turns (The Pile's per-set epochs, Gao et al. 2020 arXiv:2101.00027
    table 1; LLaMA's per-source sampling proportions, Touvron et al.
    2023 arXiv:2302.13971 table 1; DoReMi optimizes the same weights,
    Xie et al. 2023 arXiv:2305.10429): given the corpus's NATURAL
    per-domain token shares and a TARGET mixture, emit per-domain
    sampling weights.

    ``target``: mapping domain -> target share (need not be
    normalized; it is here). ``None`` = uniform over the observed
    domains — the flattening recipe.

    Per domain: (n_docs, n_tokens, natural_share, target_share,
    weight, budget_tokens) where ``weight = target_share /
    natural_share`` is the sampling multiplier (== effective epochs
    at a corpus-sized token budget: weight > 1 upsamples/repeats,
    < 1 subsamples — The Pile's "epochs" column is exactly this
    number) and ``budget_tokens = round(target_share * total)`` is
    the domain's token allocation at that budget. One scan + one
    tiny groupBy; the target map enters as a literal expression, so
    the whole computation is codegen and SQL-replayable (shares and
    weights rounded to 6dp on both engines).

    A domain whose documents all tokenize to zero tokens has
    ``natural_share = 0``; its ``weight`` is NULL (``try_divide`` —
    the sampling multiplier is undefined, there is nothing to
    upsample) rather than an ANSI DIVIDE_BY_ZERO failure, and the
    domain still gets its row. DuckDB's float ``x / 0`` is already
    NULL, so the oracle matches without a guard (r16 ADVICE item 1).
    """
    per = (
        docs.select(
            F.col(group_col), F.size(tokenize(F.col(text_col))).alias("_n")
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    natural = F.try_divide(F.col("n_tokens"), F.sum("n_tokens").over(w_all))
    if target is None:
        tgt = F.lit(1.0) / F.count(F.lit(1)).over(w_all)
    else:
        total_t = float(sum(target.values()))
        expr = F.lit(0.0)
        for k_dom, v in sorted(target.items()):
            expr = F.when(F.col(group_col) == k_dom, F.lit(v / total_t)).otherwise(
                expr
            )
        tgt = expr
    return per.select(
        F.col(group_col),
        "n_docs",
        "n_tokens",
        F.round(natural, 6).alias("natural_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(F.try_divide(tgt, natural), 6).alias("weight"),
        F.round(tgt * F.sum("n_tokens").over(w_all)).cast("bigint").alias(
            "budget_tokens"
        ),
    ).orderBy(group_col)


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """BPE merge-candidate counts — iteration one of byte-pair-
    encoding tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909 §3.2): count adjacent character pairs across the
    corpus and surface the top-k merge candidates. The tokenizer-
    training front half of an LLM data pipeline, and the half that
    must be distributed: the merge LOOP mutates a vocab-sized state
    (driver-friendly), but the pair COUNTS scan the whole corpus.

    The scale move is the paper's own: aggregate to DISTINCT words
    with multiplicities first (corpus tokens >> distinct words — the
    word-shaped zipf cut), then enumerate each distinct word's
    adjacent pairs once and weight by its count. Enumeration is
    explode(sequence(1, len-1)) + substr — pure codegen, rows linear
    in total distinct-word characters. Ties in the top-k break by
    pair string, so the result is deterministic and SQL-replayable
    (FULL oracle)."""
    wc = (
        docs.select(
            F.explode(tokenize(normalize(F.col(text_col)))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.length("w") >= 2)
    )
    pairs = wc.select(
        "w",
        "c",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("_i"),
    ).select(F.substr(F.col("w"), F.col("_i"), F.lit(2)).alias("pair"), "c")
    agg = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("n"))
    # deterministic top-k: sort + limit plans TakeOrderedAndProject —
    # no global window, no single-partition stage
    return agg.orderBy(F.col("n").desc(), "pair").limit(k)
