"""Similarity search over embedding vectors: exact cosine top-k and
random-hyperplane-LSH approximate top-k (the LLM-pipeline ANN block;
SURVEY §7 phase 5).

The reference has no vector search; its nearest analogue is the
point×centroid argmin (reference Assignment5/bfr.py:54-62). The
engine provides:
- ``cosine_topk``: exact brute force — probes broadcast against the
  candidate table, codegen'd dot products, per-probe window rank.
  Correct at any scale in the *probe* dimension (cost is
  |probes| × |candidates|); the ground-truth/oracle path.
- ``hyperplane_lsh_topk``: sign-of-dot-product signatures (SimHash
  for vectors — Charikar's rounding scheme), banded exactly like the
  MinHash pipeline: probes only meet candidates sharing a band
  bucket, so cost is |probes| × E[bucket size] — the 100 TB path.
  Hyperplanes are seeded, generated once on the driver (H×d floats —
  tiny) and inlined as literal arrays into codegen expressions; no
  UDF, no collect of data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot
from ..guards import require
from .relational import cap_buckets


def _as_double_vec(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm_vec(col: Column) -> Column:
    """L2-normalize; all-zero vectors map to all-zero (not NaN)."""
    n = F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(col, lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0)))


def ivf_train_sample(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 4096,
) -> np.ndarray:
    """The IVF/IVF-PQ quantizer training sample: the ``train_cap``
    hash-smallest L2-normalized vectors by id (TakeOrderedAndProject —
    a seeded uniform pseudo-random subset, layout-independent and
    content-deterministic), sorted so the driver-side Lloyd sees a
    canonical row order. Shared helper: ``ivf_topk`` and
    ``ivfpq_topk`` compute the IDENTICAL sample — an A/B caller that
    runs both (ann_recall_check) passes one sample to both via their
    ``train=`` parameter instead of paying the collect job (and the
    full upstream scan it implies) once per method."""
    base = emb.select(F.col(id_col), _norm_vec(_as_double_vec(vec_col)).alias("_nv"))
    from ..functions.hashing import md5_hash60

    sample_rows = (
        base.select("_nv", md5_hash60(F.col(id_col)).alias("_ord"))
        .orderBy("_ord")
        .limit(train_cap)
        .collect()
    )
    return np.array(sorted(r[0] for r in sample_rows))


def _lit_vec(values) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


def _dot_lit(vec: Column, plane) -> Column:
    """dot(vector column, literal hyperplane) — zip/aggregate codegen."""
    return F.aggregate(
        F.zip_with(vec, _lit_vec(plane), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_probes: int | None = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe →
    (probe_id, neighbor_id, cos_sim, rnk).

    Rank on the ROUNDED similarity with id tie-break so the ordering
    is reproducible across engines (float tie hazard at rank
    boundaries). Probes broadcast: the scan of the candidate table
    never shuffles.

    Cost is |probes| × |corpus| — exact brute force is the ground
    truth for FEW probes, not a batch self-join. ``max_probes`` fails
    fast instead of silently degenerating (``None`` disables it;
    otherwise it must be positive); large probe sets belong on
    ``hyperplane_lsh_topk`` (or semantic_near_dup_pairs for all-pairs
    shapes).
    """
    require(
        "cosine_topk probes (counted up to max_probes + 1)",
        max_probes,
        lambda: probes.limit(max_probes + 1).count(),
        "max_probes",
        "brute-force cost is probes x corpus — use hyperplane_lsh_topk "
        "for large probe sets, or raise max_probes explicitly",
    )
    cands = emb.select(
        F.col(id_col).alias("neighbor_id"), _as_double_vec(vec_col).alias("_cv")
    )
    pr = probes.select(
        F.col(id_col).alias("probe_id"), _as_double_vec(vec_col).alias("_pv")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.crossJoin(F.broadcast(pr))
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine("_pv", "_cv"), 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def hyperplane_signature(
    vec: Column, planes: np.ndarray, bands: int
) -> Column:
    """Array of ``bands`` bucket values; band b packs ``H/bands``
    sign bits of dot(vec, plane) into an int."""
    num_planes = len(planes)
    if num_planes % bands:
        raise ValueError("num_planes must divide evenly into bands")
    r = num_planes // bands
    bits = [
        F.when(_dot_lit(vec, planes[i]) > 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(num_planes)
    ]
    band_vals = []
    for b in range(bands):
        v = F.lit(0)
        for i in range(r):
            v = v + bits[b * r + i] * F.lit(1 << i)
        band_vals.append(v)
    return F.array(*band_vals)


def hyperplane_lsh_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """Approximate top-k cosine neighbors: candidates = vectors
    sharing ≥1 hyperplane-sign band with the probe, then exact cosine
    + rank over that candidate set only.

    Collision probability per band for angle θ: (1-θ/π)^r — banding
    trades recall for bucket size exactly like MinHash banding
    (same analysis, reference Assignment3/task1.py:59-71's b×r
    tradeoff). Recall vs the exact path is pytest-asserted.
    Degenerate corpora (many near-identical vectors) pile into a few
    buckets; ``max_bucket`` drops those corpus-side buckets so one
    hot key can't blow up the probe join.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, len(_first_vec(emb, vec_col))))

    def banded(df: DataFrame, role: str) -> DataFrame:
        # ids + band keys only — the 64-double vectors stay out of
        # the bucket shuffle and the pair-dedup; they re-join by id
        # after the candidate set is deduped.
        v = _as_double_vec(vec_col)
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.posexplode(hyperplane_signature(v, planes, bands)).alias(
                "_band", "_bval"
            ),
        )

    pairs = (
        banded(probes, "probe")
        .join(
            cap_buckets(banded(emb, "neighbor"), ["_band", "_bval"], max_bucket),
            ["_band", "_bval"],
        )
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    pv = probes.select(
        F.col(id_col).alias("probe_id"), _as_double_vec(vec_col).alias("_pv")
    )
    cv = emb.select(
        F.col(id_col).alias("neighbor_id"), _as_double_vec(vec_col).alias("_cv")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.join(F.broadcast(pv), "probe_id")
        .join(cv, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine("_pv", "_cv"), 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def _lloyd_np(
    points: np.ndarray,
    k: int,
    seed: int,
    max_iter: int,
    tol: float = 1e-4,
    what: str = "IVF coarse quantizer (n_list)",
) -> list[list[float]]:
    """Driver-side seeded Lloyd for quantizer training (bounded input
    by contract — see ivf_topk). Deterministic given (points, seed);
    empty clusters keep their previous centroid. ``what`` names which
    knob k came from, so a too-small training sample reports the right
    one (n_list vs PQ k_codes)."""
    rng = np.random.default_rng(seed)
    if len(points) < k:
        raise ValueError(
            f"training sample ({len(points)}) smaller than k={k} for {what}"
        )
    from .clustering import _argmin_sq_l2

    cents = points[rng.choice(len(points), size=k, replace=False)].copy()
    for _ in range(max_iter):
        assign = _argmin_sq_l2(points, cents)
        new = cents.copy()
        for j in range(k):
            members = points[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
        move = float(np.sqrt(((new - cents) ** 2).sum(axis=1)).max())
        cents = new
        if move <= tol:
            break
    return [c.tolist() for c in cents]


def _index_encode_pandas(
    base: DataFrame,
    id_col: str,
    coarse: "list[list[float]]",
    codebooks=None,
    vec_col: str = "_nv",
) -> DataFrame:
    """Arrow-vectorized IVF index build: the coarse-list argmin per
    corpus vector — and, when ``codebooks`` is given, the m_sub PQ
    subspace argmin codes — computed in numpy per Arrow batch instead
    of interpreted higher-order expressions.

    Why: the declarative argmin (transform → aggregate) evaluates
    outside whole-stage codegen at ~50 µs/row (the same cliff fixed
    for the Lloyd loop, SCALE.md "Second decade"); at the 100× corpus the IVF /
    IVF-PQ index build measured 294/374 s with the encode pass
    dominating. Semantics are unchanged: squared-L2 argmin over
    already-normalized vectors, ties → lowest index (numpy
    first-occurrence == array_position(array_min) first match); the
    vectors round-trip Arrow bit-identically, so only argmin
    tie-breaking on last-ulp distance differences could ever diverge
    — recall bounds are pytest- and oracle-pinned either way.
    Output: (neighbor_id, _cv, _list[, _codes])."""
    C = np.asarray(coarse, dtype=float)
    CB = (
        None
        if codebooks is None
        else [np.asarray(cb, dtype=float) for cb in codebooks]
    )
    id_type = base.schema[id_col].dataType.simpleString()
    schema = f"neighbor_id {id_type}, _cv array<double>, _list int"
    if CB is not None:
        schema += ", _codes array<int>"

    dim = C.shape[1]
    from .clustering import _argmin_sq_l2, _batch_vectors

    def part(batches):
        import pandas as pd

        for pdf in batches:
            keep, X = _batch_vectors(pdf, vec_col, dim)
            if not len(X):
                continue
            out = {
                "neighbor_id": pdf[id_col].to_numpy()[keep],
                "_cv": list(X.tolist()),
                "_list": _argmin_sq_l2(X, C).astype("int32"),
            }
            if CB is not None:
                m = len(CB)
                sd = X.shape[1] // m
                codes = np.empty((len(X), m), dtype="int32")
                for j, cb in enumerate(CB):
                    codes[:, j] = _argmin_sq_l2(
                        X[:, j * sd : (j + 1) * sd], cb
                    )
                out["_codes"] = list(codes.tolist())
            yield pd.DataFrame(out)

    return base.mapInPandas(part, schema)


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    train_cap: int = 4096,
    kmeans_max_iter: int = 8,
    train: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors — the coarse-quantizer
    alternative to hyperplane LSH:

    1. train: driver-side Lloyd over a BOUNDED collected sample of
       L2-normalized vectors (``train_cap`` rows — the faiss-style
       quantizer-training budget, ~256·n_list). The sample is the
       ``train_cap`` hash-smallest vectors by id (TakeOrderedAndProject
       — per-partition top-k), i.e. a seeded uniform pseudo-random
       subset that is layout-independent and content-deterministic;
       a bare LIMIT would take whichever partitions answered first
       (head-biased on sorted inputs, unstable across layouts).
       This is deliberately NOT the distributed K-Means operator: a
       quantizer needs representative centroids, not a full-data fit,
       and ``train_cap × d`` floats are bounded driver state at ANY
       corpus size — whereas a fraction-based sample grows with the
       corpus, and each distributed Lloyd round is a full Spark job
       (8 jobs ≈ half this query's wall at sf0.1);
    2. index: every corpus vector is assigned to its nearest
       centroid's inverted list (one codegen argmin projection — at
       rest this would be the partitioning/bucketing column);
    3. search: each probe explodes to its ``n_probe`` nearest lists
       and equi-joins the corpus on the list id, so it scans
       ~n_probe/n_list of the corpus instead of all of it; exact
       cosine + per-probe rank over that candidate set.

    Normalized-vector L2 argmin == cosine argmax, so the coarse
    assignment is metric-consistent with the final scoring. List
    sizes are skew-prone (real clusters are uneven) — AQE skew-join
    handles the join; recall vs the exact path is pytest-asserted.

    ``train``: a precomputed :func:`ivf_train_sample` (same emb /
    id_col / vec_col / train_cap by contract — values, not just
    shape). A/B callers that train several quantizers off one corpus
    (ann_recall_check) share one collect; None (the default) keeps
    the self-contained single-method behavior, bit-identical either
    way since the sample is content-deterministic.
    """
    base = emb.select(
        F.col(id_col), _norm_vec(_as_double_vec(vec_col)).alias("_nv")
    )
    if train is None:
        train = ivf_train_sample(emb, id_col, vec_col, train_cap)
    centroids = _lloyd_np(train, n_list, seed, kmeans_max_iter)

    # Index build stays on the declarative assign_clusters: the
    # vectorized-encode A/B (SCALE.md "IVF-PQ encode vectorized; plain
    # IVF measured and left alone") measured plain IVF SLOWER with
    # the Arrow pass at both sf1 (37.2→41.0 s) and sf10
    # (294.2→353.6 s) — one coarse argmin per row is cheap enough
    # that the Arrow round-trip + lost codegen boundary outweighs it;
    # the search join, not the encode, owns this operator's wall.
    # (IVF-PQ is the opposite: m_sub interpreted argmins per row →
    # _index_encode_pandas wins 29-38 % there.)
    from .clustering import assign_clusters

    cands = assign_clusters(base, "_nv", centroids, alias="_list").select(
        F.col(id_col).alias("neighbor_id"), F.col("_nv").alias("_cv"), "_list"
    )

    # n_probe nearest lists per probe, ranked by the SAME metric the
    # index used (the same L2 argmin assign_clusters used for the
    # index): for a unit-norm probe,
    # ||v-c||^2 = 1 + ||c||^2 - 2 v.c, so the sort key is
    # ||c||^2 - 2*dot — centroid norms vary, so plain dot-argmax would
    # disagree with the list assignment and cost recall. Centroids
    # travel as broadcast data, not inlined literals (same rationale
    # as assign_clusters).
    cents_row = emb.sparkSession.createDataFrame(
        [([list(map(float, c)) for c in centroids],)], "_cents array<array<double>>"
    )

    def probe_lists(vec: Column) -> Column:
        dists = F.transform(
            F.col("_cents"),
            lambda c, i: F.struct(
                (dot(c, c) - 2.0 * dot(vec, c)).alias("_d2"), i.alias("_i")
            ),
        )
        return F.transform(
            F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["_i"]
        )

    pr = (
        probes.select(
            F.col(id_col).alias("probe_id"),
            _norm_vec(_as_double_vec(vec_col)).alias("_pv"),
        )
        .crossJoin(F.broadcast(cents_row))
        .select(
            "probe_id", "_pv", F.explode(probe_lists(F.col("_pv"))).alias("_list")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    # Broadcast the probe side (guide §3.1): it is |probes| ×
    # n_probe rows by construction (this operator's contract is FEW
    # probes — cosine_topk's max_probes envelope), while the unhinted
    # plan sort-merge-joined, shuffling the ENTIRE indexed corpus by
    # _list — a key with only n_list (16) distinct values, i.e. a
    # worst-case skew shuffle at any real scale. With the hint the
    # corpus never shuffles for the search join.
    return (
        F.broadcast(pr).join(cands, "_list")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine("_pv", "_cv"), 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def cosine_near_dup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup: all unordered pairs with cosine ≥
    ``threshold`` → (a, b, cos_sim). Ground-truth/oracle path — the
    O(n²) join is the verification twin, not the scale path (that is
    ``semantic_near_dup_pairs``)."""
    lhs = emb.select(F.col(id_col).alias("a"), _as_double_vec(vec_col).alias("_va"))
    rhs = emb.select(F.col(id_col).alias("b"), _as_double_vec(vec_col).alias("_vb"))
    return (
        lhs.join(rhs, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine("_va", "_vb"), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _assign_probe_clusters(
    pts: DataFrame, vec_col: str, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """Each row duplicated into its ``n_probe`` nearest centroids'
    clusters (multi-probe assignment). Centroids ride the task
    closure as a k x d numpy matrix (driver state only); distances
    are the usual expanded-form batch matmul, top-n via argpartition
    — no per-row UDF, no k-wide codegen expression tree (the simhash
    lesson: a k=500-literal HOF would run interpreted)."""
    C = np.array(centroids, dtype=float)
    n_probe = min(n_probe, len(C))
    c_sq = (C * C).sum(axis=1)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pts.schema)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf[vec_col].to_numpy())
            D = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
            if n_probe < D.shape[1]:
                top = np.argpartition(D, n_probe - 1, axis=1)[:, :n_probe]
            else:
                top = np.tile(np.arange(D.shape[1]), (D.shape[0], 1))
            out = pdf.loc[pdf.index.repeat(n_probe)].copy()
            out["cluster"] = top.reshape(-1)
            yield out

    return pts.mapInPandas(gen, schema=f"{fields}, cluster int")


def semantic_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    k: int | None = None,
    target_cluster_size: int = 1000,
    max_cluster_rows: int = 50_000,
    n_probe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style embedding near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means partitions the corpus into semantic
    clusters, then cosine pairs >= ``threshold`` are found WITHIN each
    cluster only → (a, b, cos_sim, cluster).

    The scale design point: the all-pairs join is never expressed as
    a Spark join at all. The minhash sf10 receipt measured the failure
    mode of a vector-carrying candidate shuffle (220 GB of array
    payload at sf10 = the wall); here the quadratic lives INSIDE one
    ``applyInPandas`` task per cluster — one repartition of the
    (id, vec) rows by cluster id is the only shuffle, the per-cluster
    gram matrix is computed blockwise in numpy, and only qualifying
    pairs (3 scalars each) ever leave the task. ``k`` defaults to
    n / ``target_cluster_size`` so cluster population — and with it
    the per-task quadratic — stays bounded as the corpus grows; a
    pre-flight count raises above ``max_cluster_rows`` (skewed
    quantizer; must be positive) instead of letting one straggler task
    own the job.

    ``n_probe``: each vector joins its n_probe nearest clusters'
    searches (multi-probe). Single assignment misses exactly the
    pairs split by a Voronoi boundary — and on this corpus's weak
    near-dup regime (max pairwise cosine ≈ 0.5) that was MEASURED at
    recall 0.36; n_probe=2 lifts it to 0.81 (n_probe=3: 0.95) for a
    bounded 2x row / 4x per-cluster-quadratic cost. Genuinely
    near-identical pairs (the SemDeDup regime, cos >= 0.95)
    co-cluster already at n_probe=1 — pytest pins both regimes.

    Pairs are REFINEMENTS of the exact cosine-threshold graph
    (cosine_near_dup_pairs_exact): same rounded-to-6dp cosine, same
    threshold, restricted to co-probed pairs — recall is governed by
    the quantizer, precision 1.0 by construction (the verify is an
    exact cosine; pytest-asserted both ways). Cross-engine rounding
    seam: the refinement contract compares the numpy
    gram's 6-dp cosine against Spark's codegen cosine — a value
    landing exactly on a 5e-7 rounding boundary could round apart in
    the 6th decimal across the two engines and flip threshold
    inclusion (the intra-numpy BLAS-shape variance is absorbed by the
    max() dedup below, but the numpy-vs-Spark seam is not). The
    refinement pytest carries a 1e-6 tolerance for exactly this;
    measured deltas on this corpus are ~1e-16, eight orders under the
    boundary (the source_token_kl headroom argument).
    """
    from .clustering import kmeans

    # Slim (id, vec) pin: this relation feeds the k-sizing
    # count, the quantizer's own persist, and the multi-probe
    # assignment — for callers whose emb lineage is non-trivial (the
    # curation funnel's survivor join) each action re-executed the
    # whole upstream. The count below doubles as the materializing
    # action; both columns are read by every consumer, so the RDD
    # pin loses no pruning (the slim-vs-fat rule).
    pts = emb.select(
        F.col(id_col).alias("_id"), _as_double_vec(vec_col).alias("_v")
    ).localCheckpoint(eager=False)
    if k is None:
        n = pts.count()
        k = max(8, -(-n // target_cluster_size))
    _, centroids = kmeans(pts, "_v", k=k, seed=seed)
    # Lazy pin: the multi-probe mapInPandas feeds BOTH the hot-cluster
    # pre-flight and the pair stage — un-pinned it executed twice; the
    # pre-flight aggregate below doubles as the checkpoint's
    # materializing action, so the pair stage reads the blocks. (Fat
    # rows, but the pair stage reads every column; only the pre-flight
    # loses pruning — cheaper than a second mapInPandas.)
    assigned = _assign_probe_clusters(pts, "_v", centroids, n_probe).localCheckpoint(
        eager=False
    )
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    require(
        "semantic_near_dup_pairs largest cluster rows",
        max_cluster_rows,
        lambda: sizes.agg(F.max("_n")).collect()[0][0],
        "max_cluster_rows",
        "the quantizer is skewed; raise k / target_cluster_size, or "
        "raise max_cluster_rows if the per-task quadratic is affordable",
    )

    thr = float(threshold)

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["_id"].to_numpy()
        X = np.vstack(pdf["_v"].to_numpy())
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        Xn = X / norms[:, None]
        cl = int(pdf["cluster"].iloc[0])
        out_a, out_b, out_c = [], [], []
        # blockwise gram: memory is block x m, never m x m
        block = 2048
        for s in range(0, len(ids), block):
            G = np.round(Xn[s : s + block] @ Xn.T, 6)
            ii, jj = np.nonzero(G >= thr)
            gi = ii + s
            keep = gi < jj  # strict upper triangle in GLOBAL indices
            ia, ib = gi[keep], jj[keep]
            a, b = ids[ia], ids[ib]
            swap = a > b  # emit id_a < id_b regardless of row order
            a2 = np.where(swap, b, a)
            b2 = np.where(swap, a, b)
            out_a.append(a2)
            out_b.append(b2)
            out_c.append(G[ii[keep], jj[keep]])
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype),
                "b": np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype),
                "cos_sim": np.concatenate(out_c) if out_c else np.array([], dtype=float),
                "cluster": cl,
            }
        )

    id_type = dict(pts.dtypes)["_id"]
    raw = assigned.groupBy("cluster").applyInPandas(
        per_cluster,
        schema=f"a {id_type}, b {id_type}, cos_sim double, cluster int",
    )
    # Multi-probe finds a pair once per shared probed cluster — dedup
    # on the pair key (max() collapses the vanishing case where two
    # BLAS shapes round the 7th decimal differently; min(cluster)
    # keeps the report deterministic).
    return raw.groupBy("a", "b").agg(
        F.max("cos_sim").alias("cos_sim"), F.min("cluster").alias("cluster")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    k: int | None = None,
    target_cluster_size: int = 1000,
    max_cluster_rows: int = 50_000,
    seed: int = 7,
) -> DataFrame:
    """End-to-end semantic dedup: cluster → within-cluster cosine
    pairs (``semantic_near_dup_pairs``) → ``dedup.cluster_survivors``
    → one canonical doc (min id) per semantic-duplicate group; every
    id mapped, singletons to themselves → (id, canonical_id, is_kept).
    The embedding-level sibling of the text pipeline
    (dedup_canonical_docs)."""
    from .dedup import cluster_survivors

    pairs = semantic_near_dup_pairs(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        k=k,
        target_cluster_size=target_cluster_size,
        max_cluster_rows=max_cluster_rows,
        seed=seed,
    )
    return cluster_survivors(emb.select(id_col), id_col, pairs).select(
        id_col, F.col("best_id").alias("canonical_id"), "is_kept"
    )


def _first_vec(emb: DataFrame, vec_col: str):
    """Vector dimensionality probe (one-row action on a pruned scan).

    All vectors are assumed to share this dimensionality — ragged
    embedding columns surface downstream as zip_with null products.
    """
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"empty embeddings table (no non-null '{vec_col}' row to "
            "derive hyperplane dimensionality from)"
        )
    return row[0]


def _pq_train(
    train: np.ndarray, m_sub: int, k_codes: int, seed: int, max_iter: int
) -> list[list[list[float]]]:
    """Per-subspace codebooks for product quantization (Jégou et al.
    2011): split the dimension into ``m_sub`` contiguous subvectors
    and run the bounded driver Lloyd in each subspace. Driver state =
    m_sub * k_codes * (d/m_sub) = k_codes * d floats — independent of
    corpus size, the same contract as the IVF coarse quantizer."""
    d = train.shape[1]
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub={m_sub}")
    sd = d // m_sub
    return [
        _lloyd_np(
            np.ascontiguousarray(train[:, j * sd : (j + 1) * sd]),
            k_codes,
            seed + j,
            max_iter,
            what=f"PQ codebook {j} (k_codes)",
        )
        for j in range(m_sub)
    ]


def ivfpq_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    k_codes: int = 32,
    refine: int = 4,
    seed: int = 7,
    train_cap: int = 4096,
    kmeans_max_iter: int = 8,
    train: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k cosine neighbors — the
    memory-compressed tier above :func:`ivf_topk` (faiss IVFPQ shape,
    Jégou et al. 2011):

    1. train (driver, bounded): coarse centroids exactly as
       ``ivf_topk``, plus per-subspace PQ codebooks over the same
       hash-smallest ``train_cap`` sample;
    2. index: each corpus vector stores only its coarse list id and
       ``m_sub`` PQ codes (one argmin per subspace — codegen against
       the broadcast codebook). At rest this is the compressed
       representation: m_sub bytes-ish per vector instead of d
       floats, the property that makes billion-scale ANN fit memory;
    3. search: probes explode to their ``n_probe`` nearest lists;
       per probe a LUT of subspace dot products against every code
       (m_sub x k_codes floats, computed once per probe as a codegen
       expression) turns candidate scoring into m_sub array lookups +
       a sum (ADC — no d-dim math per candidate); the top
       ``k*refine`` ADC candidates per probe are re-scored with the
       EXACT cosine and the final top-k ranks on that.

    This quantizes raw normalized vectors (not per-list residuals):
    the exact-refine stage recovers the ranking precision residual-PQ
    would buy, at the cost of reading the full vector for the
    shortlist only — the standard refinement trade. Recall vs the
    exact path is pytest-asserted on a planted-cluster corpus.
    Rows-only as a driver query: codes depend on iterative float
    training, like IVF/k-means.

    ``train``: a precomputed :func:`ivf_train_sample` — same contract
    as :func:`ivf_topk`.
    """
    base = emb.select(F.col(id_col), _norm_vec(_as_double_vec(vec_col)).alias("_nv"))
    if train is None:
        train = ivf_train_sample(emb, id_col, vec_col, train_cap)
    d = train.shape[1]
    sd = d // m_sub
    coarse = _lloyd_np(train, n_list, seed, kmeans_max_iter)
    codebooks = _pq_train(train, m_sub, k_codes, seed, kmeans_max_iter)

    # broadcast data: coarse centroids (for probe routing) + PQ
    # codebooks (m_sub x k_codes x sd) — never inlined literals
    spark = emb.sparkSession
    cb_row = spark.createDataFrame(
        [([[list(map(float, c)) for c in cb] for cb in codebooks],)],
        "_cb array<array<array<double>>>",
    )
    cents_row = spark.createDataFrame(
        [([list(map(float, c)) for c in coarse],)], "_cents array<array<double>>"
    )

    # encode: coarse list + m_sub per-subspace argmin codes (0-based),
    # numpy per Arrow batch — see _index_encode_pandas; one
    # interpreted subspace-argmin expression per row per subspace was
    # the dominant cost of the 100x index build
    cands = _index_encode_pandas(base, id_col, coarse, codebooks)

    # probe routing: same ||c||^2 - 2 v.c key as ivf_topk, so the
    # probed lists agree with the index's assignment metric
    def probe_lists(vec: Column) -> Column:
        dists = F.transform(
            F.col("_cents"),
            lambda c, i: F.struct(
                (dot(c, c) - 2.0 * dot(vec, c)).alias("_d2"), i.alias("_i")
            ),
        )
        return F.transform(
            F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["_i"]
        )

    # per-probe ADC lookup table: LUT[j][c] = dot(probe_sub_j, cb[j][c])
    def lut(vec: Column) -> Column:
        return F.transform(
            F.col("_cb"),
            lambda cbj, j: F.transform(
                cbj, lambda c: dot(F.slice(vec, j * F.lit(sd) + 1, sd), c)
            ),
        )

    pr = (
        probes.select(
            F.col(id_col).alias("probe_id"),
            _norm_vec(_as_double_vec(vec_col)).alias("_pv"),
        )
        .crossJoin(F.broadcast(cents_row))
        .crossJoin(F.broadcast(cb_row))
        .select(
            "probe_id",
            "_pv",
            lut(F.col("_pv")).alias("_lut"),
            F.explode(probe_lists(F.col("_pv"))).alias("_list"),
        )
    )

    est = None
    for j in range(m_sub):
        term = F.element_at(
            F.element_at("_lut", j + 1), F.element_at("_codes", j + 1) + 1
        )
        est = term if est is None else est + term
    w_est = Window.partitionBy("probe_id").orderBy(
        F.col("_est").desc(), F.col("neighbor_id").asc()
    )
    # Broadcast the probe side — same rationale as ivf_topk's search
    # join (|probes| × n_probe rows vs the full coded corpus on a
    # n_list-valued key); the unhinted ivfpq plan happened to pick the
    # broadcast at bench scale, but that is a size ESTIMATE decision
    # that can flip to a corpus shuffle at real scale — pin it.
    shortlist = (
        F.broadcast(pr).join(cands, "_list")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("_est", est)
        .withColumn("_erk", F.row_number().over(w_est))
        .where(F.col("_erk") <= k * refine)
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.select(
            "probe_id",
            "neighbor_id",
            F.round(cosine("_pv", "_cv"), 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )
