"""Graph operators on edge DataFrames (SURVEY.md §2.10 G1-G5).

The graph is relational: ``edges(src, dst)`` canonicalized src < dst,
vertices derived. The reference builds graphs from co-review
co-occurrence (reference Assignment4/task1.py:32-60) with an O(V^2)
driver loop; the engine uses the equi-join formulation
(operators/relational.co_occurrence_pairs) and keeps iteration in the
DataFrame domain.

Scale notes per operator:
- connected_components / LPA: synchronous iterative joins; one
  shuffle per round on the vertex id; ``localCheckpoint`` every few
  rounds truncates lineage. Rounds ≤ graph diameter (CC) / fixed
  (LPA). For web-scale graphs swap in the large-star/small-star
  variant — same join primitives.
- betweenness: exact Girvan-Newman needs all-pairs BFS — O(V·E)
  total. Roots are hashed into batches; the grouped adjacency is
  replicated to each batch by an executor-side shuffle (never the
  driver) and each task runs its roots' Brandes passes against a
  locally assembled adjacency dict. This matches the reference's
  operating envelope (A4 graphs: thousands of vertices) and documents
  its memory bound: adjacency must fit one task. Beyond that, use
  sampled-root approximate betweenness (same code, ``n_roots=k``).
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def canonical_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list, one row per edge, src < dst, deduped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("src"),
            F.greatest(F.col(src), F.col(dst)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge (for message passing).

    Explode, not union (r17 optimization): the union form referenced
    ``edges`` twice, and Catalyst plans — and EXECUTES — the whole
    upstream once per branch (no ReusedExchange fires across the
    alias-swapped branches; plan-verified in plans/r17). For graph
    queries whose edge relation is the co-occurrence pair join, that
    was 2x the dominant stage. Same row multiset, one upstream pass.
    """
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def degrees(edges: DataFrame) -> DataFrame:
    """G1-adjacent diagnostic: degree per vertex of the undirected graph."""
    return (
        symmetric_edges(edges)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _local_min_label_components(sym_rows, id_type: str, spark):
    """Driver-side union-find over an ALREADY-BOUNDED edge list:
    returns (id, component = min reachable id) rows identical to the
    distributed min-label loop's fixed point. Only reachable through
    ``connected_components``'s explicit ``local_cap`` guard — the
    collect is bounded by contract, like IVF's bounded driver
    training, so this is a latency fast path for small graphs, not a
    scale path."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym_rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so every root IS its set's min label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    data = [(x, find(x)) for x in parent]
    return spark.createDataFrame(data, f"id {id_type}, component {id_type}")


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    pointer_jump_after: int = 2,
    local_cap: int = 200_000,
) -> DataFrame:
    """G4: (id, component) where component = min vertex id reachable.

    Synchronous min-label propagation; converges in <= diameter
    rounds. Each round: one shuffle (groupBy id), materialized via
    localCheckpoint (truncates lineage), then a cheap convergence
    probe — labels only ever DECREASE, so an unchanged Σcomponent
    over the checkpointed rows proves a fixed point without the
    join-and-count job a naive changed-row check would cost. The
    probe runs every round for the first 3 rounds (shallow graphs —
    the common case — converge there and want the earliest possible
    exit), then every 2nd round: a skipped round's lazy checkpoint
    simply materializes inside the next probe's job, so batching
    halves the loop's job count on high-diameter graphs at the cost
    of at most one extra (cheap, converged) round of joins. The
    reference does a driver-side BFS flood fill
    (Assignment4/task2.py:123-146).

    ``pointer_jump_after``: rounds before this index skip the
    pointer-jump join — shallow graphs (dense communities, diameter
    2-4) converge before the jump would pay for its extra shuffle,
    while high-diameter graphs still get the O(log d) acceleration
    from that round on.

    ``local_cap``: graphs whose symmetrized edge list has at most
    this many rows are solved by a driver-side union-find instead of
    the iterative join loop — identical min-label output (parity
    pytest-asserted), but ~1 job instead of 2-4 jobs/round. Round
    overhead, not data volume, dominates CC cost on small graphs
    (the Girvan-Newman inner loop and the dedup pipelines' near-empty
    edge sets re-solve CC on graphs of a few hundred vertices). The
    collect is bounded by the cap; graphs above it — the 100 TB
    shape — always take the distributed loop. Set ``local_cap=0`` to
    force the distributed path.
    """
    # Materialize the (possibly very expensive) upstream edge
    # computation exactly ONCE: vertices are derived from the
    # checkpointed symmetric edges, never from `edges` directly —
    # a second reference to `edges` would re-execute its whole
    # lineage (for dedup_canonical_docs that is the prefix-filtered
    # Jaccard self-join, which once dominated this loop's wall time).
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    id_type = dict(sym.dtypes)["src"]
    if local_cap > 0:
        # limit(cap+1) bounds the probe itself: on a huge graph this
        # reads one partition's first rows, never the full edge list,
        # and doubles as the collect when the graph fits the cap.
        rows = sym.limit(local_cap + 1).collect()
        if len(rows) <= local_cap:
            return _local_min_label_components(rows, id_type, edges.sparkSession)
    # Lazy checkpoints throughout the loop: the convergence-probe agg
    # is the ONLY action per round, and materializing the checkpoint
    # inside that job halves the per-round job count (round overhead,
    # not data volume, dominates CC cost on small/medium graphs).
    # Eager stays only where one DataFrame feeds TWO subtrees of the
    # same job (sym above, `stepped` in pointer-jump rounds) — a lazy
    # checkpoint there would compute the subtree twice in the
    # materializing job.
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for round_idx in range(max_iter):
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        stepped = (
            labels.select("id", "component")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        if round_idx < pointer_jump_after:
            labels = stepped.localCheckpoint(eager=False)
        else:
            # pointer jump (path compression): follow component → its
            # own current label. One extra shuffle per round buys
            # O(log d) total rounds instead of O(diameter) — the
            # classic large-star acceleration, decisive on
            # high-diameter graphs.
            stepped = stepped.localCheckpoint(eager=True)
            ptr = stepped.select(
                F.col("id").alias("component"), F.col("component").alias("_c2")
            )
            labels = (
                stepped.join(ptr, "component")
                .select("id", F.least("component", "_c2").alias("component"))
                .localCheckpoint(eager=False)
            )
        # Batched convergence probe: rounds 0-2 probe every round
        # (shallow graphs exit at the earliest fixed point), later
        # rounds every 2nd — a skipped probe saves the probe job only
        # (the eager `stepped` checkpoint above still runs one job per
        # jump round; the lazy `labels` checkpoint folds into the next
        # probe). Sums only ever decrease, so equality across a
        # 2-round gap still proves the fixed point.
        if round_idx < 3 or round_idx % 2 == 1:
            cur_sum = labels.agg(F.sum("component")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels


def _local_label_propagation(sym_rows, max_iter: int, id_type: str, spark):
    """Driver-side synchronous LPA over an ALREADY-BOUNDED symmetric
    edge list — votes/tie-breaks identical to the distributed rounds
    (and to the SQL-unrolled driver oracle): each round every vertex
    adopts the most frequent neighbor label, ties to the smallest
    label. Only reachable through ``label_propagation``'s explicit
    ``local_cap`` guard."""
    inbound: dict = {}  # dst -> list of srcs (vote suppliers)
    for row in sym_rows:
        inbound.setdefault(row[1], []).append(row[0])
    labels = {v: v for v in inbound}
    for _ in range(max_iter):
        nxt = {}
        for v, srcs in inbound.items():
            votes: dict = {}
            for s in srcs:
                lab = labels[s]
                votes[lab] = votes.get(lab, 0) + 1
            top = max(votes.values())
            nxt[v] = min(lab for lab, n in votes.items() if n == top)
        labels = nxt
    return spark.createDataFrame(
        sorted(labels.items()), f"id {id_type}, label {id_type}"
    )


def label_propagation(
    edges: DataFrame, max_iter: int = 5, local_cap: int = 200_000
) -> DataFrame:
    """G2: deterministic synchronous LPA — each round every vertex
    adopts its neighbors' most frequent label, ties to the smallest
    label; isolated semantics follow the reference (GraphFrames LPA,
    maxIter=5, Assignment4/task1.py:64-65) but with a deterministic
    tie-break so results are stable for oracle checks.

    ``local_cap``: like ``connected_components``, graphs whose
    symmetrized edge list fits the cap run the (fixed, small) round
    count on the driver — identical votes and tie-breaks (parity
    pytest-asserted AND externally checked by the SQL-unrolled
    driver oracle), ~1 job instead of a join+window shuffle per
    round. Above the cap the distributed rounds below run unchanged;
    ``local_cap=0`` forces them."""
    # Materialize the (expensive) edge lineage exactly once and derive
    # the vertex set from it — deriving vertices from `edges` directly
    # would re-execute the upstream co-occurrence join a second time
    # (the betweenness/CC lesson). Per-round label checkpoints are
    # LAZY: each round's labels have a single consumer (the next
    # round's join, or the caller's action), so materializing inside
    # that consuming job halves the loop's job count without
    # recomputation.
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    if local_cap > 0:
        rows = sym.limit(local_cap + 1).collect()
        if len(rows) <= local_cap:
            id_type = dict(sym.dtypes)["src"]
            return _local_label_propagation(
                rows, max_iter, id_type, edges.sparkSession
            )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        labels = labels.localCheckpoint(eager=False)
        neighbor_labels = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        w = Window.partitionBy("id").orderBy(F.col("votes").desc(), F.col("label").asc())
        labels = (
            neighbor_labels.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", "label")
        )
    return labels


def _bfs_edge_credits(adj: dict, root) -> dict[tuple, float]:
    """Single-root Girvan-Newman credit pass (Brandes accumulation).

    Mirrors the reference's per-root BFS + bottom-up credit
    (Assignment4/task2.py:54-113): sigma = #shortest paths, credit of
    edge (u,v) = sigma_u/sigma_v * (1 + sum of credits below v).
    """
    sigma = {root: 1.0}
    dist = {root: 0}
    order = [root]
    preds: dict = {root: []}
    q = deque([root])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                sigma[v] = 0.0
                preds[v] = []
                order.append(v)
                q.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] += sigma[u]
                preds[v].append(u)
    delta = {v: 0.0 for v in order}
    credits: dict[tuple, float] = {}
    for v in reversed(order):
        for u in preds[v]:
            c = sigma[u] / sigma[v] * (1.0 + delta[v])
            key = (u, v) if u < v else (v, u)
            credits[key] = credits.get(key, 0.0) + c
            delta[u] += c
    return credits


def grouped_adjacency(edges: DataFrame) -> DataFrame:
    """(id, nbrs sorted array) — the distributed adjacency-list build
    (symmetrize → groupBy → sorted collect_list, one shuffle) shared
    by ``edge_betweenness`` and the Girvan-Newman loop."""
    return (
        symmetric_edges(edges)
        .groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    )


def edge_betweenness(
    edges: DataFrame,
    seed: int = 7,
    num_batches: int | None = None,
    adjacency: DataFrame | None = None,
    local_cap: int = 500,
    n_roots: int | None = None,
) -> DataFrame:
    """G3: edge betweenness (undirected, unweighted) — exact by
    default, sampled-roots approximate above course scale.

    Scale design: the adjacency list is built DISTRIBUTED
    (symmetrize → groupBy(id) → sorted collect_list — one shuffle)
    and never touches the driver. Roots are hashed into
    ``num_batches`` batches; the per-vertex adjacency rows are
    replicated once per batch (explode over the batch range — an
    executor-to-executor shuffle, the distributed equivalent of a
    broadcast fan-out), and ``groupBy(batch).applyInPandas``
    assembles each task's adjacency dict locally and runs one Brandes
    credit pass per root in its batch. The working-set bound
    (adjacency O(V+E) fits one task) is inherent to per-root BFS;
    beyond it, ``n_roots`` runs BFS from a FIXED-SIZE seeded vertex
    sample and rescales credits by V/k (Brandes-style approximation)
    — same code path, O(k·E) total work, so cost grows with the EDGE
    count only, not quadratic-family (the r12 sf10 receipt measured
    the fractional knob at 9.2x/decade because |roots| grew with V;
    a fixed k makes the sampled tier genuinely sublinear in V).
    Credits sum distributed and halve (each shortest path is seen
    from both endpoint roots).

    ``adjacency``: a prebuilt ``grouped_adjacency``-shaped DataFrame
    (id, nbrs) — callers that repeatedly score near-identical graphs
    (the Girvan-Newman removal loop) build it once and pass map-side
    edits instead of paying the groupBy shuffle per call.

    ``local_cap``: graphs with at most this many VERTICES run the
    Brandes sweep on the driver over the collected adjacency —
    identical credits up to float summation order (parity
    pytest-asserted), ~1 job instead of the batch fan-out's
    explode + Arrow round-trip, which is pure overhead on a
    course-scale graph. The adjacency already must fit one task by
    this operator's documented envelope, so the cap only tightens
    that bound (500 vertices keeps the Python sweep sub-second);
    larger graphs always take the batched executor-side path. Set
    ``local_cap=0`` to force it.
    """
    spark = edges.sparkSession
    if adjacency is not None:
        adj_df = adjacency
    else:
        # Materialize once: the sampled path reads the adjacency from
        # THREE subtrees (root count, the sampled roots, the batch
        # fan-out) and the upstream edge build is typically the most
        # expensive part of the whole query (a co-occurrence
        # self-join) — without this the lineage re-executes per read.
        adj_df = grouped_adjacency(edges).localCheckpoint(eager=True)

    if n_roots is not None and n_roots < 1:
        raise ValueError(f"n_roots must be >= 1, got {n_roots}")
    # Local fast-path probe FIRST (r18): limit(cap+1) bounds the probe
    # itself — on a huge graph this reads one partition's first rows,
    # never the full adjacency — and when the graph fits, the
    # collected head doubles as (a) the vertex count the sampling
    # logic needs (the old roots.count() job re-read the checkpoint
    # for a number the driver already held) and (b) the unsampled
    # root set (the old roots.collect() job, same partition order).
    head = None
    if local_cap > 0:
        head = adj_df.limit(local_cap + 1).collect()
        if len(head) > local_cap:
            head = None

    # Symmetrized adjacency contains every non-isolated vertex as a
    # key, so its id set IS the vertex set — no second edge scan.
    roots = adj_df.select("id")
    root_ids = None if head is None else [r["id"] for r in head]
    scale = 1.0
    if n_roots is not None:
        # Fixed-size seeded sample: order by a salted hash and take k.
        # TakeOrderedAndProject keeps only k rows per partition then k
        # on the driver — no full sort, deterministic across partition
        # counts, and |roots| stays k no matter how large V grows.
        n_total = len(head) if head is not None else roots.count()
        if n_total > n_roots:
            roots = roots.orderBy(
                F.xxhash64(F.col("id").cast("string"), F.lit(seed)),
                F.col("id"),
            ).limit(n_roots)
            scale = n_total / n_roots
            root_ids = None  # genuinely sampled — collected below

    id_type = dict(edges.select("src", "dst").dtypes)["src"]
    if head is not None:
        a = {r["id"]: list(r["nbrs"]) for r in head}
        if root_ids is None:
            # the Spark-sampled root set (same rows on either path) is
            # bounded by the vertex cap
            root_ids = [r["id"] for r in roots.collect()]
        credits: dict[tuple, float] = {}
        for rid in root_ids:
            for key, c in _bfs_edge_credits(a, rid).items():
                credits[key] = credits.get(key, 0.0) + c
        rows = [
            (u, v, c * scale / 2.0) for (u, v), c in sorted(credits.items())
        ]
        return spark.createDataFrame(
            rows, f"src {id_type}, dst {id_type}, betweenness double"
        )

    n_batches = num_batches or spark.sparkContext.defaultParallelism
    adj_rep = adj_df.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_batches - 1))).alias("_batch"),
        "id",
        "nbrs",
    )
    roots_b = roots.select(
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_batches))
        .cast("int")
        .alias("_batch"),
        F.lit(None).cast(id_type).alias("id"),
        F.lit(None).cast(f"array<{id_type}>").alias("nbrs"),
        F.col("id").alias("_root"),
    )
    payload = adj_rep.withColumn("_root", F.lit(None).cast(id_type)).unionByName(
        roots_b
    )

    int_ids = id_type in ("tinyint", "smallint", "int", "bigint")

    def per_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # The null-padded union makes Arrow deliver integer ids as
        # float64 with NaN — normalize back to int so adjacency keys,
        # BFS ids, and the output column share one type.
        def norm(x):
            return int(x) if int_ids else x

        has_nbrs = pdf["id"].notna()
        a = {
            norm(i): [norm(x) for x in nb]
            for i, nb in zip(pdf.loc[has_nbrs, "id"], pdf.loc[has_nbrs, "nbrs"])
        }
        out_src, out_dst, out_credit = [], [], []
        for root in pdf.loc[pdf["_root"].notna(), "_root"]:
            for (u, v), c in _bfs_edge_credits(a, norm(root)).items():
                out_src.append(u)
                out_dst.append(v)
                out_credit.append(c)
        return pd.DataFrame({"src": out_src, "dst": out_dst, "credit": out_credit})

    credit_schema = f"src {id_type}, dst {id_type}, credit double"
    return (
        payload.groupBy("_batch")
        .applyInPandas(per_batch, schema=credit_schema)
        .groupBy("src", "dst")
        .agg((F.sum("credit") * F.lit(scale) / F.lit(2.0)).alias("betweenness"))
    )


def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    m: int | None = None,
    deg: DataFrame | None = None,
) -> float:
    """F16: Q = sum_c [ e_c/m - (d_c/2m)^2 ] — algebraically equal to
    the reference's pairwise form (Assignment4/task2.py:149-165).
    ``assignment``: (id, community). ``m``/``deg`` accept a
    precomputed edge count / ``degrees(edges)`` DataFrame so loop
    callers (Girvan-Newman scores Q once per removal against the SAME
    original graph) don't recount and re-shuffle the invariant side
    every iteration."""
    if m is None:
        m = edges.count()
    if m == 0:
        return 0.0
    a_src = assignment.select(F.col("id").alias("src"), F.col("community").alias("_ca"))
    a_dst = assignment.select(F.col("id").alias("dst"), F.col("community").alias("_cb"))
    intra = (
        edges.join(a_src, "src")
        .join(a_dst, "dst")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy("_ca")
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg_df = deg if deg is not None else degrees(edges)
    deg = deg_df.join(assignment, "id").groupBy("community").agg(
        F.sum("degree").alias("d_c")
    )
    parts = (
        deg.join(intra, deg.community == intra._ca, "left")
        .select(
            (
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.lit(float(m))
                - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
            ).alias("q")
        )
        .agg(F.sum("q"))
        .collect()[0][0]
    )
    return float(parts or 0.0)


def _apply_adjacency_edits(adj: DataFrame, edits: list[tuple]) -> DataFrame:
    """Apply edge-removal edits to a ``grouped_adjacency`` DataFrame
    as stacked map-side ``when``/``array_remove`` projections — no
    shuffle. Callers bound ``len(edits)`` (the Girvan-Newman loop
    re-checkpoints every ``rebase_every`` edits) so the expression
    chain stays shallow."""
    for u, v in edits:
        adj = adj.withColumn(
            "nbrs",
            F.when(F.col("id") == u, F.array_remove(F.col("nbrs"), v))
            .when(F.col("id") == v, F.array_remove(F.col("nbrs"), u))
            .otherwise(F.col("nbrs")),
        )
    return adj


def _local_girvan_newman(
    edge_list: list[tuple],
    max_removals: int,
    q_drop_stop: float,
    spark,
    id_type: str,
) -> tuple[DataFrame, float]:
    """Reference-faithful driver Girvan-Newman over an ALREADY-BOUNDED
    canonical edge list (reached only through ``girvan_newman``'s
    explicit ``local_cap`` guard). Mirrors reference
    Assignment4/task2.py:123-215 exactly: every vertex stays an
    adjacency-dict key (isolated vertices remain singleton
    communities and keep their -(d/2m)^2 modularity term), removal
    tie-break = smallest (src, dst), communities labeled by min
    member id, modularity scored against the ORIGINAL graph — the
    same rules as the distributed loop (parity pytest-asserted)."""
    edge_set = {(u, v) if u < v else (v, u) for u, v in edge_list}
    adj: dict = {}
    for u, v in edge_set:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    m = len(edge_set)
    orig_deg = {v: len(nbrs) for v, nbrs in adj.items()}

    def communities() -> dict:
        # min-label components over the CURRENT adj, every dict key
        # kept (isolated vertex -> singleton)
        label: dict = {}
        for start in adj:
            if start in label:
                continue
            seen = [start]
            label[start] = start
            q = deque([start])
            while q:
                x = q.popleft()
                for y in adj[x]:
                    if y not in label:
                        label[y] = start
                        seen.append(y)
                        q.append(y)
            lo = min(seen)
            for x in seen:
                label[x] = lo
        return label

    def q_of(assign: dict) -> float:
        if m == 0:
            return 0.0
        e_c: dict = {}
        d_c: dict = {}
        for u, v in edge_set:
            if assign[u] == assign[v]:
                e_c[assign[u]] = e_c.get(assign[u], 0) + 1
        for x, d in orig_deg.items():
            d_c[assign[x]] = d_c.get(assign[x], 0) + d
        return sum(
            e_c.get(c, 0) / m - (d / (2.0 * m)) ** 2 for c, d in d_c.items()
        )

    best_q = -1.0
    assign = communities()
    best_assign = dict(assign)
    removed = 0
    while removed < max_removals and len(edge_set) - removed > 0:
        credits: dict = {}
        for root in adj:
            for key, c in _bfs_edge_credits(adj, root).items():
                credits[key] = credits.get(key, 0.0) + c
        if not credits:
            break
        # tie-break: highest credit, then smallest (src, dst) — the
        # distributed orderBy(desc, src asc, dst asc) rule
        best_c = max(credits.values())
        u, v = min(k for k, c in credits.items() if c == best_c)
        adj[u].discard(v)
        adj[v].discard(u)
        removed += 1
        assign = communities()
        q = q_of(assign)
        if q > best_q:
            best_q = q
            best_assign = dict(assign)
        elif best_q - q > q_drop_stop:
            break
    rows = sorted(best_assign.items())
    return (
        spark.createDataFrame(rows, f"id {id_type}, community {id_type}"),
        best_q,
    )


def girvan_newman(
    edges: DataFrame,
    max_removals: int = 50,
    q_drop_stop: float = 0.1,
    local_cap: int = 200_000,
) -> tuple[DataFrame, float]:
    """G5: modularity-guided edge removal (driver loop, inherently
    iterative — reference Assignment4/task2.py:185-215). Removes the
    max-betweenness edge (ties: smallest (src,dst)), recomputes, and
    returns the assignment with max modularity. Stops when Q drops
    more than ``q_drop_stop`` below the best, on full fragmentation,
    or after ``max_removals``.

    ``local_cap``: graphs with at most this many canonical edges run
    the whole loop on the driver (``_local_girvan_newman`` — the
    reference's own execution shape), identical rules and output
    (parity pytest-asserted). The control loop is sequential either
    way; at course scale every distributed round is pure job overhead
    (a 19-edge graph paid ~4 s/removal in Spark jobs). Graphs above
    the cap run the distributed rounds below, whose per-round
    betweenness is the batched executor-side Brandes sweep. The
    collect is bounded by the cap; set ``local_cap=0`` to force the
    distributed path.

    Loop-invariant reuse (the graph changes by exactly one edge per
    round, so nothing invariant is recomputed):
    - the grouped adjacency is built ONCE; each round's betweenness
      sees removals as map-side literal ``array_remove`` edits, and
      the edited adjacency is re-checkpointed every
      ``rebase_every`` removals so the stacked ``when`` chain (and
      plan depth) stays bounded no matter how many edges the loop
      removes (no per-round groupBy shuffle either way);
    - modularity scores against the ORIGINAL graph, so its edge count
      and degree table are computed once and passed in;
    - connected components are re-solved only for the component the
      removed edge belonged to (removal can split nothing else);
      every other component's rows carry over unchanged. Vertices
      isolated by a removal stay in the assignment as singleton
      communities — the reference's BFS flood fill keeps every
      vertex as an adjacency-dict key (Assignment4/task2.py:123-146),
      so an isolated vertex remains its own community and its
      original degree still contributes the -(d/2m)^2 modularity
      term.
    """
    rebase_every = 10
    current = canonical_edges(edges).localCheckpoint(eager=True)
    if local_cap > 0:
        rows = current.limit(local_cap + 1).collect()
        if len(rows) <= local_cap:
            id_type = dict(current.dtypes)["src"]
            return _local_girvan_newman(
                [(r[0], r[1]) for r in rows],
                max_removals,
                q_drop_stop,
                edges.sparkSession,
                id_type,
            )
    original = current
    n_edges = current.count()
    deg = degrees(original).localCheckpoint(eager=True)
    base_adj = grouped_adjacency(original).localCheckpoint(eager=True)
    best_q = -1.0
    assign = (
        connected_components(current)
        .withColumnRenamed("component", "community")
        .localCheckpoint(eager=True)
    )
    best_assign = assign
    n_removed = 0
    pending: list[tuple] = []  # edits not yet folded into base_adj
    for _ in range(max_removals):
        if n_edges - n_removed == 0:
            break
        adj = _apply_adjacency_edits(base_adj, pending)
        top = (
            edge_betweenness(current, adjacency=adj)
            .orderBy(F.col("betweenness").desc(), F.col("src").asc(), F.col("dst").asc())
            .limit(1)
            .collect()[0]
        )
        pending.append((top.src, top.dst))
        n_removed += 1
        if len(pending) >= rebase_every:
            # Fold accumulated edits into a fresh checkpoint: plan
            # depth stays O(rebase_every) instead of O(total removals).
            base_adj = _apply_adjacency_edits(base_adj, pending).localCheckpoint(
                eager=True
            )
            pending = []
        current = current.where(
            ~((F.col("src") == top.src) & (F.col("dst") == top.dst))
        ).localCheckpoint(eager=True)
        # Re-solve CC only inside the touched component.
        c_label = (
            assign.where(F.col("id") == top.src).select("community").collect()[0][0]
        )
        members = assign.where(F.col("community") == c_label).select("id")
        sub_edges = current.join(
            members.withColumnRenamed("id", "src"), "src", "semi"
        )
        sub_assign = connected_components(sub_edges).withColumnRenamed(
            "component", "community"
        )
        # Members isolated by the removal vanish from sub_edges (and
        # so from sub_assign) — re-add them as singleton communities,
        # matching the reference's keep-every-vertex dict semantics.
        isolated = members.join(sub_assign.select("id"), "id", "anti").select(
            "id", F.col("id").alias("community")
        )
        assign = (
            assign.where(F.col("community") != c_label)
            .unionByName(sub_assign)
            .unionByName(isolated)
            .localCheckpoint(eager=True)
        )
        q = modularity(original, assign, m=n_edges, deg=deg)
        if q > best_q:
            best_q = q
            best_assign = assign
        elif best_q - q > q_drop_stop:
            break
    return best_assign, best_q
