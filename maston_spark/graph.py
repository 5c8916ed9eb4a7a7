"""Graph algorithms over edge DataFrames.

Connected components (the dedup-cluster primitive) lives in
`maston_spark.llm.dedup`; this module holds the iterative numeric
family, starting with fixed-iteration PageRank (Page et al. 1999;
public). The power method is expressed as a driver-side loop of
join+aggregate stages — each iteration is ONE equi-join of the rank
vector with the edge list plus one combiner-reduced sum, so an
iteration costs exactly one shuffle of (dst, contribution) rows and
the rank vector never leaves the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Cross-engine determinism: each iteration's contributions are
    rounded to 9 decimals and summed as DECIMAL(28,9) (exact,
    order-independent), and the resulting rank is re-rounded to 9 —
    so every iteration's vector is bit-identical on any engine or
    partitioning, and a SQL oracle can replay the same fixed number
    of iterations as inlined CTE stages.

    Dangling nodes (no out-edges) keep only the teleport term —
    their mass is not redistributed (documented simplification the
    oracle mirrors; the bipartite graphs this engine builds have
    none).

    Scale: the rank vector is |V| rows, the join is edge-partitioned
    (|E| rows shuffle per iteration as slim (dst, decimal) pairs),
    and `iterations` is a small constant — the classic bounded
    power-method shape.
    """
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n = nodes.count()  # one driver scalar, |V|
    base = round((1.0 - damping) / n, 9)
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg"))
    ranks = nodes.select("node", F.lit(round(1.0 / n, 9)).alias("rank"))
    for it in range(iterations):
        contrib = (
            edges.join(ranks, edges[src_col] == ranks["node"])
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("node"),
                F.round(
                    F.lit(damping) * F.col("rank") / F.col("__deg"), 9
                ).cast("decimal(28,9)").alias("__c"),
            )
        )
        sums = contrib.groupBy("node").agg(
            F.sum("__c").cast("double").alias("__in")
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + F.coalesce(F.col("__in"), F.lit(0.0)), 9
                ).alias("rank"),
            )
        )
        # lazy lineage cut every few iterations: the plan otherwise
        # grows one join+agg deeper per iteration, and past ~10
        # levels analysis time dominates the actual work (same
        # pattern as connected_components' label-propagation loop)
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_stats(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Global triangle census over an undirected edge list — ONE row
    ``(n_edges, n_wedges, n_triangles, transitivity)`` with
    ``transitivity = 3·triangles / wedges`` (the global clustering
    coefficient, Watts-Strogatz). Run over a near-duplicate pair list
    this audits THRESHOLD TRANSITIVITY: low transitivity means
    "A≈B≈C but A≉C" chains dominate, so connected-component dedup
    clusters (q55) are merging documents far below the pairwise bar.

    Degree-oriented counting (Schank & Wagner 2005's node-iterator++
    / "forward" algorithm): orient every edge from its lower
    (degree, id) endpoint to the higher; each triangle then has
    exactly one vertex with out-edges to both others, so the
    out-adjacency self-join enumerates each triangle once, and the
    closing edge is confirmed with an equi-join against the canonical
    edge list. The orientation bounds out-degree by O(√|E|) on any
    graph (arboricity argument), so the wedge join never sees the
    deg² blow-up of a hot vertex — THE reason this shape survives a
    power-law dup graph at corpus scale. The wedge COUNT needs no
    join at all: Σ C(deg, 2) over the |V|-row degree table.

    ``transitivity`` is emitted as the raw IEEE division of two
    exact integers (< 2⁵³) — bit-identical on any engine, no
    rounding-grid midpoint to disagree on.
    """
    from maston_spark.caching import scoped_persist

    # The canonical edge list feeds FIVE consumers (degree union ×2,
    # the edge count, the orientation join, the closing-edge semi
    # join); persisting it cuts the upstream pipeline — often an LSH
    # candidate chain — from five executions to one.
    e = scoped_persist(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    # round-16 note (guide §5, measured and REJECTED): deg feeds three
    # subtrees and o two, but persisting them costs MORE than the
    # recompute (q172 5.0 → 8.0 s A/B on one host phase): both rebuild
    # cheaply from the persisted `e`, and Spark runs the independent
    # count/wedge subtrees CONCURRENTLY inside the one action — a
    # persist serializes that materialization. Persist pays only when
    # the re-executed upstream is expensive (the `e` persist above,
    # dbscan's grid join), not for slim derived aggregates.
    deg = (
        e.select(F.col("a").alias("x"))
        .unionAll(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    # d*(d-1) is always even — integer `div` keeps the whole sum in
    # exact int64 (float division would lose bits past 2^53 wedges on
    # exactly the power-law graphs this operator is built for)
    n_wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).cast("long").alias("n_wedges")
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("__db"))
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    o2 = o.select(F.col("src"), F.col("dst").alias("dst2"))
    cand = (
        o.join(o2, "src")
        .filter(F.col("dst") < F.col("dst2"))
        .select(
            F.least("dst", "dst2").alias("a"),
            F.greatest("dst", "dst2").alias("b"),
        )
    )
    n_tri = cand.join(e, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    one = F.lit(1).alias("__k")
    return (
        n_edges.select(one, "n_edges")
        .join(n_wedges.select(one, "n_wedges"), "__k")
        .join(n_tri.select(one, "n_triangles"), "__k")
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3.0) * F.col("n_triangles")) / F.col("n_wedges"),
            ).alias("transitivity"),
        )
    )


def assortativity(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Degree assortativity of an undirected edge list — one row
    ``(n_nodes, n_edges, r)``: the Pearson correlation of endpoint
    degrees over edges (Newman 2002). Positive r = hubs attach to
    hubs (a dup graph dominated by big mirror cliques), negative =
    hub-and-spoke (one template document matched by many singletons)
    — the one-number structural fingerprint read next to
    :func:`triangle_stats`' transitivity before trusting
    connected-component clusters.

    Exact shape: over the SYMMETRIZED endpoint pairs (each undirected
    edge contributes both orientations, the standard convention) the
    pair count is Σd, Σx = Σd² and Σx² = Σd³, so all three fold from
    the |V|-row degree table alone. Only Σxy = 2·Σ₍ᵤ,ᵥ₎∈E dᵤdᵥ needs
    the edge list joined to the degrees, once per endpoint. Every
    moment is an exact integer in decimal(38,0) (``d`` is cast before
    it is multiplied: d³ overflows bigint past d ≈ 2.1M); then
    ``r = (nΣxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²))`` with
    Σy = Σx and Σy² = Σx² closes as one quotient with no sqrt
    (round 6; NULL when the variance is 0 — a degree-regular graph has
    undefined assortativity). Duplicate edges in either orientation,
    self-loops and NULL endpoints are dropped by the one least/greatest
    ``distinct``, so callers need no dedupe of their own."""
    # A NULL endpoint fails `u != v`. The not-null filters after it
    # restate what the joins below infer, for every consumer alike, so
    # all consumers plan the same exchanges: the edge list is read and
    # de-duplicated once, and the degree table aggregated once.
    e = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .filter(F.col("n").isNotNull())
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d"))
    )
    node = deg.agg(
        F.count(F.lit(1)).cast("long").alias("__nv"),
        F.sum(F.col("d") * F.col("d")).alias("__sx"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("__sxx"),
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("__du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("__dv"))
    edge = e.join(du, "u").join(dv, "v").agg(
        F.count(F.lit(1)).cast("long").alias("__ne"),
        F.sum(F.col("__du") * F.col("__dv")).alias("__suv"),
    )
    n = (F.col("__ne") * 2).cast("double")
    sx = F.col("__sx").cast("double")
    sxy = (F.col("__suv") * 2).cast("double")
    sxx = F.col("__sxx").cast("double")
    num = n * sxy - sx * sx
    den = n * sxx - sx * sx
    return edge.join(F.broadcast(node)).select(
        F.col("__nv").alias("n_nodes"),
        F.col("__ne").alias("n_edges"),
        F.when(den > 0, F.round(num / den, 6)).alias("r"),
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration HITS hubs-and-authorities (Kleinberg 1999;
    public) over a directed edge list — ``(node, hub, authority)``
    per node: an authority is pointed to by good hubs, a hub points
    to good authorities — the bipartite link-analysis member next to
    :func:`pagerank`'s random-surfer rank. On a supplier→part supply
    graph the two scores answer different questions: authoritative
    parts are sourced by the broadest well-connected suppliers;
    hub suppliers stock the catalog's best-covered parts — which is
    exactly the mutual-reinforcement pair PageRank's single score
    collapses.

    Cross-engine determinism (the :func:`pagerank` discipline): each
    half-iteration sums the opposite score as DECIMAL(28,9) (exact,
    order-independent), normalizes by the MAX raw score (max is
    order-exact, unlike an L2 norm's sqrt), and rounds the quotient
    to 9 — so every iteration's vectors are bit-identical on any
    engine or partitioning and a SQL oracle replays the same fixed
    iterations as inlined CTE stages. Nodes without in-edges score
    authority 0; without out-edges, hub 0.

    Scale: score vectors are |V| rows; each half-iteration shuffles
    |E| slim (node, decimal) pairs into one combiner-reduced sum;
    the max-normalizer is a broadcast 1-row frame (never a driver
    collect); ``iterations`` is a small constant.

    Round-16 optimization (guide §2.4 — remove shuffles outright):
    mid-iteration score vectors stay SPARSE. A node absent from the
    score frame has score 0, and a 0 score contributes exactly 0 to
    the next half-iteration's inner-join sum — so the per-half dense
    re-join against the |V|-row ``nodes`` frame (two extra shuffles
    per half-iteration, 8 per default run) is pure bookkeeping; the
    dense fill happens ONCE at the end (plan diff: 4 × (nodes join +
    exchange) dropped), and the EDGE LIST is lineage-cut once with a
    lazy localCheckpoint — six plan subtrees (node census ×2 + one per
    half-iteration) otherwise embed the caller's whole upstream
    pipeline, and because each iteration's score plan nests the
    previous one, the edge subtree multiplies exponentially in the
    final plan (652 Exchange nodes at q297 before; the optimizer
    re-plans every copy even though execution reuses exchanges). A
    ``scoped_persist`` was tried first and measured 3× WORSE than the
    baseline — CacheManager re-matches the cached plan against every
    still-nested score subtree — so this is the k_core/pagerank
    checkpoint discipline instead (q297: 5.7 → ~4.9 s at sf0.1)."""
    edges = edges.select(
        F.col(src_col).alias(src_col), F.col(dst_col).alias(dst_col)
    ).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(1.0).alias("authority"))

    def _half(score, score_col, from_col, to_col, out_col):
        # sparse: only nodes with >= 1 in-edge (for authority) / out-
        # edge (for hub) appear; zero-score nodes are absent, which
        # the next half-iteration's inner join treats identically
        raw = (
            edges.join(score, edges[from_col] == score["node"])
            .select(
                F.col(to_col).alias("node"),
                F.col(score_col).cast("decimal(28,9)").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__raw"))
            # raw feeds BOTH the max-normalizer and the quotient, so
            # each half-iteration doubled the nested score plan —
            # 2^(2·iterations) copies of the deepest subtree by the
            # last half (314 Exchange nodes in q297's printed plan).
            # The lazy checkpoint makes it a leaf: linear plan growth,
            # one execution per half instead of a ReusedExchange pair.
            .localCheckpoint(eager=False)
        )
        m = raw.agg(F.max("__raw").alias("__m"))
        return raw.crossJoin(F.broadcast(m)).select(
            "node",
            F.round(
                F.col("__raw").cast("double") / F.col("__m").cast("double"),
                9,
            ).alias(out_col),
        )

    for it in range(iterations):
        auth = _half(hub, "hub", src_col, dst_col, "authority")
        hub = _half(auth, "authority", dst_col, src_col, "hub")
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            auth = auth.localCheckpoint(eager=False)
            hub = hub.localCheckpoint(eager=False)
    # ONE dense fill at the end: nodes with no out-edges score hub 0,
    # no in-edges score authority 0 (identical to the former per-half
    # coalesce — round(0.0) is 0.0 at every scale)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.round("hub", 6), F.lit(0.0)).alias("hub"),
            F.coalesce(F.round("authority", 6), F.lit(0.0)).alias("authority"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983) — one row per peel
    round ``(round, n_vertices, n_edges, converged)``: the k-core is
    the maximal subgraph where every vertex keeps degree ≥ k, found
    by repeatedly deleting under-degree vertices; the census of each
    round IS the cohesion profile (how fast the graph collapses to
    its dense core), and the converged tail rows give the core's
    size. The density member beside :func:`triangle_stats`' local
    clustering and :func:`hits`/:func:`pagerank`'s spectral ranks —
    a k-core survives ANY vertex ordering, which no degree cutoff
    applied once can claim.

    Round semantics (the q297 bounded-iteration discipline — a FIXED
    round count, never data-dependent recursion, so a SQL oracle
    replays the rounds as chained CTE stages): round r deletes every
    vertex whose degree in round r−1's subgraph is < k, then keeps
    only edges with both endpoints alive. ``converged`` is true once
    the edge count stops changing; peeling provably needs ≤ |V|
    rounds but collapses geometrically in practice — pick ``rounds``
    so the last row reads converged (the hand case pins both the
    converged and the mid-peel shapes). Edges are undirected and
    deduped on the canonical (min, max) pair; self-loops drop.

    Scale shape: each round is ONE degree aggregation (combiner-
    reduced |E|→|V|) plus two semi-joins back onto the pair list —
    O(|E|) per round, ``rounds`` a small constant; per-round counts
    are 1-row aggs unioned into the ≤``rounds``-row result, and each
    round's shrinking pair list is localCheckpoint-ed — each round
    references the previous pair list FOUR times (degree union +
    both semi-joins), so without lineage truncation the logical
    plan quadruples per round and plan stringification alone OOMs
    by round 6 (the pagerank/hits ``checkpoint_every`` discipline,
    here every round because of the 4× fan-out)."""
    pairs = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    stats = []
    prev_edges = None
    for r in range(1, rounds + 1):
        deg = (
            pairs.select(F.col("a").alias("id"))
            .unionByName(pairs.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        keep = deg.filter(F.col("__d") >= k).select("id")
        pairs = (
            pairs.join(
                keep.withColumnRenamed("id", "a"), "a", "left_semi"
            )
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        # round-16 (guide §2.6 — driver barriers): ONE fused agg per
        # round replaces the former count() + distinct().count() pair
        # (two driver actions per round = 2·rounds fleet-wide
        # barriers); the endpoint union has exactly 2·|E| rows, so
        # count(*) div 2 is the edge count and count(DISTINCT id) the
        # vertex census — flagged by the round-16 sweep at 10× as a
        # multi-second absolute mover (17.7 → 12.1 s same-phase A/B
        # min-of-3 at 10×)
        row = (
            pairs.select(F.col("a").alias("id"))
            .unionByName(pairs.select(F.col("b").alias("id")))
            .agg(
                (F.count(F.lit(1)) / 2).cast("long").alias("__e"),
                F.countDistinct("id").alias("__v"),
            )
            .collect()[0]
        )
        n_edges, n_vertices = int(row["__e"]), int(row["__v"])
        stats.append(
            (
                r,
                int(n_vertices),
                int(n_edges),
                prev_edges is not None and n_edges == prev_edges,
            )
        )
        prev_edges = n_edges
    return spark.createDataFrame(
        stats, "round int, n_vertices long, n_edges long, converged boolean"
    )
