"""Distributed graph analytics over DataFrame edge lists: fixed-point
PageRank (Page et al. 1999), personalized PageRank, BFS, k-core,
Bellman-Ford, triangle counts, co-occurrence, association rules and
label-propagation communities — plus :func:`until_stable`, the one
stop-when-stable loop that connected components (``dedup.py``) and BFS
run through.

The reference engine has no graph surface; this extends the rebuild's
iterative-algorithm family (SVM epochs, Lloyd k-means, CC label
propagation — SURVEY §2.11) with the canonical link-analysis workload.

Why *fixed-point* (integer micro-unit) arithmetic: PageRank sums
floating contributions per node, and double addition order differs
between engines and between runs at different partition counts — the
exact failure mode the repo's `pround` discipline exists for. Here we go
further: ranks live in BIGINT micro-units (1.0 == 1_000_000), per-edge
contributions are ``rank div out_degree`` and damping is ``(x * 17) div
20`` — every operation is exact 64-bit integer arithmetic, so results
are bit-identical on any engine, any partitioning, any summation order.
(A production deployment can widen SCALE to 1e9 for more resolution;
overflow headroom: node mass <= n * SCALE, safe to ~9e12 nodes.)
Mass lost to floor division simply decays — the same effect as the
standard dangling-mass approximation, and it is deterministic.

Loops. Three kinds, by what a round reads:

- convergence loops (connected components, BFS) go through
  :func:`until_stable`: each round is one step, one eager
  ``localCheckpoint`` and one driver-read probe, and the loop stops
  when the probe repeats;
- fixed-round loops that read their state ONCE per round (PageRank,
  PPR, LPA) stay plain lazy ``for`` loops: the plan grows linearly
  with the round count, which registry callers keep at <= 6;
- fixed-round loops that read their state TWICE per round
  (:func:`kcore_peel`, :func:`bellman_ford_costs`) checkpoint every
  round, since an uncut lazy plan would double per round.

Scale shape per PageRank iteration: one join of the edge list against
the node-sized rank table on ``src`` (shuffle on the edge partitioning
— at 100 TB pre-partition both sides by ``src`` so the join is
co-located), one groupBy ``dst``, one left join back to the node table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# 1.0 rank unit == 1_000_000 micro-units.
SCALE = 1_000_000
# damping 0.85 as the exact rational 17/20.
DAMP_NUM, DAMP_DEN = 17, 20
# (1 - 0.85) * SCALE, exact.
RESET_MICRO = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN

# offset distinguishing supplier nodes from customer nodes in the
# co-purchase graph. The id spaces are disjoint only while every
# customer key is below it (TPC-H SF <= ~6); copurchase_rel fails the
# query above that instead of merging customer and supplier nodes.
SUPP_OFFSET = 1_000_000


def until_stable(state: DataFrame, step, probe,
                 max_rounds: int) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for rounds ``r = 1, 2, ...`` until
    ``probe(state)`` equals the previous round's probe, or until
    ``max_rounds`` rounds ran → ``(state, converged)``.

    Each round is the step, ONE eager ``localCheckpoint`` (so every
    round's plan starts from a materialized frame and lineage stays
    flat) and ONE probe — a driver read of a scalar that stops changing
    at the fixpoint. There is no probe before round 1: the first round
    always runs, and a fixpoint is certified by two equal probes.
    ``converged`` is False when the rounds ran out first; what that
    means (a warning, or the caller's depth cap) is the caller's call.
    """
    prev = None
    for r in range(1, max_rounds + 1):
        state = step(state, r).localCheckpoint(eager=True)
        cur = probe(state)
        if r > 1 and cur == prev:
            return state, True
        prev = cur
    return state, False


def copurchase_rel(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The co-purchase RELATION ``(cust, supp, w)`` — one row per
    distinct customer<->supplier pair with its co-purchase multiplicity
    (order-line count). This is the single orders×lineitem join + pair
    aggregate that EVERY co-purchase graph view derives from; compute
    it once (and ``localCheckpoint`` it) when several graph queries run
    in one session — the weighted and unweighted edge lists are both
    narrow projections of it.

    Raises (inside the plan, so no extra job) when an ``o_custkey`` is
    ``>= SUPP_OFFSET``: that customer node would collide with a
    supplier node."""
    custkey = F.when(
        F.col("o_custkey") >= SUPP_OFFSET,
        F.raise_error(F.concat(
            F.lit(f"copurchase_rel: o_custkey >= SUPP_OFFSET ({SUPP_OFFSET}) "
                  "would collide with supplier node ids: "),
            F.col("o_custkey").cast("string")))
    ).otherwise(F.col("o_custkey"))
    return (
        orders.select("o_orderkey", custkey.alias("o_custkey"))
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_custkey").alias("cust"),
                 (F.col("l_suppkey") + SUPP_OFFSET).alias("supp"))
        .agg(F.count("*").cast("long").alias("w"))
    )


def edges_from_rel(rel: DataFrame) -> DataFrame:
    """Unweighted symmetric edge list ``(src, dst)`` from a
    :func:`copurchase_rel` frame (pairs are already distinct — the
    relation is pair-keyed). Symmetrization guarantees every node has
    out-degree >= 1, so there is no dangling-mass special case."""
    fwd = rel.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
    rev = rel.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    return fwd.unionAll(rev)


def edges_from_rel_weighted(rel: DataFrame) -> DataFrame:
    """Weighted symmetric edge list ``(src, dst, w)`` from a
    :func:`copurchase_rel` frame."""
    fwd = rel.select(F.col("cust").alias("src"),
                     F.col("supp").alias("dst"), "w")
    rev = rel.select(F.col("supp").alias("src"),
                     F.col("cust").alias("dst"), "w")
    return fwd.unionAll(rev)


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Symmetric customer<->supplier edge list from orders x lineitem:
    an undirected 'bought from' bipartite graph, as two directed edges
    per relation (see :func:`copurchase_rel` / :func:`edges_from_rel`
    for the shared-materialization decomposition)."""
    return edges_from_rel(copurchase_rel(orders, lineitem))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact distributed per-node triangle counts (Suri &
    Vassilvitskii 2011, "Counting triangles and the curse of the last
    reducer") over a canonical undirected edge list ``(u, v)`` with
    ``u < v``, distinct → ``(node, n_triangles)`` for every node in at
    least one triangle.

    Orientation by id order means each triangle ``a<b<c`` is generated
    exactly once: wedge join (a,b)x(b,c) on the middle node, then one
    membership join against (a,c). Two shuffles, both on edge keys —
    never an all-pairs product; skew from high-degree hub nodes is the
    'last reducer' the paper names, and the id-orientation already
    splits each hub's wedge load across its lower neighbors. At 100 TB
    graph scale, pre-partition the edge list by ``u`` so the membership
    probe co-locates."""
    # materialize the canonical edge list once: it feeds three join
    # sides, and an expensive upstream plan (e.g. the LSH near-dup
    # pipeline) would otherwise be recomputed per consumer. Edge lists
    # here are output-sized (near-dup pairs), not corpus-sized.
    e = edges.select("u", "v").distinct().localCheckpoint(eager=True)
    wedge = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(e.select(F.col("u").alias("b"), F.col("v").alias("c")), "b")
    )
    tri = wedge.join(
        e, (wedge["a"] == e["u"]) & (wedge["c"] == e["v"])
    ).select("a", "b", "c")
    members = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles"))


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983 degeneracy cores;
    Batagelj-Zaversnik is the sequential form — distributed engines
    peel in synchronized rounds): repeatedly delete nodes of degree
    < ``k`` from the undirected canonical edge list ``(u, v)``,
    ``rounds`` times → ``(node, degree)`` over the residual graph (the
    nodes still carrying an edge, with their residual degrees).

    FIXED round count, deliberately: convergence-dependent loops cannot
    be mirrored by an unrolled SQL oracle, and in practice the peel
    converges in a handful of rounds (each round removes every
    currently-underdegree node simultaneously). A production caller
    loops until a round removes nothing — same per-round plan, driver
    reads one scalar per round like the CC loop.

    Per round: one degree aggregation + one semi-join-shaped filter of
    the (shrinking) edge list against the low-degree node set — edge
    data only ever contracts; `localCheckpoint` cuts lineage."""
    e = edges.select("u", "v").distinct().localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (e.select(F.col("u").alias("n"))
               .unionAll(e.select(F.col("v").alias("n")))
               .groupBy("n").agg(F.count("*").alias("d")))
        low = deg.filter(F.col("d") < k).select("n")
        e = (
            e.join(low.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(low.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return (e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count("*").cast("long").alias("degree")))


def copurchase_edges_weighted(orders: DataFrame,
                              lineitem: DataFrame) -> DataFrame:
    """Like :func:`copurchase_edges` but carrying the co-purchase
    MULTIPLICITY (number of order-lines linking the pair) as an integer
    edge weight ``w`` — the natural input to weight-proportional
    PageRank."""
    return edges_from_rel_weighted(copurchase_rel(orders, lineitem))


def pagerank_fixed_point(edges: DataFrame, iters: int = 3,
                         weight_col: str | None = None) -> DataFrame:
    """``iters`` power iterations of fixed-point PageRank over a
    directed edge list ``(src, dst)`` where every node appears as a
    ``src`` (symmetrize first if needed) -> ``(node, rank_micro)``.

    rank'_micro(v) = RESET_MICRO
                   + (sum_{u->v} ((rank_micro(u)·w) div sum_w(u)) * 17) div 20

    Unweighted (``weight_col=None``) every edge carries weight 1, so
    the formula reduces to the classic ``rank div outdeg`` split. With
    integer edge weights (co-purchase multiplicities, link counts) the
    split is weight-proportional and STILL exact 64-bit arithmetic —
    overflow headroom: ``rank·w < 2^63`` needs ``n·SCALE·w_max``
    < 9.2e18, i.e. w_max ≲ 9e12/n at SCALE 1e6.

    This is :func:`pagerank_personalized` with every node a seed; the
    shared loop takes the seed flag as the constant 1, so the global
    path adds no seed table, probe or node checkpoint.
    """
    edges, deg = _pagerank_inputs(edges, weight_col)
    return _pagerank_loop(edges, deg, deg.select(F.col("src").alias("node")),
                          F.lit(1), iters)


def _pagerank_inputs(edges: DataFrame, weight_col: str | None):
    """``(src, dst, _w)`` edges and the per-source weight mass
    ``(src, sum_w)``, both materialized once: the edge list feeds the
    mass table and every iteration's contribution join, and a lazy
    plan (orders x lineitem here) would be recomputed iters+1 times."""
    if weight_col is None:
        edges = edges.select("src", "dst", F.lit(1).cast("long").alias("_w"))
    else:
        edges = edges.select("src", "dst",
                             F.col(weight_col).cast("long").alias("_w"))
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(
        F.sum("_w").alias("sum_w")).localCheckpoint(eager=True)
    return edges, deg


def _pagerank_loop(edges: DataFrame, deg: DataFrame, nodes: DataFrame,
                   seed, iters: int) -> DataFrame:
    """The power iterations shared by both PageRank variants: start at
    ``seed·SCALE``, and each round reset to ``seed·RESET_MICRO`` plus
    the damped incoming mass. ``seed`` is a column of ``nodes`` (0/1)
    or the literal 1 (every node a seed).

    A plain lazy loop with no barrier: each round reads ``ranks`` once,
    so the returned plan grows linearly with ``iters`` and runs as one
    AQE-fused job at collection time. Results are partitioning- and
    lineage-independent (exact BIGINT arithmetic)."""
    ranks = nodes.select(
        "node", (seed * SCALE).cast("long").alias("rank_micro"))
    for _ in range(iters):
        # per-node (rank, sum_w) first (node-sized join), THEN the one
        # edge-sized join — the per-edge division needs the edge's own
        # weight, so it evaluates edge-side. String-key (USING) joins
        # throughout: the lazy multi-round lineage re-joins frames
        # derived from `deg`/`nodes` against themselves, and
        # dataset-qualified column refs (`deg["src"]`) trip Spark's
        # ambiguous-self-join check a per-round checkpoint would mask.
        share = (
            ranks.join(deg.withColumnRenamed("src", "node"), "node")
            .select(F.col("node").alias("src"), "rank_micro", "sum_w")
        )
        contrib = (
            edges.join(share, "src")
            .select("dst", F.expr("(rank_micro * _w) div sum_w").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("mass"))
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (seed * RESET_MICRO
                 + F.expr(f"(coalesce(mass, 0) * {DAMP_NUM}) div {DAMP_DEN}")
                 ).cast("long").alias("rank_micro"),
            )
        )
    return ranks


def pagerank_personalized(edges: DataFrame, seeds: list[int],
                          iters: int = 3,
                          weight_col: str | None = None,
                          validate_seeds: bool = True) -> DataFrame:
    """``iters`` power iterations of PERSONALIZED PageRank (random walk
    with restart: the teleport lands on the ``seeds`` set instead of
    uniformly — Page et al. 1999 §6 "personalized" vector; the
    graph-proximity scorer behind seed-expansion curation, related-item
    ranking, and trust propagation) → ``(node, rank_micro)``.

    rank'_micro(v) = [v ∈ seeds]·RESET_MICRO
                   + (sum_{u→v} ((rank_micro(u)·w) div sum_w(u)) · 17) div 20

    with r0 = SCALE on seeds and 0 elsewhere. Exactly the
    :func:`pagerank_fixed_point` BIGINT fixed-point discipline — every
    op exact 64-bit integer, bit-identical on any engine or
    partitioning; mass floors decay deterministically. The seed flag
    rides the node table (one broadcast hash join against the
    driver-provided seed list, resolved once before the loop), so the
    per-iteration plan is IDENTICAL to the global variant: one
    edge×rank join, one dst aggregate, one node-sized left join.

    Seeds MUST be source nodes: the node table derives from out-degree
    (``deg``), so a seed with no out-edges is not a row of ``nodes``
    and its restart mass would silently vanish. ``validate_seeds``
    (default on) raises on such seeds — one broadcast anti-join
    against the node-sized ``deg`` table, resolved once before the
    loop."""
    edges, deg = _pagerank_inputs(edges, weight_col)
    seed_df = local_frame(edges.sparkSession,
                          [(int(s),) for s in sorted(set(seeds))],
                          "node long")
    if validate_seeds:
        missing = (seed_df.join(deg.select(F.col("src").alias("node")),
                                "node", "left_anti")
                   .orderBy("node").limit(5).collect())
        if missing:
            raise ValueError(
                "pagerank_personalized: seeds with no out-edges (their "
                "teleport mass would vanish — seeds must appear as edge "
                f"sources): {[r['node'] for r in missing]}")
    nodes = (deg.select(F.col("src").alias("node"))
             .join(F.broadcast(seed_df.withColumn("_is", F.lit(1))),
                   "node", "left")
             .select("node", F.coalesce("_is", F.lit(0)).alias("_seed"))
             .localCheckpoint(eager=True))
    return _pagerank_loop(edges, deg, nodes, F.col("_seed"), iters)


def bfs_depths(edges: DataFrame, source: int,
               max_rounds: int = 4) -> DataFrame:
    """Single-source BFS over a directed edge list → ``(node, depth)``
    for every node reachable from ``source`` within ``max_rounds``
    hops (minimum hop count; the source itself is depth 0).

    The Pregel-style frontier loop, DataFrame-native, over ONE frame
    ``(node, depth)`` of the nodes seen so far. Round ``r``'s frontier
    is the rows at ``depth = r-1``: they equi-join the edge list
    (src-keyed shuffle — frontier-sized, not graph-sized), and the
    reached nodes not yet seen (node-keyed anti-join) join the frame at
    depth ``r``. The loop runs through :func:`until_stable` with the
    frame's row count as the probe, so it stops one round after the
    frontier empties. The depth cap ``max_rounds`` is the contract: a
    walk cut by it returns the nodes within ``max_rounds`` hops, with
    no warning. At 100 TB the per-round cost tracks the frontier ×
    average degree; on small-diameter graphs (social/co-purchase) the
    whole walk is a handful of rounds."""
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))

    def step(seen: DataFrame, r: int) -> DataFrame:
        reached = (seen.filter(F.col("depth") == r - 1)
                   .join(e, F.col("node") == F.col("_s"))
                   .select(F.col("_d").alias("node")).distinct()
                   .join(seen, "node", "left_anti")
                   .select("node", F.lit(r).alias("depth")))
        return seen.unionByName(reached)

    start = local_frame(edges.sparkSession, [(int(source), 0)],
                        "node long, depth int")
    seen, _ = until_stable(start, step, lambda s: s.count(), max_rounds)
    return seen.orderBy("node")


def cooccurrence_topk(rel: DataFrame, k: int = 20) -> DataFrame:
    """Item-item co-occurrence similarity (the market-basket /
    collaborative-filtering primitive) over a bipartite relation
    ``(cust, supp, w)`` (:func:`copurchase_rel`) → the ``k`` supplier
    pairs most co-bought by the same customers:
    ``(supp_a, supp_b, n_co, jaccard_micro)``, Jaccard in exact
    integer micro-units, ordered by (jaccard desc, pair asc).

    Plan: pair generation is the basket-oriented self-join on the
    CUSTOMER key with ``supp_a < supp_b`` orientation (each unordered
    pair generated once; never an item×item product), one pair-keyed
    count, one broadcast of the |items|-sized degree table for the
    union denominator, and a global top-k (TakeOrdered). Cost is
    Σ_c deg(c)² over customers — the hub-customer quadratic every
    co-occurrence engine has; at 100 TB cap each basket at the top-N
    items by weight (drop-stats logged) or switch the tail to the
    MinHash estimate (operators/dedup machinery) — the pair plan is
    unchanged either way. Jaccard = co / (deg_a + deg_b − co),
    floor-divided micro-exact on both engines."""
    r = rel.select("cust", "supp")
    deg = r.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    a = r.select(F.col("cust"), F.col("supp").alias("supp_a"))
    b = r.select(F.col("cust"), F.col("supp").alias("supp_b"))
    pairs = (a.join(b, "cust")
             .filter(F.col("supp_a") < F.col("supp_b"))
             .groupBy("supp_a", "supp_b")
             .agg(F.count(F.lit(1)).alias("n_co")))
    j = (pairs
         .join(F.broadcast(deg.select(F.col("supp").alias("supp_a"),
                                      F.col("deg").alias("_da"))), "supp_a")
         .join(F.broadcast(deg.select(F.col("supp").alias("supp_b"),
                                      F.col("deg").alias("_db"))), "supp_b")
         .select("supp_a", "supp_b", F.col("n_co").cast("long").alias("n_co"),
                 F.expr("CAST((n_co * 1000000) div (_da + _db - n_co) "
                        "AS BIGINT)").alias("jaccard_micro")))
    return (j.orderBy(F.col("jaccard_micro").desc(),
                      F.col("supp_a").asc(), F.col("supp_b").asc())
            .limit(k))


def bellman_ford_costs(edges: DataFrame, source: int,
                       rounds: int = 4,
                       cost_col: str = "cost") -> DataFrame:
    """K-round Bellman-Ford single-source cheapest costs over a
    weighted directed edge list ``(src, dst, <cost_col>)`` →
    ``(node, cost)`` = the minimum path cost from ``source`` using at
    most ``rounds`` edges (integer costs; unreached nodes absent).
    The weighted companion to :func:`bfs_depths` — hop counts become
    additive costs, min-plus relaxation replaces the frontier visit.

    Pregel-style and bounded: each round equi-joins the CURRENT
    distance table (≤ |nodes| rows — contracted to min-per-node every
    round, so path proliferation never materializes) against the edge
    list on ``src``, unions, and re-minimizes; ``localCheckpoint``
    per round keeps lineage flat. Fixed round count (no convergence
    probe) keeps the operator deterministic and oracle-mirrorable as
    K unrolled min-plus CTEs. At 100 TB the per-round shuffle is
    distance-table × average-degree — frontier-scaled, never
    graph²."""
    sess = edges.sparkSession
    dist = (local_frame(sess, [(int(source), 0)], "node long, cost long")
            .localCheckpoint(eager=True))
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"),
                     F.col(cost_col).alias("_c"))
    for _ in range(rounds):
        relaxed = (dist.join(e, dist.node == e._s)
                   .select(F.col("_d").alias("node"),
                           (F.col("cost") + F.col("_c")).alias("cost")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("cost").alias("cost"))
                .localCheckpoint(eager=True))
    return dist.orderBy("node")


def association_rules_topk(rel: DataFrame, k: int = 20,
                           min_co: int = 2) -> DataFrame:
    """Directed association rules over the same bipartite baskets as
    :func:`cooccurrence_topk` → the ``k`` rules ``ante ⇒ cons`` with
    the highest lift: ``(ante, cons, n_ante, n_cons, n_co,
    support_micro, confidence_micro, lift_micro)`` — the recommender/
    market-basket staple (support = P(a,b), confidence = P(b|a),
    lift = P(a,b)/(P(a)P(b))).

    Same plan skeleton as the undirected co-occurrence (basket
    self-join on the customer key, a<b orientation generated ONCE
    then mirrored into both rule directions — never an item×item
    product; broadcast degree table; TakeOrdered top-k), with every
    metric in exact integer micro-units: support and confidence by
    the remainder-exact protocol, lift as ``(n_co·N·10^6) DIV
    (n_a·n_b)`` computed in DECIMAL(38,0) so the product can't wrap a
    BIGINT at large N (the `holdout_ab_lift` overflow lesson). The
    ``min_co`` floor prunes noise pairs before the mirror. Hub-basket
    quadratic and its caps: see :func:`cooccurrence_topk`."""
    r = rel.select("cust", "supp")
    n_total = r.select("cust").distinct().count()
    deg = r.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    a = r.select(F.col("cust"), F.col("supp").alias("supp_a"))
    b = r.select(F.col("cust"), F.col("supp").alias("supp_b"))
    pairs = (a.join(b, "cust")
             .filter(F.col("supp_a") < F.col("supp_b"))
             .groupBy("supp_a", "supp_b")
             .agg(F.count(F.lit(1)).alias("n_co"))
             .filter(F.col("n_co") >= min_co))
    both = pairs.select(F.col("supp_a").alias("ante"),
                        F.col("supp_b").alias("cons"), "n_co") \
        .unionByName(pairs.select(F.col("supp_b").alias("ante"),
                                  F.col("supp_a").alias("cons"), "n_co"))
    j = (both
         .join(F.broadcast(deg.select(F.col("supp").alias("ante"),
                                      F.col("deg").alias("_na"))), "ante")
         .join(F.broadcast(deg.select(F.col("supp").alias("cons"),
                                      F.col("deg").alias("_nc"))), "cons"))
    lift = F.expr(
        f"CAST((CAST(n_co AS DECIMAL(38,0)) * {int(n_total)} * 1000000)"
        " DIV (CAST(_na AS DECIMAL(38,0)) * _nc) AS BIGINT)")
    conf = F.expr("CAST((n_co * 1000000) DIV _na AS BIGINT)")
    supp = F.expr(
        f"CAST((n_co * 1000000) DIV {int(n_total)} AS BIGINT)")
    return (j.select("ante", "cons",
                     F.col("_na").cast("long").alias("n_ante"),
                     F.col("_nc").cast("long").alias("n_cons"),
                     F.col("n_co").cast("long").alias("n_co"),
                     supp.alias("support_micro"),
                     conf.alias("confidence_micro"),
                     lift.alias("lift_micro"))
            .orderBy(F.col("lift_micro").desc(), "ante", "cons")
            .limit(k))


def lpa_communities(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007,
    "Near linear time algorithm to detect community structures") over a
    symmetric weighted edge list ``(src, dst, w)`` → ``(node,
    community)`` — COMMUNITY detection, a different contract from
    :func:`~..dedup.connected_components`' min-label CC: the update is
    the weight-MODE of the neighborhood, not the min, so densely
    intra-linked groups keep their own label even inside one connected
    component.

    Update (all nodes simultaneously, ``rounds`` fixed):

        label'(v) = argmax_L  Σ  w(u,v)   over neighbors u with
                    label(u) = L; ties → smallest L

    Determinism contract (cross-engine, what the unrolled-SQL oracle
    recomputes): init label(v) = v; synchronous rounds (no in-round
    visibility — the asynchronous variant is order-dependent and can't
    be oracled); integer weights summed in BIGINT; argmax by
    ``(Σw DESC, label ASC)``. A FIXED round count rather than a
    convergence probe: sync LPA can 2-cycle on bipartite structure (one
    weighted edge 1–2 swaps its two labels every round), so "run r
    rounds" is the well-defined semantics (r=3 reaches the
    obvious partition on shallow community graphs; scale it with graph
    diameter, not size).

    Scale shape: each round is one (src-keyed) equi-join of the
    checkpointed edge list against the |V|-sized label table, a
    partial-aggregating ``(node, label)`` sum, and a ``node``-keyed
    max-struct argmax — two shuffles per round, both on node ids, hub
    skew absorbed map-side exactly like PageRank's contribution sum.
    Nothing driver-sided; the label table never exceeds |V| rows.

    Materialization discipline: the returned plan is LAZY, a plain
    ``for`` loop with no barrier — the rounds' shuffles run at
    collection time under the session's then-current confs, so a conf
    set around the call does not reach them. Each round reads the label
    table once, so the plan grows linearly with ``rounds`` (registry
    callers use at most 6). Measured at sf0.1, the lazy AQE-fused plan
    at session defaults beats any eager-barrier variant ~2x: eager
    ``localCheckpoint`` pays row materialization + read-back that a
    fused 6-shuffle count never does."""
    edges = (edges.select("src", "dst", F.col("w").cast("long").alias("w"))
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("dst").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(rounds):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n"), "label")
            .agg(F.sum("w").alias("ws")))
        # argmax (ws desc, label asc) as one max-struct: flip the label
        # sign so the lexicographic max is (max ws, then MIN label)
        labels = (
            votes.groupBy(F.col("n").alias("node"))
            .agg(F.max(F.struct(F.col("ws"), (-F.col("label")).alias("_nl")))
                 .alias("_m"))
            .select("node", (-F.col("_m._nl")).alias("label")))
    return labels.select("node", F.col("label").alias("community"))
