"""Fixed-point PageRank: hand-computed ranks on a tiny graph,
determinism under repartitioning, and mass-conservation bounds.
"""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import graph as G


def _edges(spark, pairs):
    sym = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_pagerank_two_node_symmetric(spark):
    # a <-> b, outdeg 1 each: contrib = rank; rank' = 150000 + 0.85*rank
    # -> both nodes stay equal every iteration (exact integer check):
    # r1 = 150000 + 1000000*17//20 = 1000000 (fixed point immediately).
    r = {row["node"]: row["rank_micro"] for row in
         G.pagerank_fixed_point(_edges(spark, [(1, 2)]), iters=3).collect()}
    assert r == {1: 1_000_000, 2: 1_000_000}


def test_pagerank_star_center_dominates(spark):
    # star: center 0 <-> leaves 1..4. Center receives 4 leaf ranks,
    # leaves receive 1/4 of the center's. Hand-compute iteration 1:
    #   leaf contrib   = 1e6 div 1 = 1e6 each -> center mass 4e6
    #   center contrib = 1e6 div 4 = 250000 -> each leaf mass 250000
    #   center r1 = 150000 + 4e6*17//20   = 3550000
    #   leaf   r1 = 150000 + 250000*17//20 = 362500
    edges = _edges(spark, [(0, i) for i in range(1, 5)])
    r1 = {row["node"]: row["rank_micro"] for row in
          G.pagerank_fixed_point(edges, iters=1).collect()}
    assert r1[0] == 3_550_000
    assert all(r1[i] == 362_500 for i in range(1, 5))


def test_pagerank_deterministic_under_partitioning(spark):
    edges = _edges(spark, [(i, (i * 7) % 23) for i in range(23)])
    a = G.pagerank_fixed_point(edges, iters=3)
    b = G.pagerank_fixed_point(edges.repartition(13), iters=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_copurchase_edges_symmetric(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ed = G.copurchase_edges(orders, li)
    fwd = ed.filter(F.col("src") < G.SUPP_OFFSET).count()
    rev = ed.filter(F.col("src") >= G.SUPP_OFFSET).count()
    assert fwd == rev and fwd > 0
    # total rank mass stays within [n*RESET, n*SCALE] (floor-div decay
    # only loses mass, damping reset only adds RESET_MICRO per node)
    pr = G.pagerank_fixed_point(ed, iters=2)
    n = pr.count()
    total = pr.agg(F.sum("rank_micro")).collect()[0][0]
    assert n * G.RESET_MICRO <= total <= n * G.SCALE


def test_copurchase_rel_rejects_custkeys_in_the_supplier_id_space(spark):
    orders = spark.createDataFrame(
        [(1, 7), (2, G.SUPP_OFFSET)], "o_orderkey long, o_custkey long")
    li = spark.createDataFrame([(1, 3), (2, 3)], "l_orderkey long, l_suppkey long")
    with pytest.raises(Exception, match="SUPP_OFFSET"):
        G.copurchase_rel(orders, li).collect()
    below = orders.filter(F.col("o_custkey") < G.SUPP_OFFSET)
    assert [tuple(r) for r in G.copurchase_rel(below, li).collect()] == [
        (7, 3 + G.SUPP_OFFSET, 1)]


def test_triangle_counts_hand_graph(spark):
    # graph: triangle 1-2-3, plus 3-4 pendant, plus triangle 3-4-5
    # sharing node 3-4 edge. Canonical u<v edges.
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)],
        "u long, v long")
    got = {r["node"]: r["n_triangles"]
           for r in G.triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}


def test_triangle_counts_no_triangles(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u long, v long")
    assert G.triangle_counts(e).count() == 0


def test_kcore_peel_hand_graph(spark):
    # triangle 1-2-3 (2-core) + pendant chain 3-4-5 (peels away at k=2)
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "u long, v long")
    got = {r["node"]: r["degree"]
           for r in G.kcore_peel(e, k=2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_peel_removes_everything_on_tree(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4), (4, 5)], "u long, v long")
    assert G.kcore_peel(e, k=2, rounds=3).count() == 0


def test_kcore_nontrivial_on_dup_graph(spark, sf_dir):
    import __spark_entry__ as entry
    rows = entry.queries()["neardup_kcore"](spark, sf_dir).collect()
    assert rows, "dup clusters of >= 3 survive the 2-core peel"
    assert all(r["degree"] >= 2 for r in rows)


def test_weighted_pagerank_unit_weights_match_unweighted(spark):
    e = spark.createDataFrame(
        [(i, (i * 3) % 7) for i in range(7) if i != (i * 3) % 7],
        "src long, dst long")
    sym = e.unionAll(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
    uw = sorted(map(tuple, G.pagerank_fixed_point(sym, iters=3).collect()))
    w1 = sorted(map(tuple, G.pagerank_fixed_point(
        sym.withColumn("w", F.lit(1)), iters=3, weight_col="w").collect()))
    assert uw == w1


def test_weighted_pagerank_weights_shift_mass(spark):
    # node 0 points at 1 (weight 9) and 2 (weight 1): node 1 gets 9x
    # node 2's share of 0's rank
    e = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        "src long, dst long, w long")
    r = {row["node"]: row["rank_micro"] for row in
         G.pagerank_fixed_point(e, iters=1, weight_col="w").collect()}
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import (
        DAMP_DEN, DAMP_NUM, RESET_MICRO, SCALE)
    c1 = (SCALE * 9) // 10
    c2 = (SCALE * 1) // 10
    assert r[1] == RESET_MICRO + (c1 * DAMP_NUM) // DAMP_DEN
    assert r[2] == RESET_MICRO + (c2 * DAMP_NUM) // DAMP_DEN


def test_bfs_depths_chain_and_cap(spark, loop_rounds):
    """BFS depths are minimum hop counts from the source, cut at the
    ``max_rounds`` cap. Each round is one checkpoint and one row-count
    probe; the walk stops at the first round that adds no node, or at
    the cap."""
    chain = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (7, 8)]
    cases = [
        # directed chain 1→2→…→6 plus an unreachable branch 7→8: the
        # cap truncates the walk, and 7/8 never appear
        (chain, 1, 4, {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}, 4),
        (chain, 1, 10, {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}, 6),
        # directed cycle 1→2→3→1: the back edge to the source adds
        # nothing
        ([(1, 2), (2, 3), (3, 1)], 1, 10, {1: 0, 2: 1, 3: 2}, 3),
        # a source with no out-edges reaches only itself
        (chain, 6, 10, {6: 0}, 2),
    ]
    for pairs, source, cap, want, rounds in cases:
        edges = spark.createDataFrame(pairs, "src long, dst long")
        depths, ran = loop_rounds(
            lambda: G.bfs_depths(edges, source, cap), 0, "count")
        assert ran == rounds, (pairs, source, cap)
        assert {r["node"]: r["depth"] for r in depths.collect()} == want


def test_bfs_depths_min_over_multiple_paths(spark):
    """Diamond 1→{2,3}→4 plus a long way round 1→5→6→4: node 4 takes
    the 2-hop depth, not the 3-hop one."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 5), (5, 6), (6, 4)],
        "src long, dst long")
    got = {r["node"]: r["depth"] for r in G.bfs_depths(edges, 1, 5).collect()}
    assert got[4] == 2 and got[6] == 2 and got[5] == 1


def test_cooccurrence_topk_exact_jaccard(spark):
    """Hand-computable baskets: jaccard must be the exact micro floor
    of |cust(a) ∩ cust(b)| / |cust(a) ∪ cust(b)|, pairs oriented a<b,
    generated once."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.graph import cooccurrence_topk
    # baskets: c1={10,20,30}, c2={10,20}, c3={10}
    rel = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 1), (1, 30, 1),
         (2, 10, 1), (2, 20, 1), (3, 10, 1)],
        "cust long, supp long, w long")
    got = {(r["supp_a"], r["supp_b"]): (r["n_co"], r["jaccard_micro"])
           for r in cooccurrence_topk(rel, k=10).collect()}
    # deg: 10→3, 20→2, 30→1
    assert got[(10, 20)] == (2, 2 * 1_000_000 // 3)   # 2/(3+2-2)
    assert got[(10, 30)] == (1, 1_000_000 // 3)       # 1/(3+1-1)
    assert got[(20, 30)] == (1, 500_000)              # 1/(2+1-1)
    assert len(got) == 3
    assert all(a < b for a, b in got)


def test_rfm_segments_partition_users(spark, sf_dir):
    """Segment cells partition the purchasing-user population; bands
    stay in 1..3; total value equals the global purchase sum."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import rfm_segments
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    rows = rfm_segments(spark, sf_dir).collect()
    p = load_table(spark, "events", sf_dir) \
        .filter(F.col("event_type") == "purchase")
    n_users = p.select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert 1 <= r["r_band"] <= 3
        assert 1 <= r["f_band"] <= 3
        assert 1 <= r["m_band"] <= 3
    total = p.agg(F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double")).first()[0]
    assert abs(sum(r["total_value"] for r in rows) - total) < 1e-6


def test_bellman_ford_cheapest_vs_bruteforce(spark):
    """4-round min-plus relaxation on a weighted diamond with a cheap
    long path: 1→2→4 costs 10+10=20 but 1→3→5→4 costs 1+1+1=3 — the
    cheaper 3-edge path must win over the shorter 2-edge one, and a
    round cap below the path length must NOT see it."""
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import bellman_ford_costs
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 4, 10), (1, 3, 1), (3, 5, 1), (5, 4, 1),
         (7, 8, 1)],
        "src long, dst long, cost long")
    got = {r["node"]: r["cost"]
           for r in bellman_ford_costs(edges, 1, rounds=4).collect()}
    assert got == {1: 0, 2: 10, 3: 1, 5: 2, 4: 3}
    capped = {r["node"]: r["cost"]
              for r in bellman_ford_costs(edges, 1, rounds=2).collect()}
    assert capped[4] == 20  # only the 2-edge path is visible yet


def test_bellman_ford_matches_dijkstra_random(spark):
    """Random sparse digraph: 6-round relaxation equals a driver-side
    Dijkstra for every node within 6 hops (the graph is small enough
    that 6 rounds cover its diameter)."""
    import heapq
    import random

    from text_sentiment_classification_hadoop_spark_spark.operators.graph import bellman_ford_costs
    rng = random.Random(7)
    n = 40
    es = [(rng.randrange(n), rng.randrange(n), rng.randint(1, 9))
          for _ in range(160)]
    edges = spark.createDataFrame(es, "src long, dst long, cost long")
    adj: dict = {}
    for u, v, c in es:
        adj.setdefault(u, []).append((v, c))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 60):
            continue
        for v, c in adj.get(u, []):
            if d + c < dist.get(v, 1 << 60):
                dist[v] = d + c
                heapq.heappush(pq, (d + c, v))
    got = {r["node"]: r["cost"]
           for r in bellman_ford_costs(edges, 0, rounds=n).collect()}
    assert got == dist


def test_association_rules_hand_values(spark):
    """Baskets c1={A,B}, c2={A,B}, c3={A}, c4={B,C}... exact directed
    confidence and lift, floor-micro, both rule directions emitted."""
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import association_rules_topk
    # (cust, supp, w): A=10 bought by c1,c2,c3; B=20 by c1,c2,c4; C=30 by c4
    rel = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 1), (2, 10, 1), (2, 20, 1), (3, 10, 1),
         (4, 20, 1), (4, 30, 1)],
        "cust long, supp long, w long")
    rows = {(r["ante"], r["cons"]): r
            for r in association_rules_topk(rel, k=10, min_co=2).collect()}
    # only pair with n_co >= 2 is (10, 20): n_co=2, n_A=3, n_B=3, N=4
    assert set(rows) == {(10, 20), (20, 10)}
    r = rows[(10, 20)]
    assert (r["n_ante"], r["n_cons"], r["n_co"]) == (3, 3, 2)
    assert r["support_micro"] == 500000            # 2/4
    assert r["confidence_micro"] == 666666         # floor(2/3 micro)
    assert r["lift_micro"] == 888888               # floor(2*4/(3*3) micro)
    assert rows[(20, 10)]["confidence_micro"] == 666666


def _sym(spark, triples):
    """Symmetrized weighted edge frame from (u, v, w) triples."""
    both = [(u, v, w) for u, v, w in triples] + \
           [(v, u, w) for u, v, w in triples]
    return spark.createDataFrame(both, "src long, dst long, w long")


def test_lpa_two_communities_with_weak_bridge(spark):
    """Two triangles joined by a weak bridge: LPA keeps two communities
    (each triangle's min id) where min-label CC would merge everything
    — the contract difference the operator exists for."""
    edges = _sym(spark, [
        (1, 2, 5), (2, 3, 5), (1, 3, 5),      # triangle A
        (10, 11, 5), (11, 12, 5), (10, 12, 5),  # triangle B
        (3, 10, 1),                           # weak bridge
    ])
    got = {r["node"]: r["community"]
           for r in G.lpa_communities(edges, rounds=3).collect()}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[10], got[11], got[12]} == {10}


def test_lpa_matches_python_simulation(spark):
    """Synchronous-update parity against a literal python simulation of
    the documented rule (Σw argmax, ties → smallest label) on a
    pseudo-random weighted graph, at three round counts — rounds=6 is
    the deepest lazy plan a registry query builds."""
    import random
    rng = random.Random(13)
    triples = {(min(a, b), max(a, b)): w for a, b, w in
               ((rng.randrange(20), rng.randrange(20), rng.randrange(1, 6))
                for _ in range(40)) if a != b}
    triples = [(u, v, w) for (u, v), w in sorted(triples.items())]

    def simulate(rounds):
        nbrs: dict[int, list[tuple[int, int]]] = {}
        for u, v, w in triples:
            nbrs.setdefault(u, []).append((v, w))
            nbrs.setdefault(v, []).append((u, w))
        label = {n: n for n in nbrs}
        for _ in range(rounds):
            new = {}
            for n, adj in nbrs.items():
                votes: dict[int, int] = {}
                for m, w in adj:
                    votes[label[m]] = votes.get(label[m], 0) + w
                new[n] = min(votes, key=lambda L: (-votes[L], L))
            label = new
        return label

    edges = _sym(spark, triples)
    for rounds in (1, 3, 6):
        got = {r["node"]: r["community"]
               for r in G.lpa_communities(edges, rounds=rounds).collect()}
        assert got == simulate(rounds), f"rounds={rounds}"


def test_lpa_sync_two_cycle(spark):
    """One weighted edge 1–2: each node takes the other's label every
    round, so synchronous LPA never settles — the reason the operator
    runs a fixed round count instead of probing for a fixpoint."""
    edges = _sym(spark, [(1, 2, 1)])
    swapped, own = {1: 2, 2: 1}, {1: 1, 2: 2}
    for rounds, want in ((1, swapped), (2, own), (3, swapped)):
        got = {r["node"]: r["community"]
               for r in G.lpa_communities(edges, rounds=rounds).collect()}
        assert got == want, f"rounds={rounds}"


def test_lpa_tie_takes_smallest_label(spark):
    """Equal-weight vote: node 5's neighbors carry labels 1 and 2 with
    identical weight — the argmax must settle on 1 (label ASC)."""
    edges = _sym(spark, [(1, 5, 3), (2, 5, 3)])
    got = {r["node"]: r["community"]
           for r in G.lpa_communities(edges, rounds=1).collect()}
    assert got[5] == 1


def test_ppr_matches_python_simulation(spark):
    """pagerank_personalized agrees with a pure-python integer
    simulation of the documented recurrence on a small random graph,
    for both a single seed and a multi-seed teleport set."""
    pairs = [(i, (i * 7 + 3) % 23) for i in range(23) if i != (i * 7 + 3) % 23]
    edges = _edges(spark, pairs)
    sym = pairs + [(b, a) for a, b in pairs]
    adj = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    for seeds in ([5], [0, 1, 2]):
        nodes = sorted(adj)
        rank = {v: (G.SCALE if v in seeds else 0) for v in nodes}
        for _ in range(3):
            mass = dict.fromkeys(nodes, 0)
            for u in nodes:
                share = rank[u] // len(adj[u])
                for v in adj[u]:
                    mass[v] = mass.get(v, 0) + share
            rank = {v: (G.RESET_MICRO if v in seeds else 0)
                    + (mass[v] * G.DAMP_NUM) // G.DAMP_DEN
                    for v in nodes}
        got = {r["node"]: r["rank_micro"] for r in
               G.pagerank_personalized(edges, seeds, iters=3).collect()}
        assert got == rank, seeds


def test_ppr_seed_locality_and_determinism(spark):
    """Mass concentrates near the seed (a far node on a chain gets
    strictly less than a near one), and results are partition-stable."""
    chain = [(i, i + 1) for i in range(8)]
    edges = _edges(spark, chain)
    r = {x["node"]: x["rank_micro"] for x in
         G.pagerank_personalized(edges, [0], iters=3).collect()}
    # reach = iters hops: nodes within 3 hops of the seed hold mass,
    # anything farther is exactly zero (no monotonicity assert — the
    # bipartite chain OSCILLATES: r[3] > r[2] after odd/even rounds)
    assert r[1] > 0 and r[2] > 0 and r[3] > 0
    assert r[4] == r[5] == r[6] == r[7] == r[8] == 0
    r2 = {x["node"]: x["rank_micro"] for x in
          G.pagerank_personalized(edges.repartition(7), [0], iters=3)
          .collect()}
    assert r == r2


def test_ppr_weighted_shifts_mass_toward_heavy_edge(spark):
    """With the teleport pinned on a hub, a heavier edge carries
    proportionally more of the hub's rank; unit weights reduce to the
    unweighted variant exactly."""
    sym = [(0, 1, 9), (1, 0, 9), (0, 2, 1), (2, 0, 1)]
    edges = spark.createDataFrame(sym, "src long, dst long, w long")
    r = {x["node"]: x["rank_micro"] for x in
         G.pagerank_personalized(edges, [0], iters=1, weight_col="w")
         .collect()}
    # hub splits SCALE 9:1 → 900000 vs 100000, then damped 17//20
    assert r[1] == (900_000 * 17) // 20
    assert r[2] == (100_000 * 17) // 20
    unit = edges.withColumn("w", F.lit(1).cast("long"))
    a = sorted(map(tuple, G.pagerank_personalized(
        unit, [0], iters=3, weight_col="w").collect()))
    b = sorted(map(tuple, G.pagerank_personalized(
        unit.drop("w"), [0], iters=3).collect()))
    assert a == b


def test_ppr_rejects_seed_without_out_edges(spark):
    """A seed absent from the out-degree table would
    silently lose its restart mass — validate_seeds (default) raises;
    the opt-out keeps the previous silent-drop behavior for callers
    that pre-validate."""
    import pytest

    edges = _edges(spark, [(0, 1), (1, 2)])
    with pytest.raises(ValueError, match="no out-edges"):
        G.pagerank_personalized(edges, [0, 99], iters=1)
    r = {x["node"]: x["rank_micro"] for x in
         G.pagerank_personalized(edges, [0, 99], iters=1,
                                 validate_seeds=False).collect()}
    assert 99 not in r and r[0] > 0
