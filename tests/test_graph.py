"""Graph-analytics operators (operators/graph.py) on hand-checked graphs."""

import pytest
from pyspark.sql import functions as F

from influxdb_ha_spark.operators import graph as G
from influxdb_ha_spark.operators.graph import SCALE_FP


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_co_occurrence_edges_dedup_and_cap(spark):
    df = spark.createDataFrame(
        # group 100: items 1,2,2,3 -> edges (1,2),(1,3),(2,3); group 200
        # re-yields (2,3) (dedup); group 300 has one item (no pairs)
        [(100, 1), (100, 2), (100, 2), (100, 3), (200, 2), (200, 3),
         (300, 7)],
        "g long, i long")
    got = sorted((r.src, r.dst)
                 for r in G.co_occurrence_edges(df, "g", "i").collect())
    assert got == [(1, 2), (1, 3), (2, 3)]
    # cap: a group above max_group_size contributes nothing
    big = spark.createDataFrame([(1, i) for i in range(5)] + [(2, 1), (2, 2)],
                                "g long, i long")
    capped = sorted((r.src, r.dst)
                    for r in G.co_occurrence_edges(big, "g", "i",
                                                   max_group_size=4).collect())
    assert capped == [(1, 2)]


def test_triangles_k4_minus_edge(spark):
    # 1-2, 1-3, 2-3, 3-4: one triangle {1,2,3}; node 4 pendant
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    rows = {r.node: r for r in G.triangles(e).collect()}
    assert [rows[n].triangles for n in (1, 2, 3, 4)] == [1, 1, 1, 0]
    assert [rows[n].degree for n in (1, 2, 3, 4)] == [2, 2, 3, 1]
    assert rows[1].clustering == 1.0
    assert rows[3].clustering == pytest.approx(1 / 3, abs=1e-6)
    assert rows[4].clustering == 0.0


def test_triangles_k4_complete(spark):
    # K4: 4 triangles total, each node in 3, clustering 1.0 everywhere
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    rows = G.triangles(e).collect()
    assert all(r.triangles == 3 and r.clustering == 1.0 for r in rows)


def test_pagerank_mass_and_symmetry(spark):
    # path 1-2-3: ends symmetric, middle highest; total mass ~= SCALE_FP
    e = _edges(spark, [(1, 2), (2, 3)])
    pr = {r.node: r.pr_fp for r in G.pagerank(e, iters=10).collect()}
    assert pr[1] == pr[3]
    assert pr[2] > pr[1]
    # floor truncation leaks <= 1 unit per in-edge per update chain
    assert 0 <= SCALE_FP - sum(pr.values()) < 1000


def test_pagerank_regular_graph_uniform(spark):
    # on a k-regular graph (triangle) PageRank is exactly uniform and
    # the integer recurrence preserves it bit-for-bit each iteration
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    pr = {r.node: r.pr_fp for r in G.pagerank(e, iters=7).collect()}
    assert len(set(pr.values())) == 1


def test_components_two_cliques(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    rows = {r.node: r for r in G.components(e, rounds=4).collect()}
    assert [rows[n].component for n in (1, 2, 3)] == [1, 1, 1]
    assert [rows[n].component for n in (10, 11)] == [10, 10]
    assert rows[3].component_size == 3 and rows[10].component_size == 2


def test_components_bounded_rounds_contract(spark):
    # a path of length 5: after 2 rounds node 6 has NOT yet received
    # label 1 (distance 5 > 2) — the fixed-round contract, not
    # convergence; after 5 rounds it has
    path = [(i, i + 1) for i in range(1, 6)]
    e = _edges(spark, path)
    l2 = {r.node: r.component for r in G.components(e, rounds=2).collect()}
    assert l2[6] == 4  # min label within distance 2 of node 6
    l5 = {r.node: r.component for r in G.components(e, rounds=5).collect()}
    assert set(l5.values()) == {1}


def test_degrees(spark):
    e = _edges(spark, [(1, 2), (1, 3)])
    d = {r.node: r.degree for r in G.degrees(e).collect()}
    assert d == {1: 2, 2: 1, 3: 1}


def test_link_predict_square_diagonals(spark):
    # cycle 1-2-3-4-1: the two diagonals are the only non-adjacent
    # pairs, each sharing BOTH neighbors -> jaccard = 2/(2+2-2) = 1.0
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
    rows = G.link_predict(e, k=3, min_common=2).collect()
    got = {(r.node, r.candidate): (r.common, r.jaccard, r.rank)
           for r in rows}
    assert got == {(1, 3): (2, 1.0, 1), (3, 1): (2, 1.0, 1),
                   (2, 4): (2, 1.0, 1), (4, 2): (2, 1.0, 1)}


def test_link_predict_excludes_edges_and_center_cap(spark):
    # star 0-{1,2,3}: leaves pairwise share center 0 (common=1);
    # min_common=1 surfaces them, and the hub never appears as a
    # candidate (it is adjacent to every leaf)
    e = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    rows = G.link_predict(e, k=3, min_common=1).collect()
    assert rows and all(r.node != 0 and r.candidate != 0 for r in rows)
    # center_cap below the hub degree removes every wedge -> no output
    assert G.link_predict(e, k=3, min_common=1, center_cap=2).count() == 0


def test_reliable_checkpoint_matches_local_and_errors_without_dir(
        spark, tmp_path):
    """r8 (verdict task 8): reliable=True swaps localCheckpoint for
    fault-tolerant checkpoint() — identical results (the checkpoint
    mechanism is lineage plumbing, not semantics), loud ValueError when
    no checkpoint dir is configured."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (4, 5)])
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        with pytest.raises(ValueError, match="setCheckpointDir"):
            G.pagerank(e, iters=2, reliable=True)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    pr_local = {r.node: r.pr_fp for r in G.pagerank(e, iters=3).collect()}
    pr_rel = {r.node: r.pr_fp
              for r in G.pagerank(e, iters=3, reliable=True).collect()}
    assert pr_rel == pr_local
    c_local = {r.node: r.component
               for r in G.components(e, rounds=3).collect()}
    c_rel = {r.node: r.component
             for r in G.components(e, rounds=3, reliable=True).collect()}
    assert c_rel == c_local


def test_reliable_checkpoint_matches_local_for_every_loop(spark, tmp_path):
    """Every other iterative loop gives the same rows with reliable=True
    (checkpoint() to the checkpoint dir) as with localCheckpoint, on one
    tiny graph: two triangles joined by a bridge, a pendant, and a
    separate pair."""
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (6, 7), (8, 9)]
    e = _edges(spark, pairs)
    we = spark.createDataFrame([(a, b, (a * b) % 5 + 1) for a, b in pairs],
                               "src long, dst long, cost long")
    seeds = spark.createDataFrame([(1,), (8,)], "node long")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    loops = {
        "kcore": lambda **kw: G.kcore(e, k=2, rounds=4, **kw),
        "label_propagation": lambda **kw: G.label_propagation(e, rounds=3,
                                                              **kw),
        "personalized_pagerank": lambda **kw: G.personalized_pagerank(
            e, seeds, iters=4, **kw),
        "bfs": lambda **kw: G.bfs(e, seeds, rounds=3, **kw),
        "sssp": lambda **kw: G.sssp(we, seeds, rounds=4, **kw),
        "closeness": lambda **kw: G.closeness(e, seeds, rounds=3, **kw),
        "hits": lambda **kw: G.hits(e, iters=3, **kw),
    }
    for name, run in loops.items():
        local = sorted(tuple(r) for r in run().collect())
        assert local, name
        assert sorted(tuple(r) for r in run(reliable=True).collect()) \
            == local, name


def test_degree_histogram_exact_buckets(spark):
    # star: hub degree 5 (bucket 2: [4,7]), leaves degree 1 (bucket 0)
    # plus a 4-cycle: all degree 2 (bucket 1: [2,3])
    e = _edges(spark, [(0, i) for i in range(1, 6)]
               + [(10, 11), (11, 12), (12, 13), (10, 13)])
    rows = {r.bucket: r for r in G.degree_histogram(e).collect()}
    assert set(rows) == {0, 1, 2}
    assert (rows[0].lo, rows[0].hi, rows[0].n_nodes,
            rows[0].max_degree) == (1, 1, 5, 1)
    assert (rows[1].lo, rows[1].hi, rows[1].n_nodes,
            rows[1].max_degree) == (2, 3, 4, 2)
    assert (rows[2].lo, rows[2].hi, rows[2].n_nodes,
            rows[2].max_degree) == (4, 7, 1, 5)


def test_kcore_peels_cascade(spark):
    # K4 on {1,2,3,4} (3-core) + a pendant path 4-5-6: one round kills
    # node 6 (deg 1), the CASCADE then kills 5 (its degree fell to 1);
    # the surviving 3-core is exactly the K4 with in-core degree 3
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                       (4, 5), (5, 6)])
    rows = {r.node: r.core_degree for r in G.kcore(e, k=3, rounds=4).collect()}
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the path dies, the cycle part of K4 plus node 4's tail…
    # 5 and 6 form a chain, both eventually peel; K4 keeps degree 3
    rows2 = {r.node: r.core_degree
             for r in G.kcore(e, k=2, rounds=4).collect()}
    assert rows2 == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above max degree -> empty
    assert G.kcore(e, k=10, rounds=3).count() == 0
    # invalid parameters fail loudly, not with an AttributeError deep
    # in the final join (r8 ADVICE: rounds=0 left keep=None)
    import pytest
    with pytest.raises(ValueError, match="rounds"):
        G.kcore(e, k=2, rounds=0)
    with pytest.raises(ValueError, match="k must be"):
        G.kcore(e, k=0, rounds=3)


def test_bfs_path_distances_and_early_stop(spark):
    # path 1-2-3-4-5, seed {1}: exact hop distances, bounded by rounds
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in G.bfs(e, seeds, rounds=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    # rounds beyond the diameter: early stop, full reach
    got10 = {r.node: r.dist for r in G.bfs(e, seeds, rounds=10).collect()}
    assert got10 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_multi_source_takes_nearest(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r.node: r.dist for r in G.bfs(e, seeds, rounds=4).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_seed_outside_graph_and_validation(spark):
    e = _edges(spark, [(1, 2)])
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {r.node: r.dist for r in G.bfs(e, seeds, rounds=3).collect()}
    assert got == {1: 0, 99: 0, 2: 1}
    import pytest
    with pytest.raises(ValueError, match="rounds"):
        G.bfs(e, seeds, rounds=0)


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, cost long")


def test_sssp_prefers_cheap_detour_over_fewer_hops(spark):
    # 1-3 direct costs 10; 1-2-3 costs 2+2=4: min-plus must pick the
    # longer-hop cheaper path once rounds allow it
    e = _wedges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 2)])
    seeds = spark.createDataFrame([(1,)], "node long")
    one = {r.node: r.dist for r in G.sssp(e, seeds, rounds=1).collect()}
    assert one == {1: 0, 2: 2, 3: 10}          # <=1 edge: direct only
    full = {r.node: r.dist for r in G.sssp(e, seeds, rounds=3).collect()}
    assert full == {1: 0, 2: 2, 3: 4}


def test_sssp_multi_source_early_stop_and_validation(spark):
    # path 1-2-3-4-5 with unit costs == bfs hop distances; seeds both ends
    e = _wedges(spark, [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)])
    seeds = spark.createDataFrame([(1,), (5,), (99,)], "node long")
    got = {r.node: r.dist for r in G.sssp(e, seeds, rounds=10).collect()}
    assert got == {1: 0, 5: 0, 99: 0, 2: 1, 4: 1, 3: 2}
    with pytest.raises(ValueError, match="rounds"):
        G.sssp(e, seeds, rounds=0)


def test_sssp_matches_bfs_on_unit_costs(spark):
    # random-ish small graph: unit-cost sssp == bfs, field for field
    pairs = [(a, b) for a in range(1, 9) for b in range(a + 1, 9)
             if (a * 7 + b * 3) % 4 == 0]
    e = _edges(spark, pairs)
    we = e.withColumn("cost", F.lit(1).cast("long"))
    seeds = spark.createDataFrame([(1,), (6,)], "node long")
    b = {(r.node, r.dist) for r in G.bfs(e, seeds, rounds=5).collect()}
    s = {(r.node, r.dist) for r in G.sssp(we, seeds, rounds=5).collect()}
    assert b == s


def test_co_occurrence_weights_counts_groups(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30)],
        "g long, i long")
    got = {(r.src, r.dst): r.n_groups
           for r in G.co_occurrence_weights(df, "g", "i").collect()}
    assert got == {(10, 20): 2, (10, 30): 1}
    # distinct edge list is exactly the weighted list's key set
    e = {(r.src, r.dst) for r in G.co_occurrence_edges(df, "g", "i").collect()}
    assert e == set(got)


def test_closeness_path_graph_hand_checked(spark):
    # path 1-2-3-4-5, seeds {1, 5}: per-seed distances are exact and
    # the fold excludes the seed's own dist-0 pair
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r.node: r for r in G.closeness(e, seeds, rounds=4).collect()}
    # node 3: dist 2 to each seed -> 2/4; node 1: only seed 5 at dist 4
    assert (got[3].n_seeds, got[3].sum_dist, got[3].closeness) == \
        (2, 4, 0.5)
    assert (got[1].n_seeds, got[1].sum_dist, got[1].closeness) == \
        (1, 4, 0.25)
    assert (got[2].n_seeds, got[2].sum_dist) == (2, 4)   # 1 + 3
    # bounded rounds: rounds=1 sees only direct neighbors
    r1 = {r.node: r.n_seeds for r in
          G.closeness(e, seeds, rounds=1).collect()}
    assert r1 == {2: 1, 4: 1}
    with pytest.raises(ValueError, match="rounds"):
        G.closeness(e, seeds, rounds=0)


def test_closeness_center_beats_periphery(spark):
    # star: center 0 linked to 1..6, seeds {1, 2, 3}: center reaches
    # all seeds at dist 1; leaves reach them at dist 2 (via center)
    e = _edges(spark, [(0, i) for i in range(1, 7)])
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    got = {r.node: r.closeness for r in
           G.closeness(e, seeds, rounds=3).collect()}
    assert got[0] == 1.0                     # 3 seeds / sum 3
    assert all(got[leaf] < got[0] for leaf in (4, 5, 6))
    # a seed leaf excludes itself: 2 seeds at dist 2 each -> 0.5
    assert got[1] == 0.5


def test_modularity_two_cliques_hand_checked(spark):
    # two triangles bridged by one edge, perfect partition: m = 7,
    # e_c = 3, d_c = 7 each -> q_contrib = 3/7 - (7/14)^2 = 5/28
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6),
                       (3, 4)])
    lab = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 2) for n in (4, 5, 6)],
        "node long, community long")
    got = {r.community: r for r in G.modularity(e, lab).collect()}
    import math
    exp = math.floor(5 / 28 * 1e6 + 0.5) / 1e6
    for c in (1, 2):
        assert (got[c].n_nodes, got[c].e_intra, got[c].d_total) == (3, 3, 7)
        assert got[c].q_contrib == exp
    # one community holding everything scores exactly 0
    one = spark.createDataFrame([(n, 9) for n in range(1, 7)],
                                "node long, community long")
    (row,) = G.modularity(e, one).collect()
    assert (row.e_intra, row.d_total, row.q_contrib) == (7, 14, 0.0)


def test_modularity_shattered_partition_visible(spark):
    # singleton partition: every community has e_intra = 0 and a
    # NEGATIVE contribution -- the shattering is visible, not absent
    e = _edges(spark, [(1, 2), (2, 3)])
    lab = spark.createDataFrame([(n, n) for n in (1, 2, 3)],
                                "node long, community long")
    rows = G.modularity(e, lab).collect()
    assert len(rows) == 3
    assert all(r.e_intra == 0 and r.q_contrib < 0 for r in rows)


def test_harmonic_path_graph_hand_checked(spark):
    # path 1-2-3-4-5, seeds {1, 5}: harmonic = sum of 1/dist, computed
    # as exact integer lcm(1..4)=12 multiples (h_fp) / 12
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r.node: r for r in G.harmonic(e, seeds, rounds=4).collect()}
    # node 3: 1/2 + 1/2 -> h_fp = 6 + 6 = 12 -> 1.0
    assert (got[3].n_seeds, got[3].h_fp, got[3].harmonic) == (2, 12, 1.0)
    # node 2: 1/1 + 1/3 -> 12 + 4 = 16 -> 16/12 = 1.333333
    import math
    assert (got[2].h_fp, got[2].harmonic) == \
        (16, math.floor(16 / 12 * 1e6 + 0.5) / 1e6)
    # node 1 (a seed): only seed 5 at dist 4 -> 3/12 = 0.25; its own
    # dist-0 pair is excluded
    assert (got[1].n_seeds, got[1].h_fp, got[1].harmonic) == (1, 3, 0.25)
    with pytest.raises(ValueError, match="rounds"):
        G.harmonic(e, seeds, rounds=0)


def test_harmonic_handles_disconnection_gracefully(spark):
    # two components; seeds in both: closeness-style scores would be
    # incomparable across components, harmonic just sums reachable
    # seeds — node 2 (component A) scores from seed 1 only
    e = _edges(spark, [(1, 2), (10, 11)])
    seeds = spark.createDataFrame([(1,), (10,)], "node long")
    got = {r.node: r for r in G.harmonic(e, seeds, rounds=3).collect()}
    assert (got[2].n_seeds, got[2].harmonic) == (1, 1.0)
    assert (got[11].n_seeds, got[11].harmonic) == (1, 1.0)
    # shared state with closeness: same reach set
    cl = {r.node for r in G.closeness(e, seeds, rounds=3).collect()}
    assert set(got) == cl


def test_ppr_localizes_mass_around_seed(spark):
    # path 1-2-3-4-5-6, seed {1}: mass decays with distance from the
    # seed; the far end scores least but stays in the output
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.ppr_fp for r in
           G.personalized_pagerank(e, seeds, iters=10).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # a path is bipartite, so finite-iteration walks carry a parity
    # ripple (4 vs 5 may swap); the head ordering and the far end are
    # parity-stable
    assert got[1] > got[2] > got[3] > got[6] >= 0
    assert min(got[2], got[3]) > max(got[4], got[5], got[6])
    # teleport goes ONLY to the seed: with damping 85, node 1 keeps
    # at least the (100-85)% restart mass
    assert got[1] >= (15 * 10 ** 12) // 100


def test_ppr_uniform_seed_set_equals_pagerank(spark):
    # seeding EVERY node makes the teleport uniform -> identical to
    # plain pagerank, including the fixed-point truncation artifacts
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    allseeds = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)],
                                     "node long")
    ppr = {r.node: r.ppr_fp for r in
           G.personalized_pagerank(e, allseeds, iters=6).collect()}
    pr = {r.node: r.pr_fp for r in G.pagerank(e, iters=6).collect()}
    assert ppr == pr


def test_ppr_validation(spark):
    e = _edges(spark, [(1, 2)])
    off_graph = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="no seed"):
        G.personalized_pagerank(e, off_graph)
    with pytest.raises(ValueError, match="iters"):
        G.personalized_pagerank(
            e, spark.createDataFrame([(1,)], "node long"), iters=0)


def test_hits_bipartite_hand_checked(spark):
    # users u1..u3 -> items A,B: u1->{A,B}, u2->{A}, u3->{A}
    # A (3 in-edges) must out-rank B (1); u1 (points at both) must
    # out-rank u2/u3; the L-inf renorm pins each vector's max at SCALE
    e = spark.createDataFrame(
        [("u1", "A"), ("u1", "B"), ("u2", "A"), ("u3", "A")],
        "src string, dst string")
    got = {r.node: (r.hub_fp, r.auth_fp) for r in
           G.hits(e, iters=8).collect()}
    S = 10 ** 12
    assert got["A"][1] == S and got["B"][1] < S      # top authority
    assert got["u1"][0] == S                         # top hub
    assert got["u2"][0] == got["u3"][0] < S
    # pure sources have auth 0, pure sinks hub 0 — still present
    assert got["u1"][1] == 0 and got["A"][0] == 0


def test_hits_partition_shape_independent_and_validation(spark):
    e = spark.createDataFrame(
        [(f"u{i % 7}", f"i{i % 3}") for i in range(50)],
        "src string, dst string")
    a = sorted(tuple(r) for r in G.hits(e.repartition(1), 4).collect())
    b = sorted(tuple(r) for r in G.hits(e.repartition(13), 4).collect())
    assert a == b
    with pytest.raises(ValueError, match="iters"):
        G.hits(e, iters=0)
