"""Connected components: multi-round convergence on chains."""

from __future__ import annotations

from etlalchemy_spark.operators.graph import connected_components


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r.node: r.component for r in connected_components(edges).collect()
    }


def test_chain_converges_to_min(spark):
    # 1-2-3-4-5 chain (diameter 4 → several propagation rounds) + 10-11
    got = _cc(spark, [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_star_and_selfcontained(spark):
    got = _cc(spark, [(7, 3), (7, 9), (7, 5)])
    assert got == {3: 3, 5: 3, 7: 3, 9: 3}


def test_max_iter_caps_rounds(spark):
    # one round only: the far end of the chain must NOT reach the min yet
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    labels = {
        r.node: r.component
        for r in connected_components(edges, max_iter=1).collect()
    }
    assert labels[2] == 1 and labels[4] != 1


def test_kcore_plan_depth_bounded(spark):
    """Guard against plan-depth creep in the unrolled k-core peel
    (VERDICT r4 ask): at rounds=3 the optimized plan must stay small
    enough that codegen cost is bounded; growth past this bound means
    someone raised the unroll count without adding lineage cuts."""
    from conftest import SF_DIR

    from etlalchemy_spark.queries.graph import graph_kcore_peel

    df = graph_kcore_peel(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_nodes = sum(
        1 for ln in plan.splitlines() if ln.strip(" :+-").partition(" ")[0]
    )
    assert n_nodes < 120, f"k-core optimized plan grew to {n_nodes} nodes"


def test_connected_components_rejects_zero_iters(spark):
    import pytest
    from etlalchemy_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)


def _lpa(spark, pairs, rounds=4):
    from etlalchemy_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r.node: r.lbl
        for r in label_propagation(edges, rounds=rounds).collect()
    }


def test_lpa_two_cliques_with_bridge(spark):
    # two triangles {1,2,3} and {7,8,9} joined by one bridge 3-7: each
    # clique collapses to its min label; the bridge is outvoted 2:1
    tri = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9), (3, 7)]
    got = _lpa(spark, tri)
    assert got[1] == got[2] == got[3]
    assert got[7] == got[8] == got[9]
    assert got[1] != got[7]


def test_lpa_tie_breaks_to_min_label(spark):
    # node 5's neighbors {1, 9} tie at one vote each -> takes min (1);
    # synchronous update: 1 and 9 simultaneously adopt 5's label
    got = _lpa(spark, [(1, 5), (5, 9)], rounds=1)
    assert got[5] == 1
    assert got[1] == 5 and got[9] == 5


def test_lpa_rejects_zero_rounds(spark):
    import pytest as _pytest

    from etlalchemy_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        label_propagation(edges, rounds=0)


def test_ppr_concentrates_on_seed_neighborhood(spark):
    from etlalchemy_spark.operators.graph import personalized_pagerank_exact

    # star: hub 'a' -> b, c; far chain c -> d; seed on 'a'
    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("c", "d", 1), ("d", "a", 1)],
        "src string, dst string, w long",
    )
    got = {
        r.node: r.ppr
        for r in personalized_pagerank_exact(edges, seeds=["a"], iters=8).collect()
    }
    # seed holds the teleport mass; everything reachable gets some
    assert got["a"] > got["b"] > 0 and got["c"] > 0 and got["d"] > 0
    # the seed outranks every other node (only it receives teleport)
    assert got["a"] == max(got.values())
    # symmetric direct successors of the seed score identically
    assert got["b"] == got["c"]
    # dangling sink b drops its mass; c recirculates through d -> a,
    # so the cycle node outranks the sink's value is NOT asserted —
    # only that unreached-without-seed teleport stays zero-free


def test_ppr_rejects_empty_seed(spark):
    import pytest as _pytest

    from etlalchemy_spark.operators.graph import personalized_pagerank_exact

    edges = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    with _pytest.raises(ValueError):
        personalized_pagerank_exact(edges, seeds=[])


def test_louvain_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: one-level Louvain must
    put each clique in its own community (modularity-optimal here) and
    never merge them across the bridge."""
    from etlalchemy_spark.operators.graph import louvain_one_level

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    lab = {r.node: r.lbl for r in louvain_one_level(edges).collect()}
    assert len({lab[n] for n in range(4)}) == 1
    assert len({lab[n] for n in range(10, 14)}) == 1
    assert lab[0] != lab[13]


def test_louvain_is_repartition_invariant(spark):
    from etlalchemy_spark.operators.graph import louvain_one_level

    edges = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8) if a < b and (a + b) % 3 != 0],
        "src long, dst long",
    )
    one = sorted((r.node, r.lbl) for r in louvain_one_level(edges).collect())
    two = sorted(
        (r.node, r.lbl) for r in louvain_one_level(edges.repartition(7)).collect()
    )
    assert one == two


def test_louvain_rejects_bad_input(spark):
    import pytest

    from etlalchemy_spark.operators.graph import louvain_one_level

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="numeric"):
        louvain_one_level(edges)
    num = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="rounds"):
        louvain_one_level(num, rounds=0)


def test_louvain_modularity_at_least_lpa(spark):
    """The r12 verdict's done-criterion: on the same co-purchase graph
    Louvain's modularity readout must be >= label propagation's."""
    from etlalchemy_spark.registry import all_queries

    from conftest import SF_DIR

    qs = all_queries()
    louv = qs["graph_louvain_exact"].fn(spark, SF_DIR).collect()[0]
    lpa = qs["graph_label_propagation"].fn(spark, SF_DIR).collect()[0]
    assert louv["modularity"] >= lpa["modularity"], (
        louv["modularity"],
        lpa["modularity"],
    )


def test_driver_path_matches_distributed(spark, monkeypatch):
    """r14 optimization: the score-iteration operators (hits /
    pagerank / personalized pagerank) run their power iterations on
    the driver when the aggregated edge list is small. The local loop
    must be BIT-identical to the distributed one — same multiply
    order, same floor-quantized int64 sums, same int->double casts
    before each division — on a graph with asymmetric weights, a
    dangling node (6) and a source-only node (5)."""
    import struct

    import etlalchemy_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 1), (2, 3, 7), (3, 1, 2), (4, 2, 5),
         (1, 3, 1), (5, 6, 11), (3, 6, 1)],
        "src long, dst long, w long",
    )

    def run_both(fn):
        drv = sorted(tuple(r) for r in fn().collect())
        monkeypatch.setattr(G, "_collect_if_small", lambda e, cap=0: None)
        dist = sorted(tuple(r) for r in fn().collect())
        monkeypatch.undo()
        def bits(rows):
            return [
                (r[0],) + tuple(struct.pack(">d", x) for x in r[1:])
                for r in rows
            ]
        assert bits(drv) == bits(dist)
        return drv

    run_both(lambda: G.hits_exact(edges, iters=4))
    run_both(lambda: G.pagerank_exact(edges, iters=5))
    run_both(
        lambda: G.personalized_pagerank_exact(edges, seeds=[2], iters=5)
    )


def test_driver_path_declines_float_weights_and_nulls(spark):
    """Float weights sum order-dependently (driver loop would not be
    bit-faithful) and NULLs have join semantics the loop skips — both
    must fall through to the distributed path."""
    import etlalchemy_spark.operators.graph as G

    fw = spark.createDataFrame(
        [(1, 2, 1.5), (2, 1, 2.5)], "src long, dst long, w double"
    )
    assert not G._exact_sum_type(fw.schema["w"].dataType)
    nl = spark.createDataFrame(
        [(1, 2, 3), (2, None, 1)], "src long, dst long, w long"
    )
    e = nl.selectExpr("src as _s", "dst as _d", "w as _w")
    assert G._collect_if_small(e) is None


def test_closeness_landmarks_broadcast_guard_counts_landmark_rows(spark, monkeypatch):
    """graph_closeness_landmarks broadcasts (landmark, node) frames of up
    to 4 x |V| rows. With the cap between |V| and 4 x |V| it must decline
    the hint, while a |V|-frame caller keeps it."""
    import etlalchemy_spark.queries.graph as QG
    from conftest import SF_DIR
    from etlalchemy_spark.catalog import table_path

    n_nodes = spark.read.parquet(table_path(SF_DIR, "part")).count()
    monkeypatch.setattr(QG, "_BROADCAST_NODE_CAP", 2 * n_nodes)
    decisions = []
    guard = QG._nodes_broadcastable

    def recording(spark, sf_dir, rows_per_node=1):
        decisions.append(guard(spark, sf_dir, rows_per_node))
        return decisions[-1]

    monkeypatch.setattr(QG, "_nodes_broadcastable", recording)
    QG.graph_closeness_landmarks(spark, SF_DIR)
    QG.graph_common_neighbors_topk(spark, SF_DIR)
    assert decisions == [False, True]
