"""connected_components: correctness on known topologies."""

from __future__ import annotations

from eventstreams_spark.operators.graph import connected_components


def cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_chain_propagates_multi_hop(spark):
    # 1-2-3-4-5 chain: min label must travel 4 hops
    got = cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_and_direction_independence(spark):
    # edges given in arbitrary direction; two separate components
    got = cc(spark, [(9, 7), (7, 8), (20, 30)])
    assert got == {7: 7, 8: 7, 9: 7, 20: 20, 30: 20}


def test_self_loops_and_duplicate_edges_harmless(spark):
    got = cc(spark, [(1, 1), (1, 2), (2, 1), (1, 2)])
    assert got == {1: 1, 2: 1}


def test_star_converges_in_one_round(spark):
    got = cc(spark, [(10, 3), (10, 4), (10, 5)])
    assert set(got.values()) == {3}


def ccs(spark, edges, **kw):
    from eventstreams_spark.operators.graph import connected_components_star

    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components_star(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_star_variant_chain_and_disjoint(spark):
    # the SoCC'14 large/small-star variant must label identically to
    # plain propagation: min id per component, every topology
    assert ccs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1
    }
    assert ccs(spark, [(9, 7), (7, 8), (20, 30)]) == {
        7: 7, 8: 7, 9: 7, 20: 20, 30: 20
    }
    assert ccs(spark, [(1, 1), (1, 2), (2, 1), (1, 2)]) == {1: 1, 2: 1}


def test_star_variant_long_chain_log_rounds(spark):
    # 64-node chain: propagation needs 63 rounds; star needs O(log n).
    # max_iter=10 would FAIL plain propagation — passing proves the
    # doubling behavior, not just the answer.
    edges = [(i, i + 1) for i in range(1, 64)]
    got = ccs(spark, edges, max_iter=10)
    assert got == {i: 1 for i in range(1, 65)}


def test_star_equals_propagation_on_data_graph(spark, sf_dir):
    # certification on the real interaction graph: identical labels
    from eventstreams_spark.catalog import load_table
    from eventstreams_spark.operators.graph import (
        connected_components,
        connected_components_star,
        interaction_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = interaction_edges(ev)
    want = {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    assert got == want


def test_louvain_coarsening_does_not_decrease_modularity(spark, sf_dir):
    """The Louvain invariant that licenses loop-until-Q-stops: the
    coarsened second sweep's partition modularity (integer Q_num over
    the ORIGINAL edges) must be >= the first sweep's — moves are only
    taken on positive gain."""
    from eventstreams_spark import registry

    registry._ensure_loaded()
    q1 = registry.REGISTRY["louvain_first_sweep"].builder(spark, sf_dir)
    q2 = registry.REGISTRY["louvain_coarsened_two_level"].builder(spark, sf_dir)
    qn1 = q1.select("q_num").first().q_num
    qn2 = q2.select("q_num").first().q_num
    assert qn2 >= qn1, (qn1, qn2)


def test_ktruss_round_keeps_exactly_the_edges_on_two_triangles(spark):
    """One 4-truss round over a K4 {1, 2, 3, 4} with a triangle
    {4, 5, 6} hanging off vertex 4: each K4 edge lies on 2 triangles,
    each hanging edge on 1, so the round keeps exactly the K4's 6 edges.
    A support threshold of 1 would keep all 9 edges, one of 3 none."""
    from eventstreams_spark.queries.graph2_extra import _ktruss_survivors

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    hanging = [(4, 5), (4, 6), (5, 6)]
    edges = spark.createDataFrame(k4 + hanging, "a long, b long")
    got = sorted((r["a"], r["b"]) for r in _ktruss_survivors(edges).collect())
    assert got == k4
