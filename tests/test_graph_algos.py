"""Property tests for the Pregel-style graph operators.

PageRank has no DuckDB oracle (recursive aggregation isn't SQL-expressible)
— these tests carry its correctness: closed-form values on known graphs,
conservation invariants, and CC/BFS/triangle ground truths on graphs small
enough to solve by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cinegraph_spark.operators.graph_algos import (
    bfs_levels,
    connected_components,
    connected_components_star,
    degrees,
    label_propagation,
    pagerank,
    triangle_count,
)


def _union_find_components(pairs):
    """Driver-side ground truth: min-id component per vertex."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# --- connected components ---------------------------------------------------


def test_cc_two_components_and_chain(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple supersteps) + pair 10-11
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    got = {
        r["id"]: r["component"]
        for r in connected_components(e).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_direction_and_duplicates_ignored(spark):
    e = edges_df(spark, [(5, 2), (2, 5), (5, 2), (7, 7)])
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    # 2 and 5 merge; the self-loop-only vertex 7 is its OWN component —
    # symmetrize drops the (7,7) edge but the vertex set is derived from
    # the raw endpoints, matching connected_components_star (the two
    # twins previously diverged on exactly this row)
    assert got == {2: 2, 5: 2, 7: 7}


def test_cc_raises_on_nonconvergence(spark):
    """A path graph whose diameter exceeds max_iter must RAISE, not
    silently return partially-propagated labels: truncated labels split
    one true component into several, which for the leakage-safe split
    means near-duplicates straddling the train/heldout boundary (r16
    ADVICE)."""
    import pytest

    # path 0-1-2-...-6: min-label needs ~6 supersteps to reach the tail
    e = edges_df(spark, [(i, i + 1) for i in range(6)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=2)
    # a generous budget converges exactly
    full = {
        r["id"]: r["component"]
        for r in connected_components(e, max_iter=10).collect()
    }
    assert full == {i: 0 for i in range(7)}


def test_cc_minlabel_and_star_agree_on_self_loop_only_vertex(spark):
    """Swapping CC implementations (as the min-label docstring suggests
    for long-path graphs) must not change the output row set."""
    from cinegraph_spark.operators.graph_algos import (
        connected_components_star,
    )

    e = edges_df(spark, [(5, 5), (1, 2)])
    a = {(r["id"], r["component"]) for r in connected_components(e).collect()}
    b = {
        (r["id"], r["component"])
        for r in connected_components_star(e).collect()
    }
    assert a == b == {(1, 1), (2, 1), (5, 5)}


def test_cc_star_matches_minlabel_and_ground_truth(spark):
    """Both CC operators must produce identical components on a mixed graph
    (two chains, a clique, a pair, an isolated self-loop survivor set)."""
    pairs = (
        [(i, i + 1) for i in range(1, 9)]                       # chain 1..9
        + [(20 + a, 20 + b) for a in range(4) for b in range(a + 1, 4)]  # K4
        + [(50, 51), (60, 61), (61, 62), (62, 60)]              # pair + cycle
    )
    e = edges_df(spark, pairs)
    want = _union_find_components(pairs)
    minlabel = {r["id"]: r["component"] for r in connected_components(e).collect()}
    star = {r["id"]: r["component"] for r in connected_components_star(e).collect()}
    assert minlabel == want
    assert star == want


def test_cc_star_converges_fast_on_long_path(spark):
    """The adversarial-diameter case the min-label operator cannot touch: a
    1000-vertex path has diameter 999 (min-label would need 999 supersteps);
    large-star/small-star must finish in O(log² n) rounds — pinned well
    under the operator's max_rounds=40 via max_rounds=15 — with every vertex
    labeled by the path minimum."""
    n = 1000
    pairs = [(i, i + 1) for i in range(n - 1)]
    e = edges_df(spark, pairs)
    got = {r["id"]: r["component"] for r in connected_components_star(e, max_rounds=15).collect()}
    assert len(got) == n
    assert set(got.values()) == {0}


def test_cc_star_raises_on_nonconvergence(spark):
    """Like min-label, the star operator must RAISE when its round budget
    runs out: the unfinished edge set is not yet a star forest, so its
    per-vertex minimum splits the path into several components."""
    e = edges_df(spark, [(i, i + 1) for i in range(63)])  # 64-vertex path
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        connected_components_star(e, max_rounds=1).collect()


def test_cc_star_direction_duplicates_and_self_loops(spark):
    e = edges_df(spark, [(5, 2), (2, 5), (5, 2), (7, 7), (9, 3)])
    got = {r["id"]: r["component"] for r in connected_components_star(e).collect()}
    # 7 appears only in a self-loop: present as a vertex, its own component
    assert got == {2: 2, 5: 2, 7: 7, 3: 3, 9: 3}


# --- degrees / triangles ----------------------------------------------------


def test_degrees_undirected(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {r["id"]: r["degree"] for r in degrees(e).collect()}
    assert got == {1: 2, 2: 2, 3: 3, 4: 1}


def test_triangle_count_k4(spark):
    # K4 has 4 triangles; every vertex participates in 3
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = {r["id"]: r["triangles"] for r in triangle_count(edges_df(spark, k4)).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_triangle_plus_tail(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {r["id"]: r["triangles"] for r in triangle_count(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # tail vertex 4 in no triangle


# --- BFS ---------------------------------------------------------------------


def test_bfs_levels_chain_with_branch(spark):
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3), (1, 4), (8, 9)])
    got = {r["id"]: r["level"] for r in bfs_levels(e, 0).collect()}
    # 8-9 unreachable from 0
    assert got == {0: 0, 1: 1, 2: 2, 4: 2, 3: 3}


# --- PageRank ----------------------------------------------------------------


def test_pagerank_symmetric_pair_equal_ranks(spark):
    e = edges_df(spark, [(1, 2), (2, 1)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iterations=10).collect()}
    assert ranks[1] == pytest.approx(ranks[2])
    assert ranks[1] == pytest.approx(1.0)  # regular graph fixpoint


def test_pagerank_cycle_uniform(spark):
    # directed 4-cycle: uniform stationary distribution, rank = 1.0 each
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    ranks = [r["rank"] for r in pagerank(e, iterations=15).collect()]
    assert all(x == pytest.approx(1.0, abs=1e-6) for x in ranks)


def test_pagerank_star_closed_form(spark):
    # star: leaves 2..5 -> hub 1, hub -> leaves. After convergence:
    # leaf = (1-d) + d*hub/4, hub = (1-d) + d*4*leaf ; d=0.85
    e = edges_df(spark, [(i, 1) for i in range(2, 6)] + [(1, i) for i in range(2, 6)])
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iterations=40).collect()}
    d = 0.85
    hub = (1 - d) * (1 + 4 * d) / (1 - d * d)
    leaf = (1 - d) + d * hub / 4
    # power iteration converges as d^k: 0.85^40 ~ 1.5e-3 relative error
    assert ranks[1] == pytest.approx(hub, rel=3e-3)
    for i in range(2, 6):
        assert ranks[i] == pytest.approx(leaf, rel=3e-3)


def test_pagerank_conservation_no_dangling(spark):
    # with no dangling vertices, total rank == vertex count every iteration
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 2), (2, 1)])
    total = pagerank(e, iterations=7).agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(3.0, rel=1e-9)


# --- label propagation ------------------------------------------------------


def test_lpa_two_cliques_converge_to_min_labels(spark):
    # two disjoint triangles: each converges to its min vertex id
    e = edges_df(
        spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    )
    got = {r["id"]: r["label"] for r in label_propagation(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_labels_stay_within_component(spark):
    # bridge between two triangles: labels never cross into ids that are
    # unreachable, and every label is a real vertex id of the component
    e = edges_df(
        spark,
        [(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (11, 12), (10, 12)],
    )
    comp = _union_find_components([(r["src"], r["dst"]) for r in e.collect()])
    by_comp = {}
    for r in label_propagation(e, iterations=8).collect():
        by_comp.setdefault(comp[r["id"]], set()).add(r["label"])
    for c, labels in by_comp.items():
        members = {v for v, cc in comp.items() if cc == c}
        assert labels <= members


def test_lpa_deterministic_fixed_iterations(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)])
    a = sorted(map(tuple, label_propagation(e, iterations=3).collect()))
    b = sorted(map(tuple, label_propagation(e, iterations=3).collect()))
    assert a == b


def test_lpa_star_adopts_hub_neighbors(spark):
    # star 1-(2,3,4): after one sync round the hub takes min leaf label (2),
    # leaves take the hub's label (1)
    e = edges_df(spark, [(1, 2), (1, 3), (1, 4)])
    got = {
        r["id"]: r["label"]
        for r in label_propagation(e, iterations=1).collect()
    }
    assert got == {1: 2, 2: 1, 3: 1, 4: 1}


# --- bounded weighted SSSP ----------------------------------------------------


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w long")


def _seed(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_sssp_bounded_prefers_cheaper_longer_path(spark):
    from cinegraph_spark.operators.graph_algos import sssp_bounded

    # 0->3 direct costs 10; 0->1->2->3 costs 3. Hop bound decides which
    # is visible: ≤1 hop sees only the direct edge, ≤3 hops the cheap one.
    e = _wedges(spark, [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)])
    one = {r["id"]: r["dist"] for r in sssp_bounded(e, _seed(spark, [0]), 1).collect()}
    assert one == {0: 0, 3: 10, 1: 1}
    three = {r["id"]: r["dist"] for r in sssp_bounded(e, _seed(spark, [0]), 3).collect()}
    assert three == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_bounded_hop_limit_excludes_deep_nodes(spark):
    from cinegraph_spark.operators.graph_algos import sssp_bounded

    e = _wedges(spark, [(0, 1, 5), (1, 2, 5), (2, 3, 5)])
    got = {r["id"]: r["dist"] for r in sssp_bounded(e, _seed(spark, [0]), 2).collect()}
    assert got == {0: 0, 1: 5, 2: 10}  # node 3 needs 3 hops


def test_sssp_bounded_multi_source_and_early_exit(spark):
    from cinegraph_spark.operators.graph_algos import sssp_bounded

    # two sources; generous hop budget exercises the early-out (the
    # fixpoint arrives in 2 rounds, the loop must stop improving)
    e = _wedges(spark, [(0, 1, 4), (9, 1, 1), (1, 2, 1)])
    got = {
        r["id"]: r["dist"]
        for r in sssp_bounded(e, _seed(spark, [0, 9]), 50).collect()
    }
    assert got == {0: 0, 9: 0, 1: 1, 2: 2}


def test_sssp_bounded_cycle_terminates_exact(spark):
    from cinegraph_spark.operators.graph_algos import sssp_bounded

    # positive-weight cycle: revisits only add cost, distances settle
    e = _wedges(spark, [(0, 1, 1), (1, 2, 1), (2, 0, 1)])
    got = {r["id"]: r["dist"] for r in sssp_bounded(e, _seed(spark, [0]), 10).collect()}
    assert got == {0: 0, 1: 1, 2: 2}
