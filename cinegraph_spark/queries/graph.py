"""Graph-analytics queries (GraphX/Pregel-style, as DataFrame supersteps).

Two deterministic graph fixtures derived from the driver tables:

- **co-purchase graph**: vertices = parts, undirected edge when two parts
  appear in the same order (`lineitem` self-join, oriented low<high). The
  classic product-graph benchmark shape — degree, triangles, PageRank.
- **tree graph**: the ltree fixture from ``queries/tree.py`` extended with
  customer leaves (root → region → nation → customer), used to verify the
  iterative BFS operator against path-derived depths.
- **near-dup pair graph**: the exact-Jaccard pairs from ``queries/dedup.py``
  — connected components over it IS the dedup-cluster assignment (the step
  after pair finding in any 100 TB dedup pipeline).

Iterative algorithms (CC, PageRank, BFS) run as joins with localCheckpoint
lineage truncation — see ``operators/graph_algos.py``. CC and BFS have
recursive-CTE / path-derived DuckDB oracles; PageRank's fixed 10-iteration
run is oracle-checked by UNROLLING the superstep into 10 chained CTEs
(recursive aggregation isn't legal SQL, but a fixed iteration count is
just k copies of one step), plus property tests in
``tests/test_graph_algos.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cinegraph_spark.operators.graph_algos import (
    bfs_levels,
    connected_components,
    degrees,
    label_propagation,
    pagerank,
    sssp_bounded,
    triangle_count,
)
from cinegraph_spark.queries import register
# neardup_common (not queries.dedup): a module-level import of dedup would
# register its queries mid-family and scramble the load_all ordering.
from cinegraph_spark.queries.neardup_common import (
    SHINGLE_CTES,
    ngram_jaccard_pairs_df,
)
from cinegraph_spark.queries.util import T

_COPURCHASE_CTE = """
copurchase AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
"""


def copurchase_edges(spark, sf_dir):
    """Distinct part pairs sharing an order, oriented src<dst. One
    self-join shuffle on l_orderkey; the DISTINCT bounds fan-out by the
    true edge count (orders have ~4 items, so the blow-up is quadratic in
    a small per-order constant, not in table size).

    Measured note: the posting-list formulation (collect_set per order +
    array pair emission, the ``jaccard_pairs`` shape) is 2× SLOWER here —
    with ~4-item groups the aggregation buffers cost more than the hash
    join they replace. The inverted index wins when posting lists are long
    and values are wide (shingle strings); the join wins on short lists of
    narrow ints."""
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = l.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


@register(
    "graph_copurchase_degree_topk",
    f"""
    WITH {_COPURCHASE_CTE},
    und AS (SELECT src, dst FROM copurchase
            UNION SELECT dst, src FROM copurchase)
    SELECT src AS part_id, count(*) AS degree
    FROM und GROUP BY src
    ORDER BY degree DESC, part_id
    LIMIT 20
    """,
    tags=("graph", "degree", "topk"),
)
def graph_copurchase_degree_topk(spark, sf_dir):
    """Top-20 co-purchase hubs by undirected degree."""
    deg = degrees(copurchase_edges(spark, sf_dir))
    return (
        deg.select(F.col("id").alias("part_id"), "degree")
        .orderBy(F.desc("degree"), F.asc("part_id"))
        .limit(20)
    )


@register(
    "graph_copurchase_triangles",
    f"""
    WITH {_COPURCHASE_CTE},
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM copurchase e1
      JOIN copurchase e2 ON e1.dst = e2.src
      JOIN copurchase e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    per_vertex AS (
      SELECT id, count(*) AS triangles
      FROM (SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY id
    )
    SELECT id AS part_id, triangles
    FROM per_vertex
    ORDER BY triangles DESC, part_id
    LIMIT 20
    """,
    tags=("graph", "triangles", "topk"),
)
def graph_copurchase_triangles(spark, sf_dir):
    """Top-20 parts by triangle participation (each triangle counted once
    per member; edges oriented a<b<c so no triangle is double-counted)."""
    tri = triangle_count(copurchase_edges(spark, sf_dir))
    return (
        tri.select(F.col("id").alias("part_id"), "triangles")
        .orderBy(F.desc("triangles"), F.asc("part_id"))
        .limit(20)
    )


#: Connected components of the exact-Jaccard (>= 0.6) near-duplicate pair
#: graph: both component algorithms must produce these clusters.
_NEARDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {SHINGLE_CTES},
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    nodes AS (SELECT DISTINCT id FROM
              (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
    SELECT component,
           count(*) AS n_docs,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
             AS member_ids
    FROM comp GROUP BY component
    """


@register(
    "graph_cc_neardup_clusters",
    _NEARDUP_CLUSTERS_ORACLE,
    tags=("graph", "cc", "dedup"),
)
def graph_cc_neardup_clusters(spark, sf_dir):
    """Dedup clusters = connected components over the exact-Jaccard near-dup
    pair graph (threshold 0.6). This is the canonical post-LSH step: pair
    lists undercount duplication (A~B, B~C but not A~C); components give the
    true groups to pick one survivor from. Oracle: recursive-CTE transitive
    closure (tiny pair set); the Spark side is the O(log d) min-label
    propagation that also works at 10^9 edges."""
    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.groupBy("component").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.sort_array(F.collect_list("id")).cast("array<string>"), ","
        ).alias("member_ids"),
    )


@register(
    "graph_cc_star_neardup_clusters",
    _NEARDUP_CLUSTERS_ORACLE,
    tags=("graph", "cc", "dedup", "star"),
)
def graph_cc_star_neardup_clusters(spark, sf_dir):
    """The same dedup-cluster assignment as graph_cc_neardup_clusters but
    via large-star/small-star (Kiveris et al.) instead of min-label
    propagation — O(log² n) rounds instead of O(diameter), the variant that
    survives chain-shaped components at 100 TB. Same oracle, identical
    results; the operator-level equivalence and the 1000-vertex-path round
    bound are pinned in tests/test_graph_algos.py."""
    from cinegraph_spark.operators.graph_algos import connected_components_star

    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.groupBy("component").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.sort_array(F.collect_list("id")).cast("array<string>"), ","
        ).alias("member_ids"),
    )


@register(
    "graph_neighbors_of_node",
    f"""
    WITH {_COPURCHASE_CTE},
    und AS (SELECT src, dst FROM copurchase
            UNION SELECT dst, src FROM copurchase)
    SELECT dst AS neighbor_id FROM und WHERE src = 1
    ORDER BY neighbor_id
    """,
    tags=("graph", "neighborhood"),
)
def graph_neighbors_of_node(spark, sf_dir):
    """G6 — the frontend's neighbor-highlight set (links incident to the
    active node, endpoints collected; `frontend/src/components/Graph/
    Graph.tsx:27-52`): 1-hop neighborhood of part 1 in the co-purchase
    graph. A filter on the symmetrized edge list — partition-prunable when
    edges are bucketed by src."""
    from cinegraph_spark.operators.graph_algos import symmetrize

    e = symmetrize(copurchase_edges(spark, sf_dir), oriented=True)
    return (
        e.filter(F.col("src") == 1)
        .select(F.col("dst").alias("neighbor_id"))
        .orderBy("neighbor_id")
    )


_TREE_EDGE_CTE = """
tree_edges AS (
  SELECT CAST(0 AS BIGINT) AS src, CAST(1 + r_regionkey AS BIGINT) AS dst
  FROM region
  UNION ALL
  SELECT CAST(1 + n_regionkey AS BIGINT), CAST(10 + n_nationkey AS BIGINT)
  FROM nation
  UNION ALL
  SELECT CAST(10 + c_nationkey AS BIGINT), CAST(100 + c_custkey AS BIGINT)
  FROM customer
)
"""


def tree_edges(spark, sf_dir):
    """Parent→child edges of the ltree fixture extended with customer
    leaves: root(0) → region(1+rk) → nation(10+nk) → customer(100+ck)."""
    r = T(spark, sf_dir, "region").select(
        F.lit(0).cast("long").alias("src"),
        (F.lit(1) + F.col("r_regionkey")).cast("long").alias("dst"),
    )
    n = T(spark, sf_dir, "nation").select(
        (F.lit(1) + F.col("n_regionkey")).cast("long").alias("src"),
        (F.lit(10) + F.col("n_nationkey")).cast("long").alias("dst"),
    )
    c = T(spark, sf_dir, "customer").select(
        (F.lit(10) + F.col("c_nationkey")).cast("long").alias("src"),
        (F.lit(100) + F.col("c_custkey")).cast("long").alias("dst"),
    )
    return r.unionByName(n).unionByName(c)


@register(
    "graph_bfs_levels_tree",
    f"""
    WITH {_TREE_EDGE_CTE}
    SELECT level, count(*) AS n_nodes,
           CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
    FROM (
      SELECT CAST(0 AS BIGINT) AS id, 0 AS level
      UNION ALL
      SELECT CAST(1 + r_regionkey AS BIGINT), 1 FROM region
      UNION ALL
      SELECT CAST(10 + n_nationkey AS BIGINT), 2 FROM nation
      UNION ALL
      SELECT CAST(100 + c_custkey AS BIGINT), 3 FROM customer
    )
    GROUP BY level
    """,
    tags=("graph", "bfs"),
)
def graph_bfs_levels_tree(spark, sf_dir):
    """Iterative BFS from the root over the tree graph, summarized per
    level. The oracle derives levels from the hierarchy definition, so this
    verifies the frontier-expansion operator end-to-end (4 supersteps)."""
    lv = bfs_levels(tree_edges(spark, sf_dir), 0, max_depth=6)
    return lv.groupBy(F.col("level").cast("int").alias("level")).agg(
        F.count("*").alias("n_nodes"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )


@register(
    "graph_pagerank_copurchase",
    # the 10-iteration fixpoint unrolled as chained CTEs: recursive
    # AGGREGATION is not legal SQL, but a FIXED iteration count is just 10
    # copies of one superstep — r{k} = 0.15 + 0.85 * sum(r{k-1}/deg)
    f"""
    WITH {_COPURCHASE_CTE},
    und AS (SELECT src, dst FROM copurchase
            UNION ALL SELECT dst, src FROM copurchase),
    verts AS (SELECT DISTINCT src AS id FROM und),
    deg AS (SELECT src AS id, count(*) AS out_deg FROM und GROUP BY src),
    r0 AS (SELECT id, 1.0 AS rank FROM verts),
    r1 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r0 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r2 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r1 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r3 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r2 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r4 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r3 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r5 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r4 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r6 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r5 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r7 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r6 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r8 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r7 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r9 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r8 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id)),
    r10 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(s.in_sum, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
        FROM und e JOIN r9 r ON e.src = r.id JOIN deg d ON r.id = d.id
        GROUP BY e.dst) s USING (id))
    SELECT id AS part_id, round(rank, 4) AS rank FROM r10
    ORDER BY round(rank, 4) DESC, part_id LIMIT 20
    """,
    tags=("graph", "pagerank"),
)
def graph_pagerank_copurchase(spark, sf_dir):
    """10-iteration damped PageRank over the symmetrized co-purchase graph;
    top-20 hubs. Deterministic given the fixed iteration count (pure
    double arithmetic in a fixed join order)."""
    e = copurchase_edges(spark, sf_dir)
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank(und, iterations=10)
    return (
        pr.select(F.col("id").alias("part_id"), F.round("rank", 4).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("part_id"))
        .limit(20)
    )


@register(
    "graph_recursive_cte_descendants",
    f"""
    WITH RECURSIVE {_TREE_EDGE_CTE.strip().rstrip()},
    walk(id, depth) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.depth + 1
      FROM walk w JOIN tree_edges e ON e.src = w.id
    )
    SELECT depth, count(*) AS n_nodes, CAST(sum(id) AS BIGINT) AS id_sum
    FROM walk GROUP BY depth
    """,
    tags=("graph", "recursive-cte", "sql"),
)
def graph_recursive_cte_descendants(spark, sf_dir):
    """Recursive SQL on the Spark side too (Spark 4 WITH RECURSIVE): the
    same tree walk as the BFS operator, expressed declaratively — per-depth
    node counts and id checksums from the root. Demonstrates the engine's
    SQL surface can express hierarchy queries without the iterative-join
    operator; Catalyst plans each recursion step as a join exactly like
    `operators/graph_algos.py::bfs_levels` does by hand."""
    tree_edges(spark, sf_dir).createOrReplaceTempView("_tree_edges_v")
    return spark.sql(
        """
        WITH RECURSIVE walk(id, depth) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN _tree_edges_v e ON e.src = w.id
        )
        SELECT depth, count(*) AS n_nodes, CAST(sum(id) AS BIGINT) AS id_sum
        FROM walk GROUP BY depth
        """
    )


def _lpa_step_sql(k: int) -> str:
    """One unrolled synchronous-LPA superstep as a CTE (see the PageRank
    unrolling note above: fixed iteration count = k copies of one step)."""
    return f"""
    l{k} AS (
      SELECT id, label FROM (
        SELECT e.dst AS id, r.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, r.label) AS rn
        FROM und e JOIN l{k - 1} r ON e.src = r.id
        GROUP BY e.dst, r.label
      ) WHERE rn = 1
    )"""


@register(
    "graph_label_propagation_communities",
    f"""
    WITH repeat_cp AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT src, dst FROM repeat_cp
            UNION ALL SELECT dst, src FROM repeat_cp),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM und),
    {", ".join(_lpa_step_sql(k) for k in range(1, 6))}
    SELECT label AS community, count(*) AS n_members,
           min(id) AS min_member, max(id) AS max_member
    FROM l5 GROUP BY label
    ORDER BY n_members DESC, community LIMIT 20
    """,
    tags=("graph", "communities", "label-propagation"),
)
def graph_label_propagation_communities(spark, sf_dir):
    """Community detection by 5 supersteps of synchronous label propagation
    (operators/graph_algos.py::label_propagation) over the REPEAT
    co-purchase graph — an edge only where two parts share >= 2 orders.
    The weight floor matters: on the unfiltered co-purchase graph (a dense
    near-random co-occurrence graph) LPA exhibits its known epidemic
    collapse into one giant label; thresholding to repeated co-purchases
    leaves genuine affinity structure (~280 communities at sf0.01). Top-20
    communities with member counts and id bounds. Deterministic by
    construction (fixed iteration count + smallest-label tie-break), so the
    oracle reproduces it exactly by unrolling the superstep into 5 chained
    CTEs; all-integer arithmetic, no float drift. Complements connected
    components: CC answers reachability (dedup clusters), LPA splits dense
    regions into communities without a global fixpoint."""
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = l.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    labels = label_propagation(edges, iterations=5)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("id").alias("min_member"),
            F.max("id").alias("max_member"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


@register(
    "graph_sssp_weighted",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS cnt
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    und AS (SELECT src, dst, cnt FROM pairs
            UNION ALL SELECT dst, src, cnt FROM pairs),
    knn AS (
      SELECT src, dst, CAST(1000000 - cnt AS BIGINT) AS w
      FROM (SELECT src, dst, cnt,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cnt DESC, dst) AS rn
            FROM und)
      WHERE rn <= 2
    ),
    root AS (SELECT min(src) AS id FROM knn),
    walk(id, dist, depth) AS (
      SELECT id, CAST(0 AS BIGINT), 0 FROM root
      UNION ALL
      SELECT e.dst, walk.dist + e.w, walk.depth + 1
      FROM walk JOIN knn e ON e.src = walk.id
      WHERE walk.depth < 6
    )
    SELECT id AS part_id, min(dist) AS dist
    FROM walk GROUP BY id
    ORDER BY part_id
    """,
    tags=("graph", "sssp", "shortest-path", "weighted", "iterative"),
)
def graph_sssp_weighted(spark, sf_dir):
    """Bounded-hop WEIGHTED shortest path over the co-purchase
    similarity graph (r15 — `operators/graph_algos.py::sssp_bounded`):
    parts sharing an order form weighted edges (weight = number of
    distinct shared orders), the graph is sparsified to each node's top-2
    strongest partners (the k-NN-graph trim, deterministic tie-break by
    neighbor id — degree-bounding is what keeps both the supersteps and
    the oracle's walk enumeration tractable at any SF), edge COST is the
    dissimilarity ``1000000 − cnt`` (stronger ties are cheaper, integer ⇒
    exact cross-engine), and frontier Bellman-Ford runs 6 supersteps from
    the smallest part id. Six rounds of (frontier ⋈ edges, min-agg) give
    exactly the minimum cost over paths of ≤ 6 edges — the same DP the
    oracle's recursive-CTE walk enumeration computes (min over walks ≡
    min over paths under positive costs), which is what makes an
    ITERATIVE graph algorithm exactly oracle-checkable. Completes the
    beyond-reference graph family (CC, PageRank, triangles, BFS, label
    propagation) with the weighted-distance member."""
    # distinct (order, part) FIRST: a part appearing on two lines of one
    # order must not double the pair weight, and pre-distincting the slim
    # 2-column frame costs one shuffle of the lineitem keys — cheaper
    # than count_distinct's extra expand/aggregate phase over the ~6×
    # larger pair-instance set (measured ~2s at sf0.1)
    l = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = l.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src")
    )
    b = l.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    und = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
        )
    )
    from pyspark.sql import Window

    wnd = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("dst"))
    knn = (
        und.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= 2)
        .select(
            "src",
            "dst",
            (F.lit(1000000).cast("long") - F.col("cnt")).alias("w"),
        )
        # materialize ONCE: both the root seed and sssp_bounded's edge
        # checkpoint consume this plan, and eager localCheckpoint jobs
        # cannot share exchanges — without this the lineitem self-join +
        # window pipeline would execute twice (r15 review)
        .localCheckpoint(eager=True)
    )
    root = knn.agg(F.min("src").alias("id"))
    out = sssp_bounded(knn, root, max_hops=6)
    return out.select(F.col("id").alias("part_id"), "dist").orderBy(
        "part_id"
    )
