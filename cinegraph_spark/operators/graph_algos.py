"""Pregel-style graph algorithms as iterative DataFrame joins.

The north-star approach names GraphX/Pregel, but GraphX has no Python
binding — the idiomatic PySpark equivalent is the edge/vertex-DataFrame
pattern (what GraphFrames does under the hood): each superstep is a
join(messages) → groupBy(vertex).agg → compare-and-swap, with
``localCheckpoint`` truncating the lineage so plans don't grow with the
iteration count (the classic iterative-DataFrame failure mode).

Reference tie-in: the reference's only graph is the ≤800-node cluster tree
(`clustering/graph_creator.py:162-234`) which it walks on the driver; these
operators generalize that to distributed graphs that cannot be collected
(e.g., the near-dup pair graph over a 100 TB corpus, where connected
components IS the dedup-cluster assignment).

Scale notes per algorithm in the docstrings. All of them keep state as
(vertex, value) DataFrames partitioned by vertex id; messages flow along a
symmetrized edge list that is computed once and cached.

Edge lists carry ``src`` and ``dst`` columns (``sssp_bounded`` adds ``w``);
only the connected-components operators take the column names. An
*oriented* edge list is distinct with ``src < dst`` — the form every
package caller builds (``copurchase_edges``, the near-dup pair plans), and
the form ``degrees``, ``triangle_count`` and ``label_propagation`` require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cinegraph_spark.session import bounded_shuffle, local_df

#: PageRank damping factor (GraphX's default).
DAMPING = 0.85


def symmetrize(edges: DataFrame, oriented: bool = False) -> DataFrame:
    """Undirected view of an edge list: both directions, self-loops dropped,
    duplicates removed (one shuffle).

    ``oriented=True`` declares the input oriented (distinct, src < dst) —
    then fwd ∪ rev can't collide and the dedup shuffle is skipped
    entirely (the union is map-only)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    both = fwd.unionByName(rev)
    if oriented:
        return both
    return both.filter(F.col("src") != F.col("dst")).distinct()


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex of an oriented edge list: (id,
    degree). The only shuffle is the final count aggregation."""
    return (
        symmetrize(edges, oriented=True)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("degree"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation connected components → (id, component).

    component = min vertex id reachable from ``id``. Each superstep joins
    current labels onto the symmetrized edge list and takes the min of own
    and neighbor labels; convergence is detected by counting changed rows
    (a cheap count on the already-shuffled diff). Rounds needed = graph
    diameter; near-dup/similarity graphs (the 100 TB use case: grouping
    LSH pairs into dedup clusters) have tiny components, so this converges
    in a handful of rounds. For adversarial long-path graphs, swap in
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — same join primitives, O(log²) rounds.

    ``localCheckpoint`` after each superstep truncates lineage so the plan
    stays O(1) per round instead of O(rounds).

    Any edge list works: messages flow both ways without a dedup shuffle,
    and a duplicate or self-loop edge only repeats a message the min
    already absorbs. When the label fixpoint is NOT reached within
    ``max_iter`` supersteps (graph diameter > max_iter) it raises
    ``RuntimeError`` — partially-propagated labels would silently split
    one true component into several, which for the leakage-safe-split
    callers means near-duplicate documents leaking across the
    train/heldout boundary.
    """
    # every superstep materializes eagerly (localCheckpoint) inside the
    # bounded-shuffle scope: a plain 200-partition session would otherwise
    # pay 200-task overhead per round on graphs this size
    with bounded_shuffle(edges.sparkSession):
        # stage the raw edge list ONCE: symmetrize scans it twice (fwd +
        # rev) and the vertex union twice more, so an expensive upstream
        # (the near-dup pair plans every caller feeds in) would otherwise
        # re-execute 4x before the first superstep
        edges = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).localCheckpoint(eager=True)
        e = symmetrize(edges, oriented=True).localCheckpoint(eager=True)
        # vertex set from the staged endpoints: a vertex whose only edge
        # is (v, v) is its own component, as in connected_components_star
        labels = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .withColumn("component", F.col("id"))
            .localCheckpoint(eager=True)
        )
        converged = False
        for _ in range(max_iter):
            # neighbor messages: each edge forwards the source's current label
            msgs = (
                e.join(labels, e.src == labels.id)
                .select(F.col("dst").alias("id"), F.col("component"))
                .groupBy("id")
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(msgs, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("nbr_min", F.col("component"))
                    ).alias("component"),
                    (
                        F.coalesce("nbr_min", F.col("component")) < F.col("component")
                    ).alias("changed"),
                )
            ).localCheckpoint(eager=True)
            n_changed = new_labels.filter("changed").count()
            labels = new_labels.drop("changed")
            if n_changed == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "supersteps (graph diameter exceeds the round budget); partial "
            "labels would split true components. Raise max_iter, or use "
            "connected_components_star (O(log^2) rounds)."
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Large-star/small-star connected components → (id, component) —
    Kiveris et al., "Connected Components in MapReduce and Beyond" (2014).

    The O(log²) alternative to :func:`connected_components`'s min-label
    propagation, whose round count is the graph *diameter*: on a chain of
    10⁶ vertices min-label needs 10⁶ supersteps, large-star/small-star
    ~log²(n). Each round rewires the edge set toward a star per component:

    - **large-star**: for every vertex u with m(u) = min(N(u) ∪ {u}), each
      neighbor v > u re-attaches to m(u) — halves long tails;
    - **small-star**: on the canonical (big → small) edge set, each big
      vertex and its smaller neighbors all attach to the smallest — flattens
      local stars.

    Both phases are one groupBy + one join over the edge list (shuffle keys
    = vertex ids), `localCheckpoint` truncates lineage per round, and
    convergence is detected with a constant-size (count, hash-sum)
    aggregate instead of a set comparison. After the fixpoint the edge set
    IS the star forest: every vertex points directly at its component
    minimum. Component ids therefore match min-label's exactly. No
    fixpoint within ``max_rounds`` raises ``RuntimeError``, like
    :func:`connected_components`: the unfinished edge set would split a
    true component.
    """
    with bounded_shuffle(edges.sparkSession):
        # stage the raw edge list ONCE (vertex union + canonicalization
        # scan it 3x; callers feed expensive near-dup pair plans)
        raw = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .localCheckpoint(eager=True)
        )
        verts = (
            raw.select(F.col("a").alias("id"))
            .unionByName(raw.select(F.col("b").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # canonical undirected edges: u = bigger endpoint, v = smaller
        e = (
            raw.filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = _star_rounds(e, max_rounds)
    parents = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("_p"))
    return verts.join(parents, "id", "left").select(
        "id", F.coalesce("_p", F.col("id")).alias("component")
    )


def _star_rounds(e: DataFrame, max_rounds: int) -> DataFrame:
    """Alternate large-star/small-star on a canonical edge set until the
    (count, hash-sum) signature stabilizes; returns the star forest, or
    raises when ``max_rounds`` rounds do not reach it."""

    def signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            # decimal accumulator: a sum of int64 hashes overflows long
            # under ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = signature(e)
    for _ in range(max_rounds):
        # large-star over the symmetric view
        d = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = d.groupBy("u").agg(F.min("v").alias("_nmin"))
        m = F.least(F.col("_nmin"), F.col("u"))
        large = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the canonical (big → small) result
        mins2 = large.groupBy("u").agg(F.min("v").alias("_m"))
        with_m = large.join(mins2, "u")
        attach_small = (
            with_m.filter(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        )
        attach_big = mins2.select("u", F.col("_m").alias("v"))
        e = (
            attach_small.unionByName(attach_big)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(e)
        if new_sig == sig:
            return e
        sig = new_sig
    raise RuntimeError(
        f"connected_components_star did not converge within "
        f"max_rounds={max_rounds} rounds; the unfinished edge set would "
        "split true components. Raise max_rounds."
    )


def pagerank(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """Standard damped PageRank (``DAMPING``) over a distinct directed
    edge list → (id, rank), ranks summing to the vertex count (GraphX's
    convention).

    Each iteration: rank/out_degree contributions flow along edges, one
    shuffle on dst, plus the teleport term. Dangling vertices keep their
    teleport share (their rank is not redistributed — matches GraphX's
    ``staticPageRank``). Out-degrees are computed once and re-joined each
    superstep; at scale, pre-partition edges and ranks on the same key so
    the per-iteration join is co-located.
    """
    with bounded_shuffle(edges.sparkSession):
        e = edges.select("src", "dst").localCheckpoint(eager=True)
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # eager checkpoint like verts: without it each iteration's plan
        # embeds (and re-executes) this full-edge-list aggregation —
        # 10 redundant shuffle stages per default pagerank call
        out_deg = (
            e.groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("out_deg"))
            .localCheckpoint(eager=True)
        )
        ranks = verts.withColumn("rank", F.lit(1.0))
        for _ in range(iterations):
            contribs = (
                e.join(ranks, e.src == ranks.id)
                .join(out_deg, ranks.id == out_deg.id)
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") / F.col("out_deg")).alias("contrib"),
                )
                .groupBy("id")
                .agg(F.sum("contrib").alias("in_sum"))
            )
            ranks = (
                verts.join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(1.0 - DAMPING)
                        + F.lit(DAMPING) * F.coalesce("in_sum", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts of an oriented edge list → (id,
    triangles).

    Join the low→high edges on the shared low vertex to enumerate wedges,
    then close each wedge against the same edge list — each triangle is
    produced exactly once (a < b < c). Two shuffles; wedge fan-out is
    bounded by the orientation (each vertex only fans out to higher-id
    neighbors, the standard degree-splitting trick).
    """
    und = edges.select("src", "dst").localCheckpoint(eager=True)
    ab = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    triangles = ab.join(bc, "b").join(ac, ["a", "c"])  # a<b<c closed wedges
    per_vertex = (
        triangles.select(F.col("a").alias("id"))
        .unionByName(triangles.select(F.col("b").alias("id")))
        .unionByName(triangles.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return per_vertex


def bfs_levels(edges: DataFrame, start_id, max_depth: int = 20) -> DataFrame:
    """BFS from ``start_id`` over an undirected view → (id, level).

    Frontier expansion: join frontier to edges, anti-join against visited,
    dedupe, advance. Each round shuffles only the frontier (not the whole
    graph) — the Pregel 'active vertex set' idea expressed as DataFrames.
    """
    with bounded_shuffle(edges.sparkSession):
        e = symmetrize(edges).localCheckpoint(eager=True)
        # seed id type follows the edge schema — a hardcoded `id long`
        # would reject string-keyed graphs (and force implicit casts in
        # the frontier join under ANSI) despite the module's generality
        from pyspark.sql.types import IntegerType, StructField, StructType

        seed_schema = StructType(
            [
                StructField("id", edges.schema["src"].dataType),
                StructField("level", IntegerType()),
            ]
        )
        visited = local_df(
            e.sparkSession, [(start_id, 0)], seed_schema
        ).localCheckpoint(eager=True)
        frontier = visited
        for depth in range(1, max_depth + 1):
            nxt = (
                e.join(frontier, e.src == frontier.id)
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .withColumn("level", F.lit(depth))
            ).localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
            # no checkpoint on the union (r19): visited is a union of
            # already-checkpointed per-round leaves, so its plan is O(1)
            # per round and nothing below it can recompute — the former
            # eager checkpoint here was one whole Spark job per level
            visited = visited.unionByName(nxt)
            frontier = nxt
    return visited


def sssp_bounded(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """Weighted single-source(s) shortest path, bounded to paths of at
    most ``max_hops`` edges — Bellman-Ford expressed as frontier
    supersteps → ``(id, dist)``. ``edges`` is DIRECTED ``(src, dst, w)``
    with non-negative integer weights (symmetrize first for an undirected
    graph; integer weights keep the distances exact cross-engine);
    ``sources`` is a frame of seed ``id`` rows (multi-source is the
    general form — single-source is a 1-row frame).

    Each superstep relaxes only from the FRONTIER (nodes whose distance
    improved last round): one shuffle join frontier⋈edges on ``src`` plus
    one min-aggregation, never the whole distance table against the whole
    graph — the same Pregel active-set economy as :func:`bfs_levels`, and
    the standard frontier Bellman-Ford argument keeps it exact (a node's
    settled distance was propagated the round after it was set). After
    round k every distance is the true minimum over paths of ≤ k edges,
    so the fixed ``max_hops`` unroll returns exactly the bounded-hop
    shortest distances — the same DP a recursive-CTE walk enumeration
    computes, which is what makes the registered query
    (`queries/graph.py::graph_sssp_weighted`) oracle-checkable. Early-out
    when a round improves nothing (the unbounded fixpoint was reached
    sooner). Lineage is truncated per round (`localCheckpoint`), the
    module's standard iterative-plan hygiene. At 100 TB: edges
    pre-partitioned by ``src`` co-locate every superstep's join; state is
    one row per reached node; rounds are bounded by ``max_hops``."""
    with bounded_shuffle(edges.sparkSession):
        e = edges.select("src", "dst", "w").localCheckpoint(eager=True)
        dist = (
            sources.select("id")
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True)
        )
        frontier = dist
        for _ in range(int(max_hops)):
            cand = (
                e.join(frontier, e["src"] == frontier["id"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("dist") + F.col("w")).cast("long").alias("dist"),
                )
                .groupBy("id")
                .agg(F.min("dist").alias("cand"))
            )
            # ONE full-outer join carries both round outputs (r19 — the
            # former improved-then-union shape paid two eager checkpoints
            # and three shuffles per superstep): new dist = min(old,
            # cand) with either side absent, and ``imp`` marks the rows
            # the old ``improved`` filter kept (first-seen or lowered),
            # so frontier/early-out are projections of the one
            # checkpointed state — values identical (exact integer min).
            state = (
                cand.join(
                    dist.withColumnRenamed("dist", "old"), "id", "full"
                )
                .select(
                    "id",
                    F.least("cand", "old").alias("dist"),
                    (
                        F.col("old").isNull()
                        | (F.col("cand") < F.col("old"))
                    ).alias("imp"),
                )
                .localCheckpoint(eager=True)
            )
            frontier = state.filter("imp").select("id", "dist")
            if frontier.isEmpty():
                break
            dist = state.select("id", "dist")
    return dist


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label propagation over an oriented edge list → (id,
    label) after a FIXED number of
    supersteps: every vertex starts as its own label, and each round adopts
    the most frequent label among its neighbors (ties → smallest label).
    Communities emerge as label plateaus; the fixed iteration count makes
    the run deterministic — asynchronous LPA's update-order dependence (and
    synchronous LPA's possible 2-cycle oscillation on bipartite structures)
    never enters the result, which is what lets a SQL oracle reproduce it
    by unrolling the superstep (the PageRank pattern).

    Each superstep is one shuffle to count (vertex, neighbor-label)
    frequencies plus a per-vertex top-1 window on that already-aggregated
    frame; ``localCheckpoint`` truncates lineage so plans stay O(1) across
    iterations. Vertices with no in-edges keep their previous label via the
    left join (impossible on a symmetrized graph, kept for generality).
    """
    with bounded_shuffle(edges.sparkSession):
        und = symmetrize(edges, oriented=True).localCheckpoint(eager=True)
        labels = (
            und.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint(eager=True)
        )
        # integral vertex ids (every registered graph) take the top-1 as
        # a hash aggregate instead of a sort window (r19): max over
        # struct(cnt, -label) picks the highest count and, on ties, the
        # SMALLEST label — the same row the former row_number window
        # (desc cnt, asc label) ranked first, without the per-partition
        # sort. Exact integers ⇒ bit-identical labels. Non-numeric ids
        # keep the generic window (negation is integer-only).
        integral = dict(labels.dtypes)["label"] in (
            "tinyint", "smallint", "int", "bigint",
        )
        w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
        for _ in range(iterations):
            freq = (
                und.join(labels, und["src"] == labels["id"])
                .select(F.col("dst").alias("id"), "label")
                .groupBy("id", "label")
                .agg(F.count("*").alias("cnt"))
            )
            if integral:
                top = (
                    freq.groupBy("id")
                    .agg(
                        F.max(
                            F.struct("cnt", (-F.col("label")).alias("nl"))
                        ).alias("m")
                    )
                    .select("id", (-F.col("m.nl")).alias("new_label"))
                )
            else:
                top = (
                    freq.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select("id", F.col("label").alias("new_label"))
                )
            labels = (
                labels.join(top, "id", "left")
                .select("id", F.coalesce("new_label", "label").alias("label"))
                .localCheckpoint(eager=True)
            )
    return labels
