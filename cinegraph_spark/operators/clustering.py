"""C1-C8 — clustering + hierarchy construction (SURVEY §2.6), re-expressed
Spark-first.

Division of labor mirrors the reference's deliberate two-level design
(``clustering/graph_creator.py:162-206``): the *wide* step (assigning every
movie to one of ≤800 micro-clusters) runs distributed (Spark ML KMeans);
the *small* step (agglomerating ≤800 centroids into a tree and rebalancing
it) runs on the driver over a few KB of centroids — the analog of a
broadcast/local stage, exact and cheap at any corpus size.

Ward linkage is implemented here directly (Lance-Williams recurrence over
the centroid distance matrix — scipy isn't available in this environment);
semantics match ``scipy.cluster.hierarchy.linkage(method='ward')`` /
``to_tree`` as used at ``graph_creator.py:192-194``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

#: knobs — reference defaults (``settings.py:104-135``).
MAX_NODES = 800
TARGET_LEAF_SIZE = 50
MAX_DEPTH = 5
MAX_FANOUT = 8
DIVERGENCE_THRESHOLD = 0.65
DELTA_THRESHOLD = 0.2
REPRESENTATIVES = 15


def n_micro_clusters(n: int) -> int:
    """``min(800, max(100, n // 50))`` (``graph_creator.py:180``)."""
    return min(MAX_NODES, max(100, n // TARGET_LEAF_SIZE))


# ---------------------------------------------------------------------------
# C1 — distributed micro-clustering (Spark ML KMeans)
# ---------------------------------------------------------------------------


def kmeans_assign(features_df, key_col: str, feature_cols: list[str], k: int | None = None, seed: int = 42):
    """Assign each row to one of ``k`` micro-clusters.

    Returns ``(assignments DataFrame[key_col, cluster], centers ndarray)``.
    Spark ML KMeans is distributed Lloyd (vs the reference's MiniBatchKMeans
    — algorithmically different by design, SURVEY §2.6 C1 [PROP]); the
    centroids live on the driver afterwards, which is the point: the wide
    data never does.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    if features_df.isEmpty():
        raise ValueError("KMeans training requires a non-empty corpus")
    if k is None:
        k = n_micro_clusters(features_df.count())
    assembled = VectorAssembler(
        inputCols=feature_cols, outputCol="_features"
    ).transform(features_df)
    model = KMeans(
        k=k, seed=seed, featuresCol="_features", predictionCol="cluster"
    ).fit(assembled)
    assignments = model.transform(assembled).select(key_col, "cluster")
    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assignments, centers


# ---------------------------------------------------------------------------
# C3 — Ward agglomerative linkage (driver-side, Lance-Williams)
# ---------------------------------------------------------------------------


def ward_linkage(points: np.ndarray) -> np.ndarray:
    """Agglomerative Ward clustering over ``points`` (m × d).

    Returns a scipy-style linkage matrix Z (m-1 × 4): each row
    ``[left_id, right_id, distance, size]`` where ids ≥ m refer to
    previously formed merges. Distance is the Ward distance
    (sqrt of the variance-increase form), matching scipy's convention.
    """
    m = len(points)
    if m == 1:
        return np.empty((0, 4))
    # squared euclidean distances between current clusters
    sq = ((points[:, None, :] - points[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(sq, np.inf)
    sizes = np.ones(m)
    ids = np.arange(m)  # current cluster id per active slot
    active = np.ones(m, dtype=bool)
    Z = np.zeros((m - 1, 4))
    next_id = m
    for step in range(m - 1):
        # find the closest active pair (deterministic tie-break: lowest flat index)
        masked = np.where(active[:, None] & active[None, :], sq, np.inf)
        i, j = np.unravel_index(np.argmin(masked), masked.shape)
        if i > j:
            i, j = j, i
        d = float(np.sqrt(masked[i, j]))
        ni, nj = sizes[i], sizes[j]
        a, b = ids[i], ids[j]
        Z[step] = [min(a, b), max(a, b), d, ni + nj]
        # Lance-Williams ward update of slot i; retire slot j
        k_mask = active.copy()
        k_mask[[i, j]] = False
        nk = sizes[k_mask]
        sq_ik = sq[i, k_mask]
        sq_jk = sq[j, k_mask]
        new_sq = (
            (ni + nk) * sq_ik + (nj + nk) * sq_jk - nk * sq[i, j]
        ) / (ni + nj + nk)
        sq[i, k_mask] = new_sq
        sq[k_mask, i] = new_sq
        sizes[i] = ni + nj
        ids[i] = next_id
        active[j] = False
        sq[j, :] = np.inf
        sq[:, j] = np.inf
        next_id += 1
    return Z


# ---------------------------------------------------------------------------
# C4 — linkage → nested dict tree
# ---------------------------------------------------------------------------


def linkage_to_tree(Z: np.ndarray, cluster_members: dict[int, list[int]]) -> dict:
    """Convert a linkage matrix + micro-cluster membership into the
    reference tree dict ``{type, indices, count, distance, children}``
    (``graph_creator.py:209-234``). Leaves are micro-clusters."""
    m = len(Z) + 1
    nodes: dict[int, dict] = {}
    for cid in range(m):
        members = list(cluster_members.get(cid, []))
        nodes[cid] = {
            "type": "leaf",
            "indices": members,
            "count": len(members),
            "children": [],
        }
    for step, (a, b, dist, _size) in enumerate(Z):
        left, right = nodes.pop(int(a)), nodes.pop(int(b))
        nodes[m + step] = {
            "type": "node",
            "distance": float(dist),
            "count": left["count"] + right["count"],
            "indices": left["indices"] + right["indices"],
            "children": [left, right],
        }
    root = nodes[max(nodes)] if len(Z) else nodes[0]
    root["type"] = "root"
    return root


# ---------------------------------------------------------------------------
# C5 — tree rebalance (pure function, property-tested)
# ---------------------------------------------------------------------------


def rebalance_tree(
    node: dict,
    depth: int = 0,
    max_depth: int = MAX_DEPTH,
    max_fanout: int = MAX_FANOUT,
    divergence_threshold: float = DIVERGENCE_THRESHOLD,
) -> dict:
    """Rebalance semantics of ``graph_creator.py:237-281``:

    - a node at depth ≥ max_depth (or with no children) becomes a leaf;
    - otherwise children are rebalanced recursively, then repeatedly: any
      child of type 'node' whose ``distance / (parent.distance + 1e-9)``
      exceeds the divergence threshold is inlined (replaced by its
      children), while current fanout < max_fanout and something changed
      last pass. (Fanout may overshoot max_fanout within a pass — the
      reference's documented loose bound, ``settings.py:121-124``.)

    **Deliberate deviation from the reference**: ``graph_creator.py:237-281``
    keeps children on depth-capped nodes (and ``_populate_db_from_tree``
    still recurses into them), so reference trees can exceed max_depth in
    the DB. Here a depth-capped node truncates its subtree and absorbs all
    member indices — max_depth becomes a hard invariant (what
    :func:`tree_invariants` checks and the serving queries assume). The
    saner contract, kept intentionally.
    """
    if not node.get("children") or depth >= max_depth:
        if node["type"] != "root":
            node["type"] = "leaf"
        node["children"] = []
        return node

    node["children"] = [
        rebalance_tree(c, depth + 1, max_depth, max_fanout, divergence_threshold)
        for c in node["children"]
    ]

    changed = True
    while changed and len(node["children"]) < max_fanout:
        changed = False
        new_children = []
        for child in node["children"]:
            if child["type"] == "node":
                div = child.get("distance", 0) / (node.get("distance", 1) + 1e-9)
                if div > divergence_threshold:
                    new_children.extend(child["children"])
                    changed = True
                    continue
            new_children.append(child)
        node["children"] = new_children
    return node


def tree_invariants(node: dict, depth: int = 0) -> list[str]:
    """Check the structural invariants the reference guarantees; returns a
    list of violations (empty == healthy). Used by property tests."""
    problems = []
    kids = node.get("children", [])
    if kids:
        if depth >= MAX_DEPTH:
            problems.append(f"internal node at depth {depth} >= {MAX_DEPTH}")
        member_union = sorted(i for c in kids for i in c["indices"])
        if member_union != sorted(node["indices"]):
            problems.append("children indices do not partition parent indices")
        if sum(c["count"] for c in kids) != node["count"]:
            problems.append("count != sum(children counts)")
        for c in kids:
            problems.extend(tree_invariants(c, depth + 1))
    else:
        if node["type"] not in ("leaf", "root"):
            problems.append(f"childless node of type {node['type']}")
    return problems


# ---------------------------------------------------------------------------
# C7 — emotional-shift labels; M7 — naming fallback
# ---------------------------------------------------------------------------


def emotional_shift(
    child_centroid: np.ndarray | None,
    parent_centroid: np.ndarray | None,
    feature_names: list[str],
    n_emotions: int = 6,
) -> str:
    """Shift label (``graph_creator.py:118-159``): top-2 positive deltas >
    ``DELTA_THRESHOLD`` → 'Higher {emotion} in act{N}'; bottom-1 negative
    < -threshold → 'Lower ...'; std block excluded; fixed fallback
    strings."""
    if parent_centroid is None:
        return "Baseline Story Shape"
    deltas = np.asarray(child_centroid) - np.asarray(parent_centroid)
    deltas = deltas[: -n_emotions] if n_emotions else deltas  # drop std block
    shifts = []
    order = np.argsort(deltas)
    for idx in order[-2:]:
        if deltas[idx] > DELTA_THRESHOLD:
            shifts.append("Higher " + feature_names[idx].replace("_", " in "))
    for idx in order[:1]:
        if deltas[idx] < -DELTA_THRESHOLD:
            shifts.append("Lower " + feature_names[idx].replace("_", " in "))
    return ", ".join(shifts) if shifts else "Balanced/Nuanced Pacing"


def fallback_names(parent_name: str, n: int) -> list[str]:
    """Deterministic node naming (``clustering/utils.py:130`` fallback).

    Hardening beyond the reference's plain f-string: the fallback is the
    retry protocol's terminal state, so it MUST satisfy
    :func:`validate_names` for any parent string — collapse/normalize
    whitespace (exotic whitespace like NEL would otherwise split the
    ``_Subgroup_i`` suffix into its own word) and keep at most 3 parent
    words so the result never exceeds the 4-word cap.

    Deliberate deviation from the reference's terminal fallback text
    (which emits ``parent.replace(' ', '_')_Subgroup_{i+1}`` — underscore
    -joined parent, 1-based index): this repo keeps spaces in the (≤3)
    parent words and uses 0-based indices. Both satisfy
    :func:`validate_names`; byte parity of fallback name TEXT with
    reference output is not a goal (the names are synthetic labels, not
    data), so the deviation is recorded here rather than matched."""
    words = parent_name.split()[:3]
    base = " ".join(words)
    return [f"{base}_Subgroup_{i}" for i in range(n)]


def validate_names(names: list[str], n: int) -> bool:
    """The reference's LLM-name validation (``clustering/utils.py:36-57``):
    right count, each ≤ 4 words, all unique."""
    return (
        len(names) == n
        and all(len(str(x).split()) <= 4 for x in names)
        and len(set(names)) == n
    )


#: LLM naming budget (``clustering/utils.py:113-127``).
NAMER_RETRIES = 5


def retry_namer(
    llm: Callable[[str, list[dict], int], list[str]],
) -> Callable[[str, list[dict]], list[str]]:
    """M7 — wrap a pluggable LLM callable in the reference's retry/validate
    protocol (``clustering/utils.py:76-130``): up to ``NAMER_RETRIES`` calls of
    ``llm(parent_name, groups, attempt)``; each response is validated
    (count, ≤ 4 words each, all unique — :func:`validate_names`); invalid
    responses AND raised exceptions consume a retry; when the budget is
    exhausted the names fall back to ``{parent}_Subgroup_{i}`` exactly like
    ``utils.py:130``. ``groups`` carry each child's representative member
    keys and shift label (see :func:`flatten_tree`), the same context the
    reference's prompt builder feeds its structured-output LLM.

    Returns a namer pluggable into :func:`flatten_tree` /
    ``build_graph_tables`` — deterministic infrastructure around a
    nondeterministic callable, so the protocol itself is property-testable
    with a fake LLM (tests/test_clustering.py)."""

    def namer(parent_name: str, groups: list[dict]) -> list[str]:
        n = len(groups)
        for attempt in range(NAMER_RETRIES):
            try:
                names = [str(x) for x in llm(parent_name, groups, attempt)]
            except Exception:
                continue
            if validate_names(names, n):
                return names
        return fallback_names(parent_name, n)

    return namer


# ---------------------------------------------------------------------------
# C8 — flatten tree → serving tables (graph / membership)
# ---------------------------------------------------------------------------


@dataclass
class FlatGraph:
    nodes: list[tuple] = field(default_factory=list)  # (id, path, name, type, children_count)
    membership: list[tuple] = field(default_factory=list)  # (member_index, graph_id)


def annotate_tree(
    tree: dict,
    counts: dict[int, int],
    sums: dict[int, np.ndarray],
    feature_names: list[str],
) -> None:
    """Attach ``_centroid`` and ``_shift`` to every tree node from
    per-micro-cluster aggregates (count + feature-sum per cluster id).

    This is the driver-side half of the distributed C6/C7 computation: a
    node's centroid is the count-weighted mean of its member clusters'
    sums — identical to the member-row mean the reference computes
    (``graph_creator.py:345-347``) but derived from O(k × d) aggregates
    instead of the corpus. Shift labels (``graph_creator.py:118-159``) are
    pure math over (child, parent) centroids. The corpus itself never
    reaches the driver.
    """

    def centroid_of(node: dict) -> np.ndarray | None:
        cids = [int(c) for c in node.get("indices", [])]
        tot = sum(counts.get(c, 0) for c in cids)
        if tot == 0:
            return None
        return np.sum([sums[c] for c in cids if c in sums], axis=0) / tot

    def visit(node: dict, parent_centroid) -> None:
        cc = centroid_of(node)
        node["_centroid"] = cc
        node["_shift"] = (
            emotional_shift(cc, parent_centroid, feature_names)
            if cc is not None
            else "Baseline Story Shape"
        )
        for child in node.get("children", []):
            visit(child, cc)

    visit(tree, None)


def flatten_tree(
    tree: dict,
    namer: Callable[[str, list[dict]], list[str]] | None = None,
) -> FlatGraph:
    """DFS the rebalanced tree into flat serving rows with pre-assigned ids
    and dot-paths (the reference's recursive DB populate,
    ``graph_creator.py:305-378``, minus the two-phase id dance).

    ``namer(parent_name, groups) -> names`` mirrors M7; defaults to the
    deterministic fallback. Groups carry each child's shift label
    (``node['_shift']``, see :func:`annotate_tree`) and representative
    member keys (``node['_representatives']``, computed distributed by
    ``operators/graph_build.py::node_representatives``) so an LLM namer
    plugs in unchanged; both default to empty on unannotated trees.
    """
    out = FlatGraph()
    counter = {"next": 0}

    def nid() -> int:
        counter["next"] += 1
        return counter["next"] - 1

    def visit(node: dict, parent_path: str, name: str):
        my_id = nid()
        path = f"{parent_path}.{my_id}" if parent_path else "root"
        kids = node.get("children", [])
        # children_count counts child *nodes* (graph_repo.py:84 bumps it in
        # add_child only; attached movies don't) — leaves carry 0.
        out.nodes.append(
            (
                my_id,
                path,
                name,
                node["type"] if not kids or node["type"] == "root" else "node",
                len(kids),
            )
        )
        if not kids:
            for idx in node["indices"]:
                out.membership.append((int(idx), my_id))
            return
        groups = [
            {
                "representative_indices": child.get("_representatives", []),
                "shift": child.get("_shift", "Baseline Story Shape"),
            }
            for child in kids
        ]
        name_fn = namer or (lambda parent, gs: fallback_names(parent, len(gs)))
        names = name_fn(name, groups)
        if not validate_names(list(names), len(kids)):
            names = fallback_names(name, len(kids))
        for child, child_name in zip(kids, names):
            visit(child, path, child_name)

    visit(tree, "", "root")
    return out
