"""Approximate-nearest-neighbor operators — the 100 TB scale path for the
reference's declared pgvector HNSW cosine capability
(`db/models/embedding.py:15-17`, `services/db_service/db_init.sql:23-28`).

HNSW is a pointer-chasing in-memory graph — there is no distributed analog
of the structure itself; `operators/hnsw.py` ships the graph as a
driver-built broadcast index searched map-side, while the operators here
follow the partition-native shape: *partition the corpus by a cheap hash of
the vector, search only the partition(s) the query lands in*.

- **IVF** (inverted file): coarse-quantize every vector to its nearest
  centroid; a query probes only the ``nprobe`` nearest cells. Spark-side the
  "index" is just a ``cell`` column — at scale you'd write the corpus
  parquet partitioned by it, so a probe is partition pruning, not a scan.
- **Sign-LSH**: random-hyperplane signature (Charikar's SimHash for cosine);
  candidates share the query's bucket. Hyperplanes here are a deterministic
  integer lattice so the DuckDB oracle reproduces them exactly; production
  would draw Gaussian planes from a seed.

Both return *exact* cosine among the candidates — approximation comes only
from pruning, which is what makes recall measurable against the brute-force
baseline (`queries/vectors.py::vec_cosine_topk_to_query`).

Inputs are DataFrames with ``v: array<double>``; everything is higher-order
array expressions (JVM codegen, no Python) and the only shuffles are on the
tiny (cell/label) keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cinegraph_spark.functions import vector as V


def label_centroids(e: DataFrame) -> DataFrame:
    """Per-label mean vector → (label, cv: array<double>).

    posexplode → avg per (label, dim) → re-assemble ordered by dim. The
    shuffle key is (label, dim) — cardinality #labels × dim, independent of
    corpus size, so the partial aggregation does all the heavy lifting
    map-side at any scale.
    """
    flat = e.select("label", F.posexplode("v").alias("dim", "x"))
    cent = flat.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )


def ivf_cosine_topk(
    e: DataFrame,
    q: DataFrame,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` cells whose centroid is most cosine-
    similar to the query, then exact cosine top-k within them.

    ``e``: (vec_id, label, v) corpus with a precomputed cell assignment
    (here the driver tables' ``label``; production assigns cells with
    KMeans). ``q``: single row (qv: array<double>).

    At 100 TB: centroids are O(#cells) — always broadcast; the probe list is
    O(nprobe) — always broadcast; with the corpus parquet partitioned by
    cell, the candidate read is partition pruning so cost scales with
    nprobe/ncells of the data, the IVF contract.
    """
    return _probe_then_exact_topk(e, q, label_centroids(e), nprobe, k)


def _probe_ranking(cents, q, nprobe):
    """The probe: rank stored/derived centroids by cosine against the
    broadcast query. ROUNDED to 9 decimals before ranking (repo
    convention: float aggregates round on both sides) so a last-ulp
    difference between centroid computations — IEEE avg, exact decimal
    means in the persisted table, DuckDB avg in the oracles — collapses
    into a tie broken deterministically by label instead of flipping the
    probe set."""
    return (
        cents.crossJoin(F.broadcast(q))
        .select(
            "label",
            F.round(V.cosine(F.col("cv"), F.col("qv")), 9).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("label"))
        .limit(nprobe)
    )


def _exact_topk_within(cand, q, k):
    """Exact cosine top-k among an already-restricted candidate frame —
    shared tail of every IVF search form so the emit/tie-break contract
    lives in exactly one place."""
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _probe_then_exact_topk(e, q, cents, nprobe, k):
    """Shared IVF body (r12 review: was duplicated between the
    rebuild-per-query and persisted-table forms): pick the ``nprobe``
    cells whose centroid is most cosine-similar to the broadcast query
    (see :func:`_probe_ranking` for the rounding contract), then exact
    cosine top-k within them."""
    probed = _probe_ranking(cents, q, nprobe).select("label")
    return _exact_topk_within(e.join(F.broadcast(probed), "label"), q, k)


def lsh_bucket_col(v, nbits: int):
    """Sign-LSH bucket as ONE map-only column expression over an
    ``array<double>`` column — no planes table, no shuffle, no driver job.

    Hyperplane lattice: ``h(p, d) = ((p*31 + d*17) mod 13) - 6`` for plane
    p ∈ [1, nbits], dim d ∈ [1, len(v)] (the DuckDB oracle builds the same
    lattice with ``range``; production would use seeded Gaussian planes —
    the operator shape is identical). bucket = Σ_p 2^(p-1) · [v·h_p ≥ 0].

    The vector dimension never needs to be known up front: the per-plane
    dot product rides ``transform``'s element index, so building the plan
    launches no job (pinned by tests/test_plans.py).
    """
    def _weigh(p):
        # closure factory: a default-arg lambda would change the arity Spark
        # inspects (transform passes (elem, idx) to 2-ary lambdas only)
        return lambda x, i: x * (
            (F.lit(p * 31) + (i + 1) * 17) % 13 - 6
        ).cast("double")

    bucket = F.lit(0).cast("long")
    for p in range(1, nbits + 1):
        dot = F.aggregate(
            F.transform(v, _weigh(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(
            dot >= 0, F.lit(2 ** (p - 1)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_cosine_topk(
    e: DataFrame,
    query_id: int,
    nbits: int = 4,
    k: int = 10,
) -> DataFrame:
    """Sign-LSH ANN: exact cosine top-k among the vectors sharing the query
    vector's ``nbits``-bit bucket.

    At scale the bucket column is the partition/bucketing key: candidate
    lookup is one pruned partition (corpus/2^nbits of the data), the classic
    LSH-table contract. Recall is tunable by nbits (fewer bits → bigger
    buckets → higher recall, more compute) or by OR-ing multiple tables.

    The signature is a map-only column expression (:func:`lsh_bucket_col`),
    so building this plan launches no Spark job — the one prior driver
    action (reading the vector dimension) is gone.
    """
    eb = e.withColumn("bucket", lsh_bucket_col(F.col("v"), nbits))
    qrow = eb.filter(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        eb.crossJoin(F.broadcast(qrow))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != query_id))
        .select(
            "vec_id",
            "bucket",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization (codebook train / encode / ADC top-k)
# ---------------------------------------------------------------------------

#: Seed and Lloyd iteration count of every PQ codebook fit.
PQ_TRAIN_SEED = 42
PQ_TRAIN_ITERS = 15


def pq_train(
    e: DataFrame,
    m: int = 8,
    k: int = 16,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks: split every vector into ``m``
    contiguous sub-vectors and run seeded Lloyd's KMeans(``k``)
    independently per subspace. Returns ``m × k × (dim/m)`` nested lists
    (a few KB — the PQ "index" is driver/broadcast-sized by construction).

    Spark shape: one ``applyInPandas`` over exactly ``m`` groups — the m
    independent small fits are the *group* axis, so they train in parallel
    in one shuffle. Rows are sorted by id inside each group and the RNG is
    derived from (``PQ_TRAIN_SEED``, subspace), so training is
    bit-deterministic for a given corpus. At 100 TB you train on a content-hash sample (PQ codebooks
    saturate at ~100k training points); pass that sample as ``e``.
    """
    import numpy as np
    import pandas as pd

    dim = _arr_len(e)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    sub = e.select(
        F.col("vec_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"),
                    F.slice(F.col("v"), j * dsub + 1, dsub).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))

    def lloyd(pdf: pd.DataFrame) -> pd.DataFrame:
        j = int(pdf["j"].iloc[0])
        pdf = pdf.sort_values("vec_id")
        X = np.vstack(pdf["sv"].to_numpy())
        rng = np.random.default_rng(PQ_TRAIN_SEED * 1009 + j)
        # kmeans++ seeding
        centers = [X[rng.integers(len(X))]]
        for _ in range(1, k):
            d2 = np.min(
                ((X[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(-1),
                axis=1,
            )
            p = d2 / d2.sum() if d2.sum() > 0 else None
            centers.append(X[rng.choice(len(X), p=p)])
        C = np.asarray(centers, dtype=np.float64)
        for _ in range(PQ_TRAIN_ITERS):
            a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(k):
                if (a == c).any():
                    C[c] = X[a == c].mean(0)
                else:  # re-seed empty cluster to the farthest point
                    far = ((X - C[a]) ** 2).sum(1).argmax()
                    C[c] = X[far]
        return pd.DataFrame({"j": [j], "codebook": [C.tolist()]})

    rows = (
        sub.groupBy("j")
        .applyInPandas(lloyd, "j int, codebook array<array<double>>")
        .collect()
    )
    books = {r["j"]: r["codebook"] for r in rows}
    return [books[j] for j in range(m)]


def _arr_len(e: DataFrame) -> int:
    """Array length from the first row — used only at *train* time (training
    is eager anyway); the encode/search expressions never launch jobs."""
    row = e.select("v").first()
    if row is None or row[0] is None:
        raise ValueError("PQ training requires a non-empty vector corpus")
    return len(row[0])


#: The PQ state's ``books`` table (one row per subspace). Declared, never
#: inferred: the table identity lives in these columns, and inference
#: would cost a parquet-footer job on every read and maintenance call.
#: Rows per codes partition when ``pq_codes_save`` picks the count.
PQ_ROWS_PER_PARTITION = 1_048_576

_PQ_BOOKS_DDL = (
    "j int, codebook array<array<double>>, n_partitions int, "
    "key_ddl string, codes_schema string"
)


def _pq_per_centroid(v_col, codebooks: list[list[list[float]]], fn):
    """``m × k`` table ``fn(sub_j, C[j][c])`` of the vector's j-th
    sub-vector against every centroid of subspace j, read from ONE literal
    of the whole codebook — the expression tree has the same size for any
    m and k."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    return F.zip_with(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(v_col, j * dsub + 1, dsub),
        ),
        V.array_lit(codebooks, "array<array<array<double>>>"),
        lambda sv, book: F.transform(book, lambda c: fn(sv, c)),
    )


def pq_encode_col(v_col, codebooks: list[list[list[float]]]):
    """PQ codes as ONE map-only JVM column expression → ``array<int>``
    (length m): per subspace, the index of the nearest codebook centroid
    (squared distance summed left to right, first index on ties). No
    Python, no shuffle — at 100 TB the encode pass is a codegen scan
    writing 8 bytes/vector instead of 512."""
    return F.transform(
        _pq_per_centroid(v_col, codebooks, V.sqdist),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def _pq_lut(codebooks: list[list[list[float]]], qv_col):
    """ADC lookup table (asymmetric distance computation; Jégou, Douze &
    Schmid, TPAMI 2011): ``lut[j][c] = q_sub_j · C[j][c]``, ``m × k``
    dot products computed ONCE per query row, never per corpus row."""
    return _pq_per_centroid(qv_col, codebooks, V.dot)


def _pq_adc(lut_col, code_col):
    """ADC dot-product approximation of one code: ``Σ_j lut[j][code_j]``,
    m lookups summed left to right from 0.0."""
    return F.aggregate(
        F.zip_with(lut_col, code_col, lambda row, c: row[c]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_query(q: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """The broadcast query row: ``qv`` plus its ADC table ``_lut``."""
    return q.select("qv", _pq_lut(codebooks, F.col("qv")).alias("_lut"))


def pq_topk(
    e: DataFrame,
    q: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 40,
) -> DataFrame:
    """IVF-PQ search with ADC + exact re-rank: approximate every corpus
    vector's dot product against the query from its PQ codes
    (``Σ_j  q_sub_j · C[j][code_j]``), keep the ``rerank`` best candidates
    (TakeOrdered — never a global sort), then exact-cosine re-rank to the
    final top-``k``.

    Everything is column expressions over the broadcast single-row query:
    the ADC pass reads only the code column (8 bytes/vector — the 64×
    bandwidth win that makes PQ the 100 TB serving layout), and precision
    comes back in the re-rank, which touches only ``rerank`` full vectors.
    """
    enc = e.withColumn("_codes", pq_encode_col(F.col("v"), codebooks))
    cand = (
        enc.crossJoin(F.broadcast(_pq_query(q, codebooks)))
        .select(
            "vec_id",
            "v",
            "qv",
            _pq_adc(F.col("_lut"), F.col("_codes")).alias("adc_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(rerank)
    )
    return (
        cand.select(
            "vec_id",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_cell_stats(e: DataFrame) -> DataFrame:
    """Per-cell serving-state rows: (label, n_vectors, centroid) with a
    DETERMINISTIC, plan-independent centroid.

    ``F.avg`` over doubles is not reproducible across runs (float addition
    is non-associative and shuffle arrival order varies), which would sink
    the incremental-equals-full-rebuild contract the maintenance path pins.
    Instead each coordinate sum is computed in ``decimal(38,18)`` — decimal
    addition IS associative and exact, so the sum (and the mean derived
    from it) is bit-identical whatever the partitioning or aggregation
    order, while staying entirely JVM-side (no UDF, map-side partial
    aggregation on the (label, dim) key whose cardinality is
    #cells × dim — corpus-size-independent, same scale shape as
    :func:`label_centroids`). 18 fractional digits exceed a double's
    precision and 20 integral digits cover any realistic cell sum; under
    ANSI a genuine overflow raises rather than corrupting the state."""
    flat = e.select("label", F.posexplode("v").alias("dim", "x"))
    cent = flat.groupBy("label", "dim").agg(
        (F.sum(F.col("x").cast("decimal(38,18)")) / F.count("*"))
        .cast("double")
        .alias("m"),
        F.count("*").alias("n"),
    )
    return cent.groupBy("label").agg(
        F.max("n").alias("n_vectors"),  # n is identical across dims
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("centroid"),
    )


def ivf_centroids_save(
    e: DataFrame, path: str, keep_generations: int | None = None
) -> None:
    """BUILD-ONCE half of the IVF serving shape: persist the per-cell
    centroid table (one row per cell: label, n_vectors, centroid) that
    :func:`ivf_index_topk` probes — the lake-native analog of the
    reference's persistent pgvector index (`db/models/embedding.py:15-17`)
    at the IVF tier, mirroring `operators/hnsw.py::hnsw_index_save` for
    the graph tier. At 100 TB the corpus parquet is partitioned by the
    cell column, so this table is the only state a query needs before
    partition-pruned candidate reads. Written via the atomic sibling-swap
    (never an in-place overwrite of live state); ``keep_generations``
    publishes as a numbered generation instead (marker-commit, no crash
    window, pinned reads via ``ivf_index_topk(generation=)`` — same
    contract as `operators/maintenance.py::hash_layout_save`)."""
    from cinegraph_spark.operators.serving_io import publish_dir

    # refuse NULL cell labels up front (r12 review): groupBy would happily
    # persist a NULL cell, but the update path's delta guard (rightly)
    # refuses NULL keys and equi-joins can't address a NULL cell — the
    # stale centroid could then never be recomputed or dropped. A corpus
    # with unlabeled rows must assign a sentinel cell before serving.
    n_null = e.filter(F.col("label").isNull()).count()
    if n_null:
        raise ValueError(
            f"ivf_centroids_save: {n_null} corpus row(s) have a NULL "
            "label; a NULL cell cannot be addressed by the update "
            "path's equi-joins, so its centroid would be unmaintainable "
            "— assign a sentinel cell value instead"
        )
    with publish_dir(e.sparkSession, path, keep_generations) as tmp:
        ivf_cell_stats(e).write.parquet(tmp)


def ivf_corpus_layout(e: DataFrame, corpus_path: str) -> None:
    """Persist the corpus physically partitioned by its cell column — the
    layout `ivf_cosine_topk`'s docstring promises at 100 TB (probe =
    partition pruning) and the one that makes :func:`ivf_centroids_update`
    scan-proportional to the change: with ``e`` passed as this layout's
    PATH, the touched-cell recompute reads only the named cell
    directories via a planning-time ``PartitionFilters`` prune. Thin
    wrapper over `operators/maintenance.py::column_layout_save` (which
    refuses NULL cells — same rule as ivf_centroids_save)."""
    from cinegraph_spark.operators.maintenance import column_layout_save

    column_layout_save(e, corpus_path, "label")


def ivf_centroids_update(
    e: DataFrame | str,
    delta: DataFrame,
    path: str,
) -> dict:
    """INCREMENTAL maintenance of an :func:`ivf_centroids_save` table:
    recompute only the cells the delta touches (same contract as
    `operators/hnsw.py::hnsw_index_update` — recompute COST is
    proportional to the change in both modes; the SCAN is proportional
    to the change only in layout mode, see below).

    ``e`` is the FULL post-change corpus (source of truth) — either a
    DataFrame, or the PATH of an :func:`ivf_corpus_layout` clustered
    layout, in which case the touched-cell recompute reads ONLY those
    cells' partition directories (``PartitionFilters`` prune, pinned in
    tests/test_plans.py) instead of scanning the corpus to find them.
    ``delta`` carries one ``label`` value per added, updated, or deleted
    vector — the label a DELETED vector *had*, since its membership can
    no longer be derived from ``e`` (unlike the HNSW table, whose
    ``pmod(hash(vec_id), n)`` partition function derives membership from
    the key alone). Touched cells recompute from ``e`` with the same
    deterministic decimal aggregation, so the updated table is
    BIT-IDENTICAL to a fresh full save (layout mode included — pinned in
    tests/test_ivf_serving.py); untouched rows carry over; a cell
    emptied by deletes drops out; an empty table degrades to a fresh
    full save. Delta labels that are NULL or fail the cast to the corpus
    label type are refused with a named error (``try_cast`` keeps it a
    ValueError under ANSI) — a NULL cell key would silently skip the
    genuinely intended cell and leave a stale centroid. Returns
    ``{"rebuilt_cells": [...], "full_rebuild": bool}``."""
    from cinegraph_spark.operators.maintenance import (
        layout_meta,
        layout_pruned_read,
        layout_read,
    )
    from cinegraph_spark.operators.serving_io import atomic_swap_write

    corpus_path = e if isinstance(e, str) else None
    spark = delta.sparkSession if corpus_path is not None else e.sparkSession
    if corpus_path is not None:
        lmeta = layout_meta(spark, corpus_path)
        if lmeta["kind"] != "column" or lmeta["part_col"] != "label":
            raise ValueError(
                f"ivf_centroids_update: layout at {corpus_path} is not "
                "partitioned by the cell column 'label'; rebuild it "
                "with ivf_corpus_layout"
            )
        cell_ddl = lmeta["part_ddl"]
    else:
        cell_ddl = e.schema["label"].dataType.simpleString()
    from cinegraph_spark.operators.serving_io import open_state

    # a versioned root resolves to its CURRENT generation: in-place
    # maintenance mutates the live generation; retained older ones stay
    # immutable snapshots of their own saves (same contract as
    # hash_layout_upsert)
    path = open_state(spark, path)
    old = spark.read.parquet(path)
    if old.isEmpty():
        # vacuous table (e.g. built over a zero-row corpus): degrade to a
        # fresh full save — same rule as hnsw_index_update
        e_df = (
            layout_read(spark, corpus_path)
            if corpus_path is not None
            else e
        )
        ivf_centroids_save(e_df, path)
        return {"rebuilt_cells": [], "full_rebuild": True}
    if "label" not in old.columns:
        raise ValueError(
            f"ivf_centroids_update: stored table at {path} has no "
            "'label' column; it was saved under a different cell "
            "column — rebuild with ivf_centroids_save"
        )
    stored_ddl = old.schema["label"].dataType.simpleString()
    if cell_ddl != stored_ddl:
        # same drift rule as the hash tiers: unionByName would silently
        # coerce the stored label column and the serving table's declared
        # cell type would change under its consumers
        raise ValueError(
            f"ivf_centroids_update: corpus cell type {cell_ddl} differs "
            f"from the stored table's label type {stored_ddl}; cast "
            "the corpus cell back or rebuild with ivf_centroids_save"
        )
    cast_cell = F.col("label").try_cast(cell_ddl)
    # one aggregation job covers the NULL-cell refusal AND the touched-
    # cell set (r18 — same job merge as hnsw_index_update: the pre-merge
    # shape paid a filter-count job, an eager localCheckpoint, and a
    # collect over the same small delta). collect_set is bounded by the
    # corpus cell count.
    stats = delta.agg(
        F.count_if(cast_cell.isNull()).alias("bad"),
        F.collect_set(cast_cell).alias("cells"),
    ).first()
    if int(stats["bad"]):
        raise ValueError(
            f"ivf_centroids_update: {int(stats['bad'])} delta label "
            f"value(s) are NULL or do not cast to the corpus cell type "
            f"{cell_ddl}; a NULL cell key would silently "
            "leave the intended cell's centroid stale — fix the delta input"
        )
    changed = sorted(stats["cells"])
    if not changed:
        return {"rebuilt_cells": [], "full_rebuild": False}
    if corpus_path is not None:
        src = layout_pruned_read(spark, corpus_path, changed)
    else:
        src = e.filter(cast_cell.isin(changed))
    rebuilt = ivf_cell_stats(src)
    # keep NULL-label rows explicitly: ivf_centroids_save refuses NULL
    # labels today, but `~isin` alone would silently DELETE them from a
    # hand-written or legacy centroid table, where the pre-r18
    # left_anti join preserved them (r18 ADVICE)
    kept = old.filter(
        ~F.col("label").isin(changed) | F.col("label").isNull()
    )
    atomic_swap_write(kept.unionByName(rebuilt), path)
    return {"rebuilt_cells": changed, "full_rebuild": False}


def ivf_index_topk(
    e: DataFrame | str,
    q: DataFrame,
    path: str,
    nprobe: int = 2,
    k: int = 10,
    cell_filter=None,
    generation: int | None = None,
) -> DataFrame:
    """QUERY-MANY half: IVF ANN against a PERSISTED
    :func:`ivf_centroids_save` table — probe the ``nprobe`` cells whose
    stored centroid is most cosine-similar to the query, then exact
    cosine top-k within them (same semantics as the rebuild-per-query
    :func:`ivf_cosine_topk`, minus the centroid pass: the table is ≤
    #cells rows, always broadcast).

    ``cell_filter`` (optional Column over the centroid table) is the
    FILTERED-search form: the predicate restricts the cells the probe
    may rank — PRE-filter semantics, so the ``nprobe`` probed cells are
    all admissible and the search returns k matching vectors whenever
    they exist (post-filtering a fixed probe set silently under-returns
    when the nearest cells are inadmissible). In layout mode the filter
    therefore composes with the partition pruning for free: only
    admissible∩probed cell directories are ever opened.

    ``e`` is the corpus — a DataFrame, or the PATH of an
    :func:`ivf_corpus_layout` cell-partitioned layout. The layout form
    DELIVERS the claim the IVF docstrings have always made: the
    candidate read is PARTITION PRUNING — the ``nprobe`` probed labels
    are collected (≤ nprobe rows off a ≤ #cells table, the same
    documented small-side step as the ANN query-batch collects) and the
    corpus scan prunes to exactly those cell directories at planning
    time (``PartitionFilters``, pinned in tests/test_ivf_serving.py
    with a poisoned-unprobed-cell proof), so a query reads
    nprobe/#cells of the data instead of filtering a full scan. Spark's
    dynamic partition pruning was measured NOT to fire for this
    broadcast-limit shape, hence the explicit collect. The DataFrame
    form keeps the declarative broadcast-join filter (full scan — right
    for a corpus that is not laid out).

    Erasure contract (r16): the served candidates COME FROM the corpus
    cells, so a key deleted there (the column-layout batch path —
    ``column_layout_upsert(deletes=)``; column layouts refuse deletion
    vectors because the cell is not derivable from the key) is excluded
    the moment the cell delete lands, even while the centroid table is
    still stale (a stale centroid only mis-weights the probe until
    :func:`ivf_centroids_update` runs). Pinned cross-tier in
    tests/test_deletion_vectors.py."""
    from cinegraph_spark.operators.maintenance import (
        layout_meta,
        layout_pruned_read,
    )
    from cinegraph_spark.operators.serving_io import open_state

    corpus_path = e if isinstance(e, str) else None
    spark = q.sparkSession if corpus_path is not None else e.sparkSession
    cents = spark.read.parquet(open_state(spark, path, generation)).select(
        "label", F.col("centroid").alias("cv")
    )
    if cell_filter is not None:
        cents = cents.filter(cell_filter)
    if corpus_path is None:
        return _probe_then_exact_topk(e, q, cents, nprobe, k)
    lmeta = layout_meta(spark, corpus_path)
    if lmeta["kind"] != "column" or lmeta["part_col"] != "label":
        raise ValueError(
            f"ivf_index_topk: layout at {corpus_path} is not "
            "partitioned by the cell column 'label'; rebuild it with "
            "ivf_corpus_layout"
        )
    probed = [r["label"] for r in _probe_ranking(cents, q, nprobe).collect()]
    cand = layout_pruned_read(spark, corpus_path, probed)
    return _exact_topk_within(cand, q, k)


def ivf_stream_maintenance_sink(
    base: DataFrame,
    land_dir: str,
    path: str,
    validate_cells: bool = False,
):
    """``foreachBatch`` sink for STREAMING IVF maintenance — the IVF-tier
    mirror of `operators/hnsw.py::hnsw_stream_maintenance_sink`: merge the
    micro-batch into the cell-partitioned corpus layout at ``land_dir``
    (touched cell DIRECTORIES only, via
    `operators/maintenance.py::column_layout_upsert`), then recompute the
    persisted centroid table at ``path`` for exactly the touched cells
    (:func:`ivf_centroids_update` in its pruned-read layout mode). Per-batch
    cost ∝ the cell directories the batch's rows name — landing, recompute
    scan, and recompute work alike; never the corpus, and never the
    cumulative arrival history (the layout IS the landing zone, permanently
    compacted by the keyed merge).

    Exactly-once contract: ``foreachBatch`` replays IN ORDER from the
    engine's own checkpoint (a batch re-runs only when its commit never
    landed — the next batch has not executed yet), and re-applying a batch
    over its own partial effects is idempotent: the layout merge anti-joins
    the batch's keys before re-adding them, and the centroid recompute is a
    pure function of the merged layout, so the touched state rewrites to
    the same bytes. The maintained table converges to bit-identity with a
    fresh :func:`ivf_centroids_save` over the final corpus (decimal cell
    sums — pinned in tests/test_ivf_serving.py).

    Arrival contract — the cell-layout delta rule
    (`column_layout_upsert`'s documented move semantics, inherited): an
    arrival is an INSERT or a SAME-CELL re-embed, carrying
    ``(key, label, v)``. A vector MOVED between cells or DELETED cannot be
    expressed as a stream arrival, because its OLD cell directory is not
    derivable from the row (unlike the HNSW tier, whose
    ``pmod(hash(key), n)`` partition function makes every key
    self-addressing and thus supports latest-wins replay) — route moves
    and deletes through the batch path (`column_layout_upsert` with
    ``deletes=`` + :func:`ivf_centroids_update`).

    ``validate_cells=True`` upgrades that contract from documentation to
    a per-batch REFUSAL: before anything lands, the batch's keys are
    checked against the stored layout and an arrival whose key already
    lives in a DIFFERENT cell raises (nothing is landed, nothing
    recomputed). The check is information-theoretically a corpus
    lookup — the old cell is not derivable from the row, so it costs one
    column-pruned map-only scan of the layout's (key, cell) columns per
    batch (broadcast-joined against the small batch; no shuffle). Leave
    it off to keep the strict scan-∝-touched-directories contract when
    the upstream already guarantees insert/same-cell arrivals; turn it
    on when it does not — a violated contract otherwise leaves a stale
    duplicate key in the old cell that no touched-directory scheme can
    detect (r15 review).

    Drain it with `operators/serving_io.py::serving_stream_update`."""
    from cinegraph_spark.operators.maintenance import (
        column_layout_upsert,
        layout_read,
    )

    spark = base.sparkSession

    def _ensure_layout() -> None:
        # the shared probe heals a crashed seed swap, refuses non-layout
        # content (consumed-arrival hazard), and reports a fresh path
        from cinegraph_spark.operators.serving_io import (
            recover_landing_layout,
        )

        if not recover_landing_layout(
            spark, land_dir, "ivf_stream_maintenance_sink"
        ):
            ivf_corpus_layout(base, land_dir)

    def _check_cells(batch_df: DataFrame) -> None:
        # cross-cell re-embed guard (opt-in): one column-pruned scan of
        # the stored (key, cell) pairs, probed by the broadcast batch —
        # runs BEFORE the landing so a violation leaves the layout and
        # the centroid table untouched
        stored = layout_read(spark, land_dir).select(
            "vec_id", F.col("label").alias("_stored_cell")
        )
        probe = batch_df.select("vec_id", F.col("label").alias("_new_cell"))
        moved = (
            stored.join(F.broadcast(probe), "vec_id")
            .filter(F.col("_stored_cell") != F.col("_new_cell"))
            .count()
        )
        if moved:
            raise ValueError(
                f"ivf_stream_maintenance_sink: {moved} arrival(s) move "
                "a stored key to a different cell — a stream arrival "
                "cannot address its old cell's directory, so landing it "
                "would leave a stale duplicate there; route cell moves "
                "through the batch path (column_layout_upsert with "
                "deletes= + ivf_centroids_update)"
            )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # duplicate keys within one batch (no defined winner) are refused
        # by column_layout_upsert's per-call guard; NULL cells likewise
        _ensure_layout()
        if validate_cells:
            _check_cells(batch_df)
        column_layout_upsert(spark, land_dir, batch_df, key="vec_id")
        ivf_centroids_update(land_dir, batch_df.select("label"), path)

    return apply


def pq_codes_save(
    e: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    n_partitions: int | None = None,
    keep_generations: int | None = None,
) -> None:
    """BUILD-ONCE half of the PQ serving shape: persist the trained
    codebooks plus the encoded corpus as ONE versioned state directory —
    ``{path}/books`` (m tiny rows; also carries the table identity:
    n_partitions and the codes schema) and ``{path}/codes`` (vec_id,
    code array<int>, ~4m bytes/vector instead of 8·dim — the scan-
    bandwidth compression that makes PQ the 100 TB serving layout),
    written ``partitionBy(part_id)`` so maintenance can replace touched
    partition DIRECTORIES instead of rewriting the corpus (without
    ``n_partitions``, one partition per ``PQ_ROWS_PER_PARTITION`` rows).
    Books and
    codes flip together under one atomic sibling-swap — a crash can never
    leave codes encoded against missing or mismatched codebooks.

    Unlike the HNSW blob table (n_partitions rows, full-swap cheap), the
    codes table is corpus-sized, so its maintenance unit must be the
    partition directory — see :func:`pq_codes_update`."""
    import json

    from cinegraph_spark.operators.maintenance import hash_part_expr
    from cinegraph_spark.operators.serving_io import publish_dir

    spark = e.sparkSession
    # one agg job covers both the adaptive partition count and the NULL-key
    # refusal (r12 ADVICE): hash(NULL) lands codes in a real directory, but
    # pq_codes_update refuses NULL delta keys, so NULL-keyed codes would be
    # permanently unmaintainable — mirror ivf_centroids_save's guard
    stats = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("vec_id").isNull()).alias("n_null"),
    ).first()
    if int(stats["n_null"]):
        raise ValueError(
            f"pq_codes_save: {int(stats['n_null'])} corpus row(s) have a "
            "NULL vec_id; hash(NULL) would store their codes in a real "
            "partition directory that pq_codes_update (which refuses NULL "
            "delta keys) could never address again — fix the corpus keys"
        )
    if n_partitions is None:
        n_rows = int(stats["n"])
        n_partitions = max(
            1, -(-n_rows // PQ_ROWS_PER_PARTITION)
        )
    key_ddl = e.schema["vec_id"].dataType.simpleString()
    codes_schema = f"vec_id {key_ddl}, code array<int>, part_id int"
    from cinegraph_spark.session import local_df

    books = local_df(
        spark,
        [
            (j, book, int(n_partitions), key_ddl, codes_schema)
            for j, book in enumerate(codebooks)
        ],
        _PQ_BOOKS_DDL,
    )
    codes = e.select(
        "vec_id",
        pq_encode_col(F.col("v"), codebooks).alias("code"),
        hash_part_expr(n_partitions, "vec_id").alias("part_id"),
    )
    with publish_dir(spark, path, keep_generations) as tmp:
        books.coalesce(1).write.parquet(tmp + "/books")
        codes.write.partitionBy("part_id").parquet(tmp + "/codes")


def _pq_read_state(spark, path: str, generation: int | None = None):
    """Load the PQ state identity. Returns a 5-tuple whose LAST element
    is the resolved state directory — for a versioned root (saved with
    ``keep_generations``) that is the pinned or newest committed
    generation's own directory, and every caller must address
    ``/books`` / ``/codes`` under IT, not under the root."""
    from cinegraph_spark.operators.serving_io import open_state

    path = open_state(spark, path, generation)
    books_rows = (
        spark.read.schema(_PQ_BOOKS_DDL).parquet(path + "/books").collect()
    )
    if not books_rows:
        raise ValueError(
            f"PQ serving state at {path} has an empty books table — the "
            "codes have no recoverable codebooks; rebuild with "
            "pq_codes_save (codebooks cannot be silently retrained: new "
            "books change every stored code's meaning)"
        )
    # the declared schema reads a column the files lack as NULL, and
    # pq_codes_save never writes a NULL: refuse by name instead
    missing = [
        c for c in books_rows[0].__fields__
        if any(r[c] is None for r in books_rows)
    ]
    if missing:
        raise ValueError(
            f"PQ serving state at {path}: books table column(s) "
            f"{', '.join(missing)} missing or NULL — the state was not "
            "written by pq_codes_save; rebuild it"
        )
    books_rows.sort(key=lambda r: r["j"])
    codebooks = [
        [[float(x) for x in c] for c in r["codebook"]] for r in books_rows
    ]
    head = books_rows[0]
    return (
        codebooks,
        int(head["n_partitions"]),
        head["key_ddl"],
        head["codes_schema"],
        path,
    )


def pq_corpus_layout(e: DataFrame, corpus_path: str, path: str) -> None:
    """Persist the vector corpus physically partitioned by the PQ state's
    OWN partition function (read back from the books table at ``path``)
    — the layout that makes :func:`pq_codes_update` scan-proportional to
    the change: with ``e`` passed as this layout's PATH, the re-encode
    reads only the delta's directories as a planning-time
    ``PartitionFilters`` prune. Same shape as
    `operators/hnsw.py::hnsw_corpus_layout` at the PQ tier; maintain the
    layout itself with `operators/maintenance.py::hash_layout_upsert`.
    Refuses a corpus whose vec_id type drifted from the stored
    key_ddl."""
    from cinegraph_spark.operators.maintenance import (
        check_hash_corpus,
        hash_layout_save,
    )

    spark = e.sparkSession
    _, n_partitions, key_ddl, _, _ = _pq_read_state(spark, path)
    check_hash_corpus(spark, e, n_partitions, key_ddl, "pq_corpus_layout")
    hash_layout_save(e, corpus_path, "vec_id", n_partitions)


def pq_codes_update(e: DataFrame | str, delta: DataFrame, path: str) -> dict:
    """INCREMENTAL maintenance of a :func:`pq_codes_save` state: re-encode
    only the partition directories the delta's keys hash into.

    Same delta contract as `operators/hnsw.py::hnsw_index_update` (vec_id
    per added/updated/deleted vector; membership derives from the key, so
    deletes need no label; NULL/uncastable keys refused via ``try_cast`` +
    named error), including the corpus-as-layout-path mode: pass ``e`` as
    the PATH of a :func:`pq_corpus_layout` layout and the re-encode reads
    ONLY the touched directories (``PartitionFilters`` prune — scan ∝
    change; a DataFrame corpus still pays a full scan to compute each
    row's partition id before the semi-join discards it). The encode is
    deterministic (nearest codebook entry, first-index ties), so the
    updated codes are BIT-IDENTICAL to a fresh full encode of ``e`` —
    pinned in tests/test_pq_serving.py for both modes.

    Scale shape — the piece that differs from the blob/centroid tables:
    the codes table is CORPUS-sized, so carrying untouched rows through a
    full-table swap would make every update a full rewrite. Instead the
    rebuilt partitions land via dynamic partition overwrite (only the
    directories present in the written frame are replaced; untouched
    directories' files are not opened, copied, or rewritten — pinned by
    an mtime check in tests), and partitions emptied by deletes have
    their directories dropped explicitly. Codebooks are immutable under
    update by construction (retraining would silently re-interpret every
    untouched code). The per-directory replacement is idempotent under
    replay; its crash window is one partition directory, which re-running
    the same update restores. The identity check, the touched-partition
    aggregation, the source read and the publish are the kernel this
    tier shares with `operators/hnsw.py::hnsw_index_update`:
    `operators/maintenance.py::hash_tier_update`."""
    from cinegraph_spark.operators.maintenance import hash_tier_update

    spark = delta.sparkSession
    # versioned roots resolve to the CURRENT generation (in-place
    # maintenance of the live generation, like hash_layout_upsert)
    codebooks, n_partitions, key_ddl, _, path = _pq_read_state(spark, path)

    def encode(src: DataFrame, _changed: list) -> DataFrame:
        return src.select(
            "vec_id",
            pq_encode_col(F.col("v"), codebooks).alias("code"),
            "part_id",
        )

    changed, dropped = hash_tier_update(
        e, delta, path + "/codes", n_partitions, key_ddl, encode,
        "pq_codes_update",
    )
    return {"rebuilt_partitions": changed, "dropped_partitions": dropped}


def pq_index_topk(
    e: DataFrame | str,
    q: DataFrame,
    path: str,
    k: int = 10,
    rerank: int = 40,
    admissible: DataFrame | None = None,
    generation: int | None = None,
) -> DataFrame:
    """QUERY-MANY half: PQ ANN against a PERSISTED :func:`pq_codes_save`
    state — the serving read path the codes layout exists for: the ADC
    pass scans ONLY the codes table (~4m bytes/vector; the full vectors
    are never opened), keeps the ``rerank`` best candidates
    (TakeOrdered), and re-ranks just those full vectors to top-``k``.

    ``e`` is the corpus — a DataFrame, or the PATH of a
    :func:`pq_corpus_layout` hash layout. The layout form completes the
    read-side scan story: the candidate (vec_id, part_id) pairs are
    collected (≤ ``rerank`` rows — the codes scan already carries
    part_id as its partition column, so no extra hash job), and the
    re-rank reads ONLY the candidates' partition directories
    (``PartitionFilters``) with the vec_id filter pushed into those
    files' row groups — the full corpus is never scanned to fetch ~k
    vectors. The DataFrame form keeps the declarative broadcast-join
    fetch (full scan filtered by join — right for a corpus that is not
    laid out). Same semantics either way, pinned equal to the
    encode-per-query :func:`pq_topk` in tests/test_pq_serving.py; same
    rows-only correctness gate as the PQ family (engine-specific
    codebook numerics), with recall pinned against brute force.

    ``admissible`` (optional, DataFrame of ``vec_id``) is the FILTERED
    form — the PQ tier of the engine's pre-filter contract (exact /
    IVF / HNSW tiers: `queries/vectors.py::vec_ann_filtered_topk`,
    :func:`ivf_index_topk`, `operators/hnsw.py::hnsw_index_filtered_knn`):
    the admissibility semi-join fuses into the codes scan BEFORE the ADC
    cut, so every kept candidate is admissible and the query returns k
    matching vectors whenever they exist (post-filtering the unfiltered
    ADC top-``rerank`` silently under-returns). The admissible side
    broadcasts (one id per admissible vector — small in the
    low-selectivity regime filtered search serves); the codes scan never
    shuffles. Exactness regimes: with ``rerank >= |admissible|`` the ADC
    cut keeps every admissible candidate and the exact re-rank makes the
    result EXACT brute force over the admissible set — the regime a
    selective filter puts you in; below that the standard PQ recall
    contract applies, now over the admissible subset.

    Erasure contract (r16): in layout mode the final re-rank fetch
    reads the DV-masked corpus layout, so a ``layout_dv_delete``-erased
    key can NEVER be served — immediately, even before any codes
    maintenance. Stale codes still spend ADC candidate slots on the
    erased key until :func:`pq_codes_update` re-encodes its partition
    (a recall, not correctness, cost). Pinned cross-tier in
    tests/test_deletion_vectors.py."""
    from cinegraph_spark.operators.maintenance import (
        check_hash_corpus,
        layout_pruned_read,
    )

    corpus_path = e if isinstance(e, str) else None
    spark = q.sparkSession if corpus_path is not None else e.sparkSession
    codebooks, n_partitions, key_ddl, codes_schema, path = _pq_read_state(
        spark, path, generation
    )
    codes = spark.read.schema(codes_schema).parquet(path + "/codes")
    if admissible is not None:
        adm_ddl = admissible.schema["vec_id"].dataType.simpleString()
        if adm_ddl != key_ddl:
            raise ValueError(
                f"pq_index_topk: admissible vec_id type {adm_ddl} differs "
                f"from the state's stored key type {key_ddl}; cast the "
                "admissible keys back"
            )
        codes = codes.join(
            F.broadcast(admissible.select("vec_id")), "vec_id", "left_semi"
        )
    # the candidates carry qv, so the DataFrame-mode re-rank needs no
    # second broadcast of the query (a separate plan: one more job)
    cand = (
        codes.crossJoin(F.broadcast(_pq_query(q, codebooks)))
        .select(
            "vec_id",
            "part_id",
            "qv",
            _pq_adc(F.col("_lut"), F.col("code")).alias("adc_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(rerank)
    )
    if corpus_path is None:
        fetched = e.join(F.broadcast(cand.select("vec_id", "qv")), "vec_id")
    else:
        # the candidates' part_ids must address this layout's directories
        check_hash_corpus(
            spark, corpus_path, n_partitions, key_ddl, "pq_index_topk"
        )
        rows = cand.select("vec_id", "part_id").collect()
        ids = [r["vec_id"] for r in rows]
        parts = sorted({int(r["part_id"]) for r in rows})
        fetched = (
            layout_pruned_read(spark, corpus_path, parts)
            .filter(F.col("vec_id").isin(ids) if ids else F.lit(False))
            .crossJoin(F.broadcast(q))
        )
    return (
        fetched.select(
            "vec_id",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def pq_stream_maintenance_sink(base: DataFrame, land_dir: str, path: str):
    """``foreachBatch`` sink for STREAMING PQ maintenance — the PQ-tier
    mirror of `operators/hnsw.py::hnsw_stream_maintenance_sink`: merge the
    micro-batch into the hash-partitioned corpus layout at ``land_dir``
    (latest-wins `hash_layout_upsert` under the state's OWN partition
    function), then re-encode exactly the partition directories the
    batch's keys hash into (:func:`pq_codes_update` in pruned-read layout
    mode, frozen stored codebooks). Per-batch cost ∝ the touched
    directories — landing, re-encode scan, and re-encode work alike;
    never the corpus, never the cumulative arrival history.

    Because the PQ partition function is a pure function of the key
    (``pmod(hash(vec_id), n)`` — unlike the IVF cell layout), the full
    HNSW replay contract holds: at-least-once ``foreachBatch`` replay,
    even OUT OF ORDER after later batches landed, re-applies
    deterministically — the latest-wins merge keeps the higher version
    and the re-encode reads the merged corpus, never the delta rows, so
    touched partitions rewrite to the same bytes. The maintained codes
    converge to bit-identity with a fresh :func:`pq_codes_save` of the
    final corpus (deterministic encode — pinned in
    tests/test_pq_serving.py).

    Arrivals are UPSERTS (a landed key shadows the ``base`` row; for a
    key delivered in several batches the highest batch id wins; two rows
    for one key inside a SINGLE batch are refused). Deletes cannot be
    expressed as an arrival — route them through the batch
    :func:`pq_codes_update` path. Codebooks stay frozen throughout:
    retraining inside a drain would silently re-interpret every stored
    code (`_pq_read_state`'s refusal documents the contract).

    Drain it with `operators/serving_io.py::serving_stream_update`."""
    from cinegraph_spark.operators.maintenance import (
        LAYOUT_VERSION_COL,
        hash_layout_upsert,
    )
    from cinegraph_spark.operators.serving_io import recover_landing_layout

    spark = base.sparkSession

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # the shared probe heals a crashed seed swap, refuses non-layout
        # content (consumed-arrival hazard), and reports a fresh path,
        # which pq_corpus_layout seeds with base rows at version -1;
        # duplicate keys within one batch are refused by
        # hash_layout_upsert's per-call guard
        if not recover_landing_layout(
            spark, land_dir, "pq_stream_maintenance_sink"
        ):
            pq_corpus_layout(
                base.withColumn(LAYOUT_VERSION_COL, F.lit(-1).cast("long")),
                land_dir,
                path,
            )
        hash_layout_upsert(spark, land_dir, batch_df, version=batch_id)
        pq_codes_update(land_dir, batch_df.select("vec_id"), path)

    return apply
