"""Vector similarity queries (V1-V3, SURVEY §2.8) over ``embeddings``.

The reference declares a pgvector HNSW cosine index
(``db/models/embedding.py:15-17``); the Spark-native answers are
(a) exact brute-force top-k — a broadcast map-only scan + TakeOrdered, and
(b) partition-pruned variants (label as the IVF cell) in
``operators/similarity.py``. Everything here casts float32 arrays to double
before arithmetic so Spark and DuckDB agree bit-for-bit pre-rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from cinegraph_spark.functions import vector as V
from cinegraph_spark.operators.similarity import ivf_cosine_topk, lsh_cosine_topk
from cinegraph_spark.queries import register
from cinegraph_spark.queries.util import T, r4

_DV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _emb(spark, sf_dir):
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


@register(
    "vec_norm_stats",
    f"""
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(len(embedding) AS BIGINT)                         AS dim,
           round(sqrt(list_sum(list_transform({_DV}, x -> x * x))), 4) AS l2_norm,
           round(list_max({_DV}), 4)                              AS max_elem,
           round(list_min({_DV}), 4)                              AS min_elem
    FROM embeddings
    """,
    tags=("vector", "scalar"),
)
def vec_norm_stats(spark, sf_dir):
    """Array math on the embedding column — JVM higher-order functions, no
    Python, map-only."""
    e = _emb(spark, sf_dir)
    return e.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.size("v").cast("long").alias("dim"),
        r4(V.norm(F.col("v"))).alias("l2_norm"),
        r4(F.array_max("v")).alias("max_elem"),
        r4(F.array_min("v")).alias("min_elem"),
    )


@register(
    "vec_cosine_topk_to_query",
    f"""
    WITH q AS (SELECT {_DV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             round(list_dot_product({_DV}, qv)
                   / (sqrt(list_sum(list_transform({_DV}, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "topk", "similarity"),
)
def vec_cosine_topk_to_query(spark, sf_dir):
    """V1 exact path — brute-force cosine top-k against one query vector.
    The query vector is a 1-row broadcast; the scan is map-only and the
    top-10 is TakeOrdered (no global sort). This is the correctness baseline
    the ANN operators are measured against."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


#: Exact cosine top-3 neighbours (self excluded) of every vector with
#: vec_id < 10, ranked (cos_sim DESC, nid): the contract of the brute-force
#: k-NN query and of every HNSW tier that must hash-match it.
_KNN_TOP3_ORACLE = f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT qid, vec_id AS nid,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM e, q WHERE vec_id <> qid
    )
    SELECT qid, nid, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, nid) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """


@register(
    "vec_knn_per_query",
    _KNN_TOP3_ORACLE,
    tags=("vector", "knn", "similarity"),
)
def vec_knn_per_query(spark, sf_dir):
    """Batched k-NN: 10 query vectors × corpus, top-3 each via windowed
    row_number (the per-group top-k idiom, C6's pattern)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("qid", "nid", "cos_sim", "rnk")
    )


@register(
    "vec_euclidean_to_label_centroid",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    flat AS (
      SELECT vec_id, label,
             unnest(v) AS x,
             generate_subscripts(v, 1) AS dim
      FROM e
    ),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim)
    SELECT f.vec_id, CAST(f.label AS BIGINT) AS label,
           round(sqrt(sum((f.x - cent.c) * (f.x - cent.c))), 4) AS dist
    FROM flat f JOIN cent ON f.label = cent.label AND f.dim = cent.dim
    GROUP BY f.vec_id, f.label
    """,
    tags=("vector", "centroid"),
)
def vec_euclidean_to_label_centroid(spark, sf_dir):
    """V2/A6 — distance of each vector to its group centroid
    (``graph_creator.py:345-351``): posexplode to (vec, dim, x), centroid by
    (label, dim), rejoin, aggregate the squared diffs. All shuffles are on
    low-cardinality keys; no vector ever hits the driver."""
    e = _emb(spark, sf_dir)
    flat = e.select(
        "vec_id", "label", F.posexplode("v").alias("dim", "x")
    )
    cent = flat.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    return (
        flat.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))),
                4,
            ).alias("dist")
        )
        .select("vec_id", F.col("label").cast("long").alias("label"), "dist")
    )


@register(
    "vec_representative_topk_per_label",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    flat AS (SELECT vec_id, label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM e),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    dists AS (
      SELECT f.vec_id, f.label,
             round(sqrt(sum((f.x - cent.c) * (f.x - cent.c))), 6) AS dist
      FROM flat f JOIN cent ON f.label = cent.label AND f.dim = cent.dim
      GROUP BY f.vec_id, f.label
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id, dist, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY dist, vec_id) AS rnk
          FROM dists)
    WHERE rnk <= 15
    """,
    tags=("vector", "topk", "representative"),
)
def vec_representative_topk_per_label(spark, sf_dir):
    """C6 — the 15 members closest to their cluster centroid
    (``graph_creator.py:343-354``), labels standing in for clusters."""
    e = _emb(spark, sf_dir)
    flat = e.select("vec_id", "label", F.posexplode("v").alias("dim", "x"))
    cent = flat.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    dists = (
        flat.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))),
                6,
            ).alias("dist")
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        dists.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 15)
        .select(F.col("label").cast("long").alias("label"), "vec_id", "dist", "rnk")
    )


@register(
    "vec_ann_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    flat AS (SELECT label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM e),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    centv AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
    probe AS (
      SELECT label FROM centv, q
      ORDER BY round(list_dot_product(cv, qv)
               / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))), 9)
               DESC, label
      LIMIT 2
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
    FROM e JOIN probe USING (label), q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "ivf", "similarity"),
)
def vec_ann_ivf_topk(spark, sf_dir):
    """V1 scale path (a): IVF ANN — probe the 2 label cells whose centroid
    is nearest the query, exact cosine top-10 within them. Centroids and the
    probe list are O(#cells) broadcasts; with the corpus partitioned by cell
    the candidate read is partition pruning, so cost scales with
    nprobe/ncells of the corpus (`operators/similarity.py`)."""
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(F.col("v").alias("qv"))
    )
    out = ivf_cosine_topk(e, q, nprobe=2, k=10)
    return out.select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


@register(
    "vec_ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
    planes AS (
      SELECT p, d AS dim, ((p * 31 + d * 17) % 13) - 6 AS h
      FROM range(1, 5) t(p), range(1, 65) u(d)
    ),
    flat AS (SELECT vec_id, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM e),
    dots AS (SELECT vec_id, p, sum(x * h) AS dot
             FROM flat JOIN planes USING (dim) GROUP BY vec_id, p),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dot >= 0 THEN 2 ** (p - 1) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id
    ),
    q AS (SELECT e.v AS qv, b.bucket AS qbucket
          FROM e JOIN buckets b USING (vec_id) WHERE vec_id = 0)
    SELECT e.vec_id, b.bucket,
           round(list_dot_product(v, qv)
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
    FROM e JOIN buckets b USING (vec_id), q
    WHERE b.bucket = q.qbucket AND e.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "lsh", "similarity"),
)
def vec_ann_lsh_topk(spark, sf_dir):
    """V1 scale path (b): sign-LSH ANN — 4-bit random-hyperplane signature
    (deterministic integer lattice so the oracle reproduces it), exact
    cosine top-10 within the query's bucket. At scale the bucket is the
    partition key: candidate lookup reads corpus/2^nbits of the data
    (`operators/similarity.py`)."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    return lsh_cosine_topk(e, query_id=0, nbits=4, k=10)


@register(
    "vec_centroid_shift_labels",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    flat AS (SELECT vec_id, label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM e),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    parent AS (SELECT dim, avg(x) AS p FROM flat GROUP BY dim),
    deltas AS (
      SELECT label, cent.dim, round(cent.c - parent.p, 6) AS delta
      FROM cent JOIN parent ON cent.dim = parent.dim
    ),
    ranked AS (
      SELECT label, dim, delta,
             row_number() OVER (PARTITION BY label ORDER BY delta DESC, dim) AS r_top,
             row_number() OVER (PARTITION BY label ORDER BY delta ASC,  dim) AS r_bot
      FROM deltas
    )
    SELECT CAST(t.label AS BIGINT) AS label,
           CAST(t.dim AS BIGINT)   AS top_dim,
           t.delta                 AS top_delta,
           CAST(b.dim AS BIGINT)   AS bottom_dim,
           b.delta                 AS bottom_delta
    FROM (SELECT * FROM ranked WHERE r_top = 1) t
    JOIN (SELECT * FROM ranked WHERE r_bot = 1) b ON t.label = b.label
    """,
    tags=("vector", "shift-label"),
)
def vec_centroid_shift_labels(spark, sf_dir):
    """C7/V3 — emotional-shift labeling core: per cluster, the dims where
    the child centroid most exceeds / trails the parent centroid
    (``graph_creator.py:118-159``); argmax/argmin via windowed row_number
    with deterministic dim tiebreaks (portable across engines)."""
    e = _emb(spark, sf_dir)
    flat = e.select("vec_id", "label", F.posexplode("v").alias("dim0", "x")).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"), "x"
    )
    cent = flat.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    parent = flat.groupBy("dim").agg(F.avg("x").alias("p"))
    deltas = cent.join(F.broadcast(parent), "dim").select(
        "label", "dim", F.round(F.col("c") - F.col("p"), 6).alias("delta")
    )
    w_top = Window.partitionBy("label").orderBy(F.desc("delta"), F.asc("dim"))
    w_bot = Window.partitionBy("label").orderBy(F.asc("delta"), F.asc("dim"))
    ranked = deltas.select(
        "label",
        "dim",
        "delta",
        F.row_number().over(w_top).alias("r_top"),
        F.row_number().over(w_bot).alias("r_bot"),
    )
    t = ranked.filter(F.col("r_top") == 1).select(
        F.col("label").cast("long").alias("label"),
        F.col("dim").cast("long").alias("top_dim"),
        F.col("delta").alias("top_delta"),
    )
    b = ranked.filter(F.col("r_bot") == 1).select(
        F.col("label").alias("b_label"),
        F.col("dim").cast("long").alias("bottom_dim"),
        F.col("delta").alias("bottom_delta"),
    )
    return t.join(b, t.label == b.b_label).drop("b_label")


@register(
    "vec_int8_quantize_error",
    f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
    x AS (
      SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
      FROM e
    ),
    stats AS (
      SELECT dim, min(val) AS mn, max(val) AS mx FROM x GROUP BY dim
    ),
    q AS (
      SELECT x.dim, x.val,
             round((x.val - s.mn) * 254
                   / (CASE WHEN s.mx = s.mn THEN 1 ELSE s.mx - s.mn END))
             - 127 AS code
      FROM x JOIN stats s ON x.dim = s.dim
    ),
    dq AS (
      SELECT q.dim, q.code,
             abs(((q.code + 127) * (s.mx - s.mn) / 254 + s.mn) - q.val) AS err
      FROM q JOIN stats s ON q.dim = s.dim
    )
    SELECT CAST(dim AS INT) - 1 AS dim,
           CAST(min(code) AS BIGINT) AS code_min,
           CAST(max(code) AS BIGINT) AS code_max,
           round(avg(err) * 1000, 4) AS mean_abs_err_milli,
           round(max(err) * 1000, 4) AS max_abs_err_milli
    FROM dq GROUP BY dim
    """,
    tags=("vector", "quantize", "llm-pipeline"),
)
def vec_int8_quantize_error(spark, sf_dir):
    """Per-dimension int8 scalar quantization of the embedding table (the
    memory-/bandwidth-4x-compression step before ANN serving) plus its
    reconstruction error. Two passes: (1) per-dimension min/max — posexplode
    then hashagg, map-side-combined to O(dim) rows per partition; (2) the
    64-row stats broadcast back against the exploded values, so quantization
    is map-only at any corpus size (this is exactly how a 100 TB encode job
    should look: tiny global stats, one broadcast, one scan). Quantize /
    dequantize arithmetic uses the same expression tree in both engines
    (identical IEEE-754 association), errors are reported in milli-units so
    the 4-decimal rounding keeps ~7 significant digits."""
    e = _emb(spark, sf_dir)
    x = e.select("vec_id", F.posexplode("v").alias("dim", "val"))
    stats = x.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    q = x.join(F.broadcast(stats), "dim")
    # a constant dimension (mx == mn — e.g. zero-padded embedding dims)
    # must not divide by its zero range: under Spark 4's ANSI default even
    # double 0/0 raises DIVIDE_BY_ZERO. Guarded range 1 gives code -127,
    # dequant == mn == val, err 0 — identically in both engines.
    rng = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
        F.col("mx") - F.col("mn")
    )
    code = F.round((F.col("val") - F.col("mn")) * 254 / rng) - 127
    dequant = (code + 127) * (F.col("mx") - F.col("mn")) / 254 + F.col("mn")
    err = F.abs(dequant - F.col("val"))
    return (
        q.select(F.col("dim").cast("int").alias("dim"), code.alias("code"), err.alias("err"))
        .groupBy("dim")
        .agg(
            F.min("code").cast("bigint").alias("code_min"),
            F.max("code").cast("bigint").alias("code_max"),
            F.round(F.avg("err") * 1000, 4).alias("mean_abs_err_milli"),
            F.round(F.max("err") * 1000, 4).alias("max_abs_err_milli"),
        )
    )


_PQ_BOOKS: dict[str, list] = {}


@register(
    "vec_ann_pq_topk",
    None,
    tags=("vector", "ann", "pq", "similarity", "prop"),
)
def vec_ann_pq_topk(spark, sf_dir):
    """V1 scale path (c): IVF-PQ — per-subspace KMeans codebooks (8
    subspaces × 16 codes over the 64-dim embeddings), map-only JVM encode
    (codes are 8 bytes/vector — the 64× scan-bandwidth compression that
    makes PQ the 100 TB serving layout), ADC approximate scoring against
    the broadcast query, TakeOrdered(80) candidates, exact-cosine re-rank
    to top-10. Codebook training is seeded Lloyd's via one applyInPandas
    over the m subspace groups (`operators/similarity.py::pq_train`) and is
    deterministic for a given corpus — but the driver takes the rows-only
    gate (like MinHash/SimHash: engine-specific numerics, no SQL oracle);
    recall vs brute force and determinism are pinned in
    tests/test_ann_recall.py."""
    from cinegraph_spark.operators.similarity import pq_topk, pq_train
    from cinegraph_spark.session import bounded_shuffle

    e = _emb(spark, sf_dir)
    if sf_dir not in _PQ_BOOKS:
        with bounded_shuffle(spark):
            _PQ_BOOKS[sf_dir] = pq_train(e, m=8, k=16)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return pq_topk(
        e.filter(F.col("vec_id") != 0), q, _PQ_BOOKS[sf_dir], k=10, rerank=80
    )


@register(
    "vec_ann_hnsw_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity"),
)
def vec_ann_hnsw_knn(spark, sf_dir):
    """V1 scale path (d): HNSW-analog graph ANN — the last declared
    capability of the reference's pgvector index
    (`db/models/embedding.py:15-17`). The navigable-small-world graph is
    built ONCE on the driver over the small vector set (the same
    small-side contract as the IVF centroids / PQ codebooks / Ward
    linkage), broadcast, and each query row runs the greedy-descent beam
    search map-side in an Arrow-batched ``mapInPandas`` — so query
    throughput scales with partitions while the index stays a bounded
    broadcast. Deterministic construction + sequential-fold cosine
    emission make the result hash-match the EXACT brute-force k-NN
    oracle (recall 1 at ef=192 on this corpus — asserted by
    tests/test_hnsw.py, not assumed; a regeneration that broke it would
    fail there first)."""
    from cinegraph_spark.operators.hnsw import hnsw_cosine_knn

    e = _emb(spark, sf_dir).select("vec_id", "v")
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_cosine_knn(e, queries, k=3, ef=192)


@register(
    "vec_ann_hnsw_partitioned_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "partitioned"),
)
def vec_ann_hnsw_partitioned_knn(spark, sf_dir):
    """V1 scale path (e): scatter-gather HNSW — the FULL-CORPUS form of
    the graph ANN (`operators/hnsw.py::hnsw_partitioned_knn`). The corpus
    hash-partitions on vec_id, each partition builds its own sub-index
    inside mapInPandas (executors build — no driver collect of vectors at
    all, unlike the broadcast variant), the broadcast query batch probes
    every sub-index, and one tiny window re-ranks the candidate union.
    Every global top-k neighbor is in the local top-k of its own
    partition, so partition-level recall 1 (easier than corpus-level)
    makes the union provably contain the global top-k — the same exact
    brute-force oracle hash-matches, and the answer is independent of
    n_partitions (pinned in tests/test_hnsw.py)."""
    from cinegraph_spark.operators.hnsw import hnsw_partitioned_knn

    e = _emb(spark, sf_dir).select("vec_id", "v")
    queries = e.filter(F.col("vec_id") < 10)
    # n_partitions is DERIVED from corpus size (ceil(n/target)) so each
    # sub-index build materializes a bounded pandas frame whatever the
    # corpus size; the 256-row target is scaled down from the production
    # 64k default so the test fixtures still exercise a real multi-
    # partition scatter-gather (sf0.1 → 8 sub-indexes). The answer is
    # partition-count independent, so this is purely a memory knob.
    # No bounded_shuffle: the plan's only data-sized exchange is the
    # explicit repartition; the re-rank window shuffles
    # ~n_queries*n_partitions*k candidate rows, harmless at any session
    # partition count.
    return hnsw_partitioned_knn(
        e, queries, k=3, target_rows_per_subindex=256
    )


@register(
    "vec_ann_hnsw_served_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving"),
)
def vec_ann_hnsw_served_knn(spark, sf_dir):
    """V1 serving path (r9): PERSISTED scatter-gather HNSW — the
    build-once/query-many shape of the reference's pgvector index
    (`db/models/embedding.py:15-17`: the index lives in the database and
    outlives any one query). `hnsw_index_save` builds one sub-index per
    hash partition executor-side and persists each as a pickled blob row
    in a parquet serving table (driver never sees a vector);
    `hnsw_index_knn` then searches the table — each blob row unpickles in
    its own mapInPandas task against the broadcast query batch, and one
    tiny window re-ranks the candidate union. Same exactness argument and
    brute-force oracle as the rebuild-per-batch `vec_ann_hnsw_partitioned`
    twin; tests/test_hnsw.py proves query-many (two different query
    batches against ONE saved table) and partition invariance."""
    from cinegraph_spark.operators.hnsw import hnsw_index_knn, hnsw_index_save
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir).select("vec_id", "v")
    path = scratch_dir("cg_hnsw_idx_") + "/index"
    hnsw_index_save(e, path, target_rows_per_subindex=256)
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_index_knn(spark, path, queries, k=3)


@register(
    "vec_ann_hnsw_incremental_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving", "incremental"),
)
def vec_ann_hnsw_incremental_knn(spark, sf_dir):
    """Serving-table MAINTENANCE path (r11; re-plumbed r13 onto the
    partition-pruned corpus layout): the index is saved over yesterday's
    corpus (vec_id % 5 != 0) and the corpus is physically laid out by the
    index's OWN partition function (`hnsw_corpus_layout` — pmod(hash(
    vec_id), n) directories). Today's arrivals (vec_id % 5 == 0) first
    merge into the layout via `hash_layout_upsert` (touched directories
    replaced by dynamic partition overwrite; untouched files never
    opened), then `hnsw_index_update` rebuilds ONLY the touched
    sub-indexes, reading ONLY the touched directories as a planning-time
    PartitionFilters prune — scan AND compute proportional to the
    change, never the corpus (the r12 verdict's weak finding; without
    the layout, computing each row's partition id forced a full-corpus
    read). The build is deterministic over deterministic membership, so
    the updated table is bit-identical to a full rebuild AND to the
    DataFrame-mode update (pinned in tests/test_hnsw.py), and the SAME
    exact brute-force oracle as the served twin applies. The reference's
    pgvector index gets this property from Postgres page writes
    (`db/models/embedding.py:15-17`); this is the lake-native form."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.operators.maintenance import hash_layout_upsert
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir).select("vec_id", "v")
    scratch = scratch_dir("cg_hnsw_inc_")
    path = scratch + "/index"
    corpus = scratch + "/corpus"
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    arrivals = e.filter(F.col("vec_id") % 5 == 0)
    hnsw_index_save(yesterday, path, n_partitions=8)
    hnsw_corpus_layout(yesterday, corpus, path)
    hash_layout_upsert(spark, corpus, arrivals)
    hnsw_index_update(corpus, arrivals.select("vec_id"), path)
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_index_knn(spark, path, queries, k=3)


@register(
    "vec_ann_hnsw_reshard_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving",
          "reshard"),
)
def vec_ann_hnsw_reshard_knn(spark, sf_dir):
    """Serving-table GROWTH loop (r12): the index is saved right-sized
    over yesterday's 20% of the corpus, today's 5× growth lands via
    `hnsw_index_update` (n_partitions is immutable identity, so the
    sub-indexes bloat past 2× the row target), and `hnsw_index_reshard`
    detects the drift from the stored n_vectors metadata alone and
    rebuilds at ceil(n/target) partitions — bit-identical to a fresh
    save (pinned in tests/test_hnsw.py), atomically swapped so the table
    stays live throughout. This is the maintenance cadence a 100 TB
    embedding store runs daily: update is cost-∝-delta, reshard is a
    metadata probe that only pays a rebuild when growth crossed the
    threshold (the reference's pgvector index gets balance-under-growth
    from Postgres page splits; `db/models/embedding.py:15-17`). Search
    result stays exact, so the SAME brute-force oracle applies."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_reshard,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir).select("vec_id", "v")
    path = scratch_dir("cg_hnsw_rs_") + "/index"
    yesterday = e.filter(F.col("vec_id") % 5 == 0)
    delta = e.filter(F.col("vec_id") % 5 != 0).select("vec_id")
    hnsw_index_save(yesterday, path, target_rows_per_subindex=128)
    hnsw_index_update(e, delta, path)
    stats = hnsw_index_reshard(e, path, target_rows_per_subindex=128)
    # the growth invariant only applies when the scenario actually grew
    # the table past the threshold — on a degenerate corpus (r17 minimal
    # sweep: one vector, empty delta) the reshard is correctly a no-op
    if e.count() > 2 * 128:
        assert stats["resharded"], "growth past 2x target must trigger"
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_index_knn(spark, path, queries, k=3)


#: Exact cosine top-10 to vector 0 within the 2 label cells whose
#: oracle-computed centroids rank highest: the contract every maintained IVF
#: serving table must reproduce after its update.
_IVF_PROBE2_TOP10_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    corpus AS (SELECT vec_id, label, v FROM e WHERE vec_id <> 0),
    flat AS (SELECT label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM corpus),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    centv AS (SELECT label, list(c ORDER BY dim) AS cv
              FROM cent GROUP BY label),
    probe AS (
      SELECT label FROM centv, q
      ORDER BY round(list_dot_product(cv, qv)
               / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))), 9)
               DESC, label
      LIMIT 2
    )
    SELECT corpus.vec_id, CAST(corpus.label AS BIGINT) AS label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
    FROM corpus JOIN probe USING (label), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register(
    "vec_ann_ivf_incremental_topk",
    _IVF_PROBE2_TOP10_ORACLE,
    tags=("vector", "ann", "ivf", "similarity", "serving", "incremental"),
)
def vec_ann_ivf_incremental_topk(spark, sf_dir):
    """IVF serving-table MAINTENANCE (r12; re-plumbed r13 onto the
    cell-partitioned corpus layout): the per-cell centroid table is
    saved over yesterday's corpus (vec_id % 5 != 0), yesterday's corpus
    is laid out by its cell column (`ivf_corpus_layout` — the physical
    layout `operators/similarity.py` has always named as the 100 TB IVF
    contract), today's arrivals merge into that layout via
    `column_layout_upsert` (only the cell DIRECTORIES the arrivals name
    are rewritten), and `ivf_centroids_update` runs with the corpus
    passed as the layout's PATH — the touched-cell recompute reads ONLY
    those cells' directories (PartitionFilters prune; scan ∝ change,
    closing the r12 weak finding at the IVF tier). `ivf_index_topk`
    then probes the PERSISTED table (top-2 cells by stored-centroid
    cosine, exact cosine top-10 within them). The cell sums are
    decimal(38,18) — exact, order-independent — so the updated table is
    bit-identical to a full rebuild in BOTH corpus modes (pinned in
    tests/test_ivf_serving.py) and the oracle can compute centroids
    over the final corpus directly. Mirrors
    `vec_ann_hnsw_incremental_knn` at the IVF tier (the reference's
    persistent pgvector index, `db/models/embedding.py:15-17`,
    maintained under growth)."""
    from cinegraph_spark.operators.maintenance import column_layout_upsert
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
        ivf_corpus_layout,
        ivf_index_topk,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_ivf_inc_")
    path = scratch + "/centroids"
    corpus_path = scratch + "/corpus"
    yesterday = corpus.filter(F.col("vec_id") % 5 != 0)
    arrivals = corpus.filter(F.col("vec_id") % 5 == 0)
    ivf_centroids_save(yesterday, path)
    ivf_corpus_layout(yesterday, corpus_path)
    column_layout_upsert(spark, corpus_path, arrivals, "vec_id")
    ivf_centroids_update(corpus_path, arrivals.select("label"), path)
    # the search ALSO reads the layout: the probed cells' directories
    # are the only corpus data the query opens (r13 — the IVF
    # partition-pruned read contract, delivered)
    out = ivf_index_topk(corpus_path, q, path, nprobe=2, k=10)
    return out.select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


@register(
    "vec_ann_ivf_stream_update_topk",
    _IVF_PROBE2_TOP10_ORACLE,
    tags=("vector", "ann", "ivf", "similarity", "serving", "streaming",
          "incremental"),
)
def vec_ann_ivf_stream_update_topk(spark, sf_dir):
    """STREAMING IVF serving-table maintenance (r15) — completes the
    streaming story across all three ANN tiers (HNSW gained its drain in
    r12/r13; IVF and PQ had batch updates only): the centroid table is
    saved over yesterday's corpus (vec_id % 5 != 0), today's arrivals land
    as a REAL micro-batched stream (2 parquet files, maxFilesPerTrigger=1 —
    two separate foreachBatch invocations), and every batch merges into the
    cell-partitioned corpus layout (`column_layout_upsert` — touched cell
    directories only) then recomputes exactly the touched cells'
    centroids (`ivf_centroids_update` in pruned-read layout mode). The
    continuous form of the daily maintenance job (the reference's pgvector
    index updates on every INSERT; `db/models/embedding.py:15-17`).
    Per-batch cost ∝ the cell directories the batch names — landing AND
    recompute scan; replay re-applies to the same bytes (multi-batch,
    replay, and convergence variants pinned in tests/test_ivf_serving.py).
    Decimal cell sums make the drained table bit-identical to a fresh full
    save over the final corpus, so the SAME exact oracle as
    `vec_ann_ivf_incremental_topk` applies: `ivf_index_topk` probes the
    maintained table (top-2 cells by stored-centroid cosine, exact cosine
    top-10 within them, candidate read pruned to the probed cells'
    directories)."""
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_index_topk,
        ivf_stream_maintenance_sink,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_ivf_stream_")
    path = scratch + "/centroids"
    yesterday = corpus.filter(F.col("vec_id") % 5 != 0)
    arrivals_df = corpus.filter(F.col("vec_id") % 5 == 0)
    arrivals_dir = scratch + "/arrivals"
    arrivals_df.repartition(2).write.parquet(arrivals_dir)
    ivf_centroids_save(yesterday, path)
    arrivals = (
        spark.readStream.schema("vec_id long, label int, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = scratch + "/land"
    serving_stream_update(
        arrivals, ivf_stream_maintenance_sink(yesterday, land, path), land
    )
    # the search reads the drained layout: the probed cells' directories
    # are the only corpus data the query opens
    out = ivf_index_topk(land, q, path, nprobe=2, k=10)
    return out.select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


@register(
    "vec_ann_hnsw_stream_update_knn",
    _KNN_TOP3_ORACLE,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving",
          "streaming", "incremental"),
)
def vec_ann_hnsw_stream_update_knn(spark, sf_dir):
    """STREAMING serving-table maintenance (r12; landing re-designed r13):
    the index is saved over yesterday's corpus (vec_id % 5 != 0), today's
    arrivals land as a REAL micro-batched stream (2 parquet files,
    maxFilesPerTrigger=1 — two separate foreachBatch invocations; the
    8-batch, replay, and out-of-order variants are pinned in
    tests/test_hnsw.py), and every batch immediately maintains the index
    via `hnsw_index_update` — the continuous form of the daily
    maintenance job (the reference's pgvector index updates on every
    INSERT; `db/models/embedding.py:15-17`). The landing zone IS the
    partition-pruned corpus layout (r13): the base corpus seeds a
    hash-layout with per-key versions, each batch merges latest-wins
    into ONLY the directories its keys hash into, and the rebuild reads
    those directories back as a PartitionFilters prune — so per-batch
    cost is bounded by the touched-directory volume (landing AND scan),
    never by the corpus or the cumulative arrival history (the pre-r13
    design re-read and re-deduplicated every batch ever landed — the
    r12 advisory). Replayed batches, even out of order, re-merge to the
    same bytes because the higher version wins and the rebuild reads the
    merged corpus, never the delta rows; the final table is bit-identical
    to a full save and the SAME exact brute-force oracle as the
    served/incremental twins applies."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir).select("vec_id", "v")
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    scratch = scratch_dir("cg_hnsw_stream_")
    arrivals_dir = scratch + "/arrivals"
    delta.repartition(2).write.parquet(arrivals_dir)
    path = scratch + "/index"
    hnsw_index_save(base, path, n_partitions=8)
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = scratch + "/land"
    serving_stream_update(
        arrivals, hnsw_stream_maintenance_sink(base, land, path), land
    )
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_index_knn(spark, path, queries, k=3)


@register(
    "vec_ann_pq_served_topk",
    None,
    tags=("vector", "ann", "pq", "similarity", "serving", "incremental",
          "prop"),
)
def vec_ann_pq_served_topk(spark, sf_dir):
    """PQ serving-table maintenance (r12) — the third ANN tier's
    build-once/query-many shape: codebooks + encoded corpus persist as ONE
    atomically-swapped state (`pq_codes_save`; books and codes can never
    crash apart), yesterday's codes are maintained under today's arrivals
    by `pq_codes_update` — which re-encodes ONLY the partition DIRECTORIES
    the delta hashes into via dynamic partition overwrite (the codes table
    is corpus-sized, so unlike the HNSW blob / IVF centroid tables the
    maintenance unit must be the directory, never a full-table rewrite —
    untouched files' mtimes are pinned unchanged in
    tests/test_pq_serving.py) — and `pq_index_topk` serves the query from
    the codes scan alone (~4m bytes/vector; full vectors touched only for
    the rerank join). Deterministic encode ⇒ update is bit-identical to a
    fresh full encode. r13: the corpus rides the SAME hash layout as the
    codes table (`pq_corpus_layout`) and the update takes the layout
    PATH, so the re-encode reads only the touched directories
    (PartitionFilters prune — the read side now matches the write side's
    scan-∝-change contract, closing the r12 weak finding at the PQ
    tier). Same rows-only driver gate as `vec_ann_pq_topk`
    (engine-specific codebook numerics — no SQL oracle can exist); the
    served search is pinned EQUAL to the encode-per-query form, which
    carries the family's recall-vs-brute-force pins."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
        pq_corpus_layout,
        pq_index_topk,
        pq_train,
    )
    from cinegraph_spark.session import bounded_shuffle, scratch_dir

    e = _emb(spark, sf_dir)
    if sf_dir not in _PQ_BOOKS:
        with bounded_shuffle(spark):
            _PQ_BOOKS[sf_dir] = pq_train(e, m=8, k=16)
    books = _PQ_BOOKS[sf_dir]
    corpus = e.filter(F.col("vec_id") != 0).select("vec_id", "v")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_pq_srv_")
    path = scratch + "/state"
    corpus_path = scratch + "/corpus"
    yesterday = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    pq_codes_save(yesterday, books, path, n_partitions=4)
    pq_corpus_layout(corpus, corpus_path, path)
    pq_codes_update(corpus_path, delta, path)
    # the rerank ALSO reads the layout: only the candidates' partition
    # directories are opened to fetch the ~80 full vectors (r13)
    return pq_index_topk(corpus_path, q, path, k=10, rerank=80)


@register(
    "vec_ann_filtered_topk",
    f"""
    WITH q AS (SELECT {_DV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             round(list_dot_product({_DV}, qv)
                   / (sqrt(list_sum(list_transform({_DV}, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> 0 AND label IN (2, 5, 7)
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "topk", "similarity", "filtered"),
)
def vec_ann_filtered_topk(spark, sf_dir):
    """FILTERED vector search — top-k cosine restricted to a metadata
    predicate (label in (2, 5, 7)), with PRE-filter semantics: the predicate
    restricts the candidate set BEFORE ranking, so the result always
    holds k matching vectors (when they exist). The distinction matters:
    POST-filtering — rank first, filter the top-k after — silently
    returns fewer than k rows whenever the global top-k is dominated by
    non-matching vectors, which is the classic filtered-ANN correctness
    trap; serving systems treat filtered search as its own operator for
    exactly this reason. Spark-side the predicate is just a filter fused
    into the map-only scoring scan ahead of TakeOrdered — no shuffle, no
    extra pass — and at scale it composes with the storage layouts: a
    label predicate over the IVF cell layout
    (`operators/maintenance.py::column_layout_save`) prunes to the
    matching cell DIRECTORIES before any vector is read, making the
    filter a planning-time partition prune rather than a scan-time
    test."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter((F.col("vec_id") != 0) & F.col("label").isin(2, 5, 7))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "vec_ann_ivf_filtered_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    corpus AS (SELECT vec_id, label, v FROM e WHERE vec_id <> 0),
    flat AS (SELECT label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM corpus),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    centv AS (SELECT label, list(c ORDER BY dim) AS cv
              FROM cent GROUP BY label),
    probe AS (
      SELECT label FROM centv, q
      WHERE label IN (2, 5, 7)
      ORDER BY round(list_dot_product(cv, qv)
               / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))), 9)
               DESC, label
      LIMIT 2
    )
    SELECT corpus.vec_id, CAST(corpus.label AS BIGINT) AS label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
    FROM corpus JOIN probe USING (label), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "ivf", "similarity", "serving", "filtered"),
)
def vec_ann_ivf_filtered_topk(spark, sf_dir):
    """FILTERED search against the PERSISTED IVF serving state — the ANN
    composition of `vec_ann_filtered_topk`'s pre-filter contract: the
    admissibility predicate (label in (2, 5, 7)) restricts the cells the
    probe may rank, so all nprobe probed cells are admissible and the
    query returns k matching vectors whenever they exist; post-filtering
    a fixed probe set would silently under-return whenever the globally
    nearest cells are inadmissible. Because the corpus rides the cell
    layout, the predicate composes with the r13 partition pruning for
    free — only admissible∩probed cell DIRECTORIES are opened
    (`operators/similarity.py::ivf_index_topk(cell_filter=...)`), which
    is the planning-time form a metadata filter should take at 100 TB:
    prune, not scan-and-test. Exact oracle: the same restricted probe
    over oracle-computed centroids (the stored decimal(38,18) centroid
    and the oracle's IEEE average collapse under the probe's 9-decimal
    rounding, the contract every IVF query here shares)."""
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_corpus_layout,
        ivf_index_topk,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_ivf_filt_")
    path = scratch + "/centroids"
    corpus_path = scratch + "/corpus"
    ivf_centroids_save(corpus, path)
    ivf_corpus_layout(corpus, corpus_path)
    out = ivf_index_topk(
        corpus_path,
        q,
        path,
        nprobe=2,
        k=10,
        cell_filter=F.col("label").isin(2, 5, 7),
    )
    return out.select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


@register(
    "vec_ann_hnsw_filtered_knn",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT qid, vec_id AS nid,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM e, q WHERE vec_id <> qid AND label IN (2, 5, 7)
    )
    SELECT qid, nid, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, nid) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving", "filtered"),
)
def vec_ann_hnsw_filtered_knn(spark, sf_dir):
    """FILTERED search at the HNSW serving tier (r14) — completing the
    pre-filter contract across the ANN stack (exact:
    `vec_ann_filtered_topk`; IVF serving: `vec_ann_ivf_filtered_topk`):
    the metadata predicate (label in (2, 5, 7)) restricts the candidate
    set BEFORE ranking, so every query returns k admissible neighbors
    whenever they exist. The admissible ids are bucketed by the serving
    table's OWN stored partition function and broadcast-joined onto the
    blob rows as per-partition lists — sub-indexes holding no admissible
    vector are pruned before they are even unpickled, the corpus-scale
    blob side never shuffles, and inside each task the admissible slice
    of that sub-index is scored EXACTLY (the blob embeds its vectors),
    so the brute-force filtered oracle hash-matches at every
    selectivity (`operators/hnsw.py::hnsw_index_filtered_knn` documents
    why exact-scan-of-admissible is the right engine choice in the
    low-selectivity regime filtered search serves)."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_filtered_knn,
        hnsw_index_save,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir)
    path = scratch_dir("cg_hnsw_filt_") + "/index"
    hnsw_index_save(e.select("vec_id", "v"), path, target_rows_per_subindex=256)
    queries = e.filter(F.col("vec_id") < 10).select("vec_id", "v")
    admissible = e.filter(F.col("label").isin(2, 5, 7)).select("vec_id")
    return hnsw_index_filtered_knn(spark, path, queries, admissible, k=3)


@register(
    "vec_ann_pq_filtered_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM e, q WHERE vec_id <> 0 AND label = 2
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "pq", "similarity", "serving", "filtered"),
)
def vec_ann_pq_filtered_topk(spark, sf_dir):
    """FILTERED search at the PQ serving tier (r14) — the last tier of
    the pre-filter contract (exact / IVF / HNSW already covered): the
    admissibility semi-join (label = 2, resolved to vec_ids upstream)
    fuses into the CODES scan before the ADC cut, so every ADC candidate
    is admissible and the query returns k matching vectors whenever they
    exist. Run in the exact regime: ``rerank=512 >= |admissible|`` at
    every SF (label 2 is ≤ 218 rows even at sf0.1), so the ADC stage
    keeps all admissible candidates, the re-rank exact-scores them, and
    the brute-force filtered oracle hash-matches — which is the regime a
    selective filter puts you in anyway (that is the point of
    pre-filtering); the sub-|admissible| rerank regime keeps the PQ
    family's recall contract, now over the admissible subset
    (tests/test_pq_serving.py). The codes table never shuffles; the
    admissible-id side broadcasts."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
        pq_train,
    )
    from cinegraph_spark.session import bounded_shuffle, scratch_dir

    e = _emb(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0).select("vec_id", "v")
    if sf_dir not in _PQ_BOOKS:
        # same training frame as vec_ann_pq_topk — the two queries share
        # the module cache, so the books must be the same either way
        with bounded_shuffle(spark):
            _PQ_BOOKS[sf_dir] = pq_train(e, m=8, k=16)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    path = scratch_dir("cg_pq_filt_") + "/state"
    pq_codes_save(corpus, _PQ_BOOKS[sf_dir], path, n_partitions=4)
    admissible = e.filter(F.col("label") == 2).select("vec_id")
    # rerank derived from |admissible| (one cheap count of a tiny side)
    # so the exact regime holds at ANY SF — a hardcoded 512 would
    # silently leave the regime on a larger fixture and the exact
    # brute-force oracle would stop matching for a data-size reason
    rerank = max(512, admissible.count())
    return pq_index_topk(
        corpus, q, path, k=10, rerank=rerank, admissible=admissible
    )


@register(
    "vec_ann_pq_incremental_topk",
    f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings
               WHERE vec_id <> 0 AND vec_id % 10 <> 9),
    q AS (SELECT {_DV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM e, q
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "pq", "similarity", "serving", "incremental"),
)
def vec_ann_pq_incremental_topk(spark, sf_dir):
    """EXACT-ORACLE form of the PQ maintenance cycle (r14 verdict task 2)
    — the frozen-codebook incremental update served through the exact
    regime so the whole add+delete round-trip gets a brute-force SQL
    oracle (``vec_ann_pq_served_topk`` exercises the same cycle but is
    rows-only: its sub-corpus rerank keeps the recall contract instead).
    Yesterday's state misses today's arrivals (vec_id % 5 == 0) and still
    carries today's deletes (vec_id % 10 == 9); one `pq_codes_update`
    applies both from the corpus layout — new vectors encoded with the
    FROZEN stored codebooks (`_pq_read_state`; retraining would silently
    re-interpret every untouched code), only the delta's partition
    DIRECTORIES re-encoded (PartitionFilters prune), delete-emptied
    membership dropped because the re-encode finds no layout rows for
    those keys. The deterministic encode makes the updated codes
    bit-identical to a fresh `pq_codes_save` of today's corpus
    (update ≡ rebuild, pinned in tests/test_pq_serving.py), so with
    ``rerank >= |corpus|`` the ADC cut keeps every candidate and the
    exact re-rank reproduces brute force over TODAY's corpus — adds
    present, deletes gone, hash-matched against DuckDB at any SF (rerank
    derived from a count, never hardcoded)."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
        pq_corpus_layout,
        pq_index_topk,
        pq_train,
    )
    from cinegraph_spark.session import bounded_shuffle, scratch_dir

    e = _emb(spark, sf_dir)
    if sf_dir not in _PQ_BOOKS:
        with bounded_shuffle(spark):
            _PQ_BOOKS[sf_dir] = pq_train(e, m=8, k=16)
    books = _PQ_BOOKS[sf_dir]
    full = e.filter(F.col("vec_id") != 0).select("vec_id", "v")
    today = full.filter(F.col("vec_id") % 10 != 9)
    yesterday = full.filter(F.col("vec_id") % 5 != 0)
    delta = full.filter(
        (F.col("vec_id") % 5 == 0) | (F.col("vec_id") % 10 == 9)
    ).select("vec_id")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_pq_inc_")
    path = scratch + "/state"
    corpus_path = scratch + "/corpus"
    pq_codes_save(yesterday, books, path, n_partitions=4)
    pq_corpus_layout(today, corpus_path, path)  # today's truth, laid out
    pq_codes_update(corpus_path, delta, path)
    rerank = max(512, today.count())
    return pq_index_topk(corpus_path, q, path, k=10, rerank=rerank)


@register(
    "vec_ann_pq_stream_update_topk",
    f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings WHERE vec_id <> 0),
    q AS (SELECT {_DV} AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM e, q
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "pq", "similarity", "serving", "streaming",
          "incremental"),
)
def vec_ann_pq_stream_update_topk(spark, sf_dir):
    """STREAMING PQ serving-table maintenance (r15) — with this, ALL
    THREE ANN tiers have streaming drains (HNSW r12, IVF r15, PQ here):
    the codes state is saved over yesterday's corpus (vec_id % 5 != 0),
    today's arrivals land as a REAL micro-batched stream (2 parquet
    files, maxFilesPerTrigger=1 — two separate foreachBatch invocations),
    and every batch merges latest-wins into the hash layout under the
    state's OWN partition function then re-encodes exactly the touched
    partition directories with the FROZEN stored codebooks
    (`serving_stream_update` draining `pq_stream_maintenance_sink` →
    `pq_codes_update` in pruned-read layout mode). Deterministic encode
    ⇒ the drained codes are bit-identical to a fresh full save of the
    final corpus (multi-batch, replay, and convergence variants pinned in
    tests/test_pq_serving.py),
    and serving in the exact regime (``rerank >= |corpus|``, derived
    from a count) makes the whole round-trip brute-force
    oracle-checkable — the streaming sibling of
    `vec_ann_pq_incremental_topk`'s exact-oracle pattern."""
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
        pq_stream_maintenance_sink,
        pq_train,
    )
    from cinegraph_spark.session import bounded_shuffle, scratch_dir

    e = _emb(spark, sf_dir)
    if sf_dir not in _PQ_BOOKS:
        with bounded_shuffle(spark):
            _PQ_BOOKS[sf_dir] = pq_train(e, m=8, k=16)
    books = _PQ_BOOKS[sf_dir]
    full = e.filter(F.col("vec_id") != 0).select("vec_id", "v")
    yesterday = full.filter(F.col("vec_id") % 5 != 0)
    arrivals_df = full.filter(F.col("vec_id") % 5 == 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_pq_stream_")
    path = scratch + "/state"
    arrivals_dir = scratch + "/arrivals"
    arrivals_df.repartition(2).write.parquet(arrivals_dir)
    pq_codes_save(yesterday, books, path, n_partitions=4)
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = scratch + "/land"
    serving_stream_update(
        arrivals, pq_stream_maintenance_sink(yesterday, land, path), land
    )
    rerank = max(512, full.count())
    # the search reads the drained landing layout: the rerank fetch is
    # pruned to the candidates' partition directories
    return pq_index_topk(land, q, path, k=10, rerank=rerank)


@register(
    "vec_ann_hnsw_erasure_knn",
    f"""
    WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
    kept AS (SELECT * FROM e WHERE vec_id % 7 <> 3),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT qid, vec_id AS nid,
             round(list_dot_product(v, qv)
                   / (sqrt(list_sum(list_transform(v, x -> x * x)))
                      * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
      FROM kept, q WHERE vec_id <> qid
    )
    SELECT qid, nid, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, nid) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    tags=("vector", "ann", "hnsw", "knn", "similarity", "serving",
          "erasure", "deletion-vectors"),
)
def vec_ann_hnsw_erasure_knn(spark, sf_dir):
    """ERASURE end-to-end at the HNSW serving tier (r16): vectors erased
    from the corpus layout by a DELETION VECTOR (`layout_dv_delete` — a
    K-row sidecar, zero data files rewritten) must be gone from every
    served top-k after the next maintenance. The blobs embed their
    vectors, so HNSW is the tier where erasure is NOT free at serve time
    (PQ/IVF candidate fetches read the DV-masked layout directly —
    contract pinned cross-tier in tests/test_deletion_vectors.py):
    `hnsw_index_update` rebuilds exactly the erased keys' partitions
    from the masked layout (scan pruned to those directories), after
    which the table is bit-identical to a fresh save of the kept corpus
    and the brute-force oracle over `vec_id % 7 <> 3` hash-matches.
    This is the GDPR-deletion shape at 100 TB: the erasure itself costs
    K sidecar rows, and the index pays only its touched partitions."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.operators.maintenance import layout_dv_delete
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir).select("vec_id", "v")
    scratch = scratch_dir("cg_hnsw_erase_")
    idx, corpus_path = scratch + "/index", scratch + "/corpus"
    hnsw_index_save(e, idx, target_rows_per_subindex=256)
    hnsw_corpus_layout(e, corpus_path, idx)
    erased = e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    layout_dv_delete(spark, corpus_path, erased)
    hnsw_index_update(corpus_path, erased, idx)
    queries = e.filter(F.col("vec_id") < 10)
    return hnsw_index_knn(spark, idx, queries, k=3)


@register(
    "vec_ann_ivf_erasure_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    corpus AS (SELECT vec_id, label, v FROM e
               WHERE vec_id <> 0 AND vec_id % 7 <> 3),
    flat AS (SELECT label, unnest(v) AS x,
                    generate_subscripts(v, 1) AS dim FROM corpus),
    cent AS (SELECT label, dim, avg(x) AS c FROM flat GROUP BY label, dim),
    centv AS (SELECT label, list(c ORDER BY dim) AS cv
              FROM cent GROUP BY label),
    probe AS (
      SELECT label FROM centv, q
      ORDER BY round(list_dot_product(cv, qv)
               / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))), 9)
               DESC, label
      LIMIT 2
    )
    SELECT corpus.vec_id, CAST(corpus.label AS BIGINT) AS label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_sum(list_transform(v, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cos_sim
    FROM corpus JOIN probe USING (label), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("vector", "ann", "ivf", "similarity", "serving", "erasure"),
)
def vec_ann_ivf_erasure_topk(spark, sf_dir):
    """ERASURE end-to-end at the IVF serving tier (r16): the corpus is a
    COLUMN layout (the cell is not derivable from the key, so deletion
    vectors are refused there by design) — erasure is the batch delete
    path: `column_layout_upsert(deletes=)` rewrites exactly the named
    cell DIRECTORIES, then `ivf_centroids_update` recomputes exactly
    those cells' centroids from the layout (pruned read). The erased
    keys leave the serve path the moment the cell delete lands (the
    candidates come from the layout itself); the centroid refresh only
    restores probe quality. Decimal cell sums keep the maintained table
    bit-identical to a fresh save over the kept corpus, so the oracle
    computes the probe over `vec_id % 7 <> 3` directly."""
    from cinegraph_spark.operators.maintenance import column_layout_upsert
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
        ivf_corpus_layout,
        ivf_index_topk,
    )
    from cinegraph_spark.session import scratch_dir

    e = _emb(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scratch = scratch_dir("cg_ivf_erase_")
    path, corpus_path = scratch + "/centroids", scratch + "/corpus"
    ivf_centroids_save(corpus, path)
    ivf_corpus_layout(corpus, corpus_path)
    deletes = corpus.filter(F.col("vec_id") % 7 == 3).select(
        "vec_id", "label"
    )
    column_layout_upsert(
        spark, corpus_path, corpus.filter(F.lit(False)), "vec_id",
        deletes=deletes,
    )
    ivf_centroids_update(corpus_path, deletes.select("label"), path)
    out = ivf_index_topk(corpus_path, q, path, nprobe=2, k=10)
    return out.select(
        "vec_id", F.col("label").cast("long").alias("label"), "cos_sim"
    )


@register(
    "vec_ann_hnsw_recall_property",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(0 AS BIGINT)        AS misses,
           round(CAST(1.0 AS DOUBLE), 6) AS recall
    FROM embeddings WHERE vec_id < 500
    """,
    tags=("vector", "ann", "hnsw", "recall", "property"),
)
def vec_ann_hnsw_recall_property(spark, sf_dir):
    """Recall@3 property probe for the HNSW tier (r18, VERDICT r17 task
    2). The `vec_ann_hnsw_*` exact oracles are legitimate only while the
    ef=192 beam search recalls the true top-k (operators/hnsw.py module
    docstring); until now a recall regression on a regenerated fixture
    would surface as an unreadable per-row hash mismatch. This query makes
    the property itself the result: run the HNSW search for up to 500
    corpus vectors as queries, compare each ranked (nid, cos_sim) row
    against the exact brute-force k-NN computed Spark-side (windowed
    row_number over broadcast-query cosine — vec_knn_per_query's plan),
    and emit ONE row (n_queries, misses, recall). The oracle pins
    misses=0 / recall=1.0 — a future recall drop degrades this query to a
    readable "misses=N" divergence instead of hash-failing the exact-knn
    window. Full-every-vector recall at the fixture SFs stays pinned in
    tests/test_hnsw.py; the 500-query cap bounds the brute-force compare
    (500 x corpus) at any scale."""
    from cinegraph_spark.operators.hnsw import hnsw_cosine_knn

    e = _emb(spark, sf_dir).select("vec_id", "v")
    queries = e.filter(F.col("vec_id") < 500)
    got = hnsw_cosine_knn(e, queries, k=3, ef=192).select(
        "qid", "rnk",
        F.col("nid").alias("nid_got"),
        F.col("cos_sim").alias("cos_got"),
    )
    q = queries.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid_true"),
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cos_true"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_true"), F.asc("nid_true"))
    true = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )
    # a miss is any ranked slot where the two engines disagree on the
    # neighbor OR its 6-decimal cosine (null-safe: a slot present on one
    # side only counts as a miss too)
    joined = true.join(got, ["qid", "rnk"], "full_outer").select(
        "qid",
        (
            ~(
                F.col("nid_true").eqNullSafe(F.col("nid_got"))
                & F.col("cos_true").eqNullSafe(F.col("cos_got"))
            )
        ).cast("long").alias("miss"),
    )
    nq = queries.agg(F.count("*").cast("long").alias("n_queries"))
    misses = joined.agg(
        F.coalesce(F.sum("miss"), F.lit(0)).cast("long").alias("misses")
    )
    return nq.crossJoin(misses).select(
        "n_queries",
        "misses",
        F.round(
            F.lit(1.0)
            - F.col("misses")
            / F.greatest(F.lit(1), F.col("n_queries") * 3).cast("double"),
            6,
        ).alias("recall"),
    )
