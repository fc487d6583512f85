"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never consumed whole: pipelines carve out dev sets,
ablation subsets, and per-source quotas. ``df.sample()`` is
seed-and-partitioning dependent (a repartition changes the sample), so these
operators sample by *content key*: a multiplicative-hash scramble of the
stable document id. The same rows are selected on any cluster layout, any
engine — which is exactly what makes them oracle-checkable here and
reproducible in production.

The scramble is Knuth's multiplicative hash (golden-ratio constant
2654435761); the id is first reduced mod 100003 (prime) so the product stays
far below 2^63 in both engines (DuckDB raises on BIGINT overflow rather than
wrapping, so the hash must be overflow-free, not merely wrap-consistent).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cinegraph_spark.functions import vector as V
from cinegraph_spark.queries import register
from cinegraph_spark.queries.neardup_common import SHINGLE_CTES
from cinegraph_spark.queries.util import T, SCRAMBLE_SQL as _SCRAMBLE_SQL, scramble as _scramble
from cinegraph_spark.session import local_df


@register(
    "sample_hash_mod_documents",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_SCRAMBLE_SQL} < 100
    ORDER BY doc_id
    """,
    tags=("sampling", "llm-pipeline"),
)
def sample_hash_mod_documents(spark, sf_dir):
    """~10% Bernoulli-style sample keyed on a hash of doc_id. Map-only: the
    predicate evaluates per row with no shuffle and no state, so it costs a
    scan at any corpus size — and re-running it on a recompacted / differently
    partitioned copy of the corpus selects the identical document set
    (unlike ``df.sample``, which samples by partition position)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.filter(_scramble(F.col("doc_id")) < 100)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "sample_stratified_topn_per_source",
    f"""
    WITH keyed AS (
        SELECT doc_id, source, {_SCRAMBLE_SQL} * 100003 + doc_id AS skey
        FROM documents
    )
    SELECT source, doc_id
    FROM (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY skey) AS rn
          FROM keyed)
    WHERE rn <= 5
    ORDER BY source, doc_id
    """,
    tags=("sampling", "llm-pipeline"),
)
def sample_stratified_topn_per_source(spark, sf_dir):
    """Stratified fixed-n sample: the 5 lowest-scrambled-key docs per source
    — a deterministic stand-in for 'n uniform draws per stratum' (the
    scramble decorrelates the pick from ingestion order; doc_id breaks the
    1-in-1000 scramble collisions). One shuffle on source; at scale this is
    the standard top-k-per-group window, and with many strata the partial
    TakeOrdered per map task bounds memory."""
    d = T(spark, sf_dir, "documents")
    skey = _scramble(F.col("doc_id")) * 100003 + F.col("doc_id")
    return (
        d.select("doc_id", "source", skey.alias("skey"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("source").orderBy("skey")))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


@register(
    "sample_lang_quota",
    f"""
    WITH quota(lang, q) AS (VALUES ('en', 20), ('es', 8), ('zh', 8)),
    keyed AS (
        SELECT d.doc_id, d.lang, q.q,
               {_SCRAMBLE_SQL} * 100003 + doc_id AS skey
        FROM documents d JOIN quota q USING (lang)
    )
    SELECT lang, doc_id
    FROM (SELECT lang, doc_id, q,
                 row_number() OVER (PARTITION BY lang ORDER BY skey) AS rn
          FROM keyed)
    WHERE rn <= q
    ORDER BY lang, doc_id
    """,
    tags=("sampling", "llm-pipeline"),
)
def sample_lang_quota(spark, sf_dir):
    """Per-language quota sampling (the data-mixing primitive: 'cap English,
    keep all low-resource'): join a tiny broadcast quota table, take the
    quota-many lowest scrambled keys per language. Languages without a quota
    row are dropped by the inner join (explicit mixing policy). Broadcast
    join + one window shuffle on lang; quota tables are O(100) rows at any
    corpus size."""
    d = T(spark, sf_dir, "documents")
    quota = local_df(
        d.sparkSession, [("en", 20), ("es", 8), ("zh", 8)],
        "lang string, q int",
    )
    skey = _scramble(F.col("doc_id")) * 100003 + F.col("doc_id")
    return (
        d.join(F.broadcast(quota), "lang")
        .select("lang", "doc_id", "q", skey.alias("skey"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("lang").orderBy("skey")))
        .filter(F.col("rn") <= F.col("q"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@register(
    "sample_global_shuffle_order",
    """
    WITH keyed AS (
      SELECT doc_id,
             md5(concat('shuf42:', CAST(doc_id AS VARCHAR))) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(k, 1, 2)) AS BIGINT) AS BIGINT)
             AS shard,
           CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT)
             AS global_pos
    FROM keyed
    ORDER BY global_pos
    """,
    tags=("sampling", "shuffle", "llm-pipeline"),
)
def sample_global_shuffle_order(spark, sf_dir):
    """Deterministic GLOBAL training-order shuffle: every document gets a
    reproducible position — rank by ``md5('shuf42:' || doc_id)`` with a
    doc_id tiebreak — so a re-run, a recompacted copy, or a different
    cluster layout produces the identical data order (the reproducibility
    requirement for training-run forensics; ``df.orderBy(rand())`` gives
    none of that).

    100 TB shape — the global rank is HIERARCHICAL, never one reducer
    sorting the corpus: the first md5 byte is the shard (256 buckets;
    shard order IS key order because it's the key's leading byte),
    intra-shard ranks window on the shard key in parallel, shard counts
    cumulate on a 256-row relation, and offsets broadcast back. The
    DuckDB oracle uses the naive single window — bit-identical output,
    which tests/test_token_budget.py-style equivalence pins locally."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))).alias(
            "k"
        ),
    )
    d = d.withColumn(
        "shard", F.conv(F.substring("k", 1, 2), 16, 10).cast("long")
    )
    w_intra = Window.partitionBy("shard").orderBy("k", "doc_id")
    ranked = d.withColumn("intra", F.row_number().over(w_intra))
    counts = d.groupBy("shard").agg(F.count("*").alias("n"))
    w_shard = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "shard", F.coalesce(F.sum("n").over(w_shard), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "shard",
            (F.col("off") + F.col("intra") - 1).cast("long").alias("global_pos"),
        )
        .orderBy("global_pos")
    )


@register(
    "sample_weighted_wor_topk",
    """
    SELECT doc_id, lang, source, n_chars AS weight,
           round(ln(-ln((CAST(concat('0x', substr(md5('wor42:' || CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 1.0) / 4294967297.0))
                 - ln(CAST(n_chars AS DOUBLE)), 9) AS wor_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY wor_key ASC, doc_id ASC
    LIMIT 100
    """,
    tags=("sampling", "weighted", "llm-pipeline"),
)
def sample_weighted_wor_topk(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each document draws a deterministic uniform u from an md5 of its id
    and is ranked by u^(1/w) — here w = n_chars, the doc-length proxy any
    quality score can replace — so inclusion probability is proportional
    to weight, exactly the 'sample long/high-quality documents more'
    curation step. The missing member of the sampling family: hash-mod is
    unweighted Bernoulli, quota/stratified are per-group counts, token
    budget is a hard cutoff — this one biases a fixed-size sample by a
    per-row weight, reproducibly.

    Cross-engine exactness: ranking by u^(1/w) is order-equivalent to
    ranking ascending by g = ln(-ln u) − ln w (a double log flips the
    sign twice), and g is the LOG of the raw key, so rounding g to 9
    decimals is a *relative* quantization of the key — transcendental
    last-ulp differences between engines sit ~1e-15 absolute in g, six
    orders below the rounding step, while real inter-document gaps
    (~1/n of a ~30-unit range) sit far above it; a residual tie breaks
    on doc_id identically in both engines. The raw ln(u)/w key itself
    would round to indistinguishable 1e-26s. u = (h+1)/(2^32+1) from the
    portable 32-bit md5 prefix (`dedup_minhash_portable_est` idiom) —
    integer + IEEE division, bit-identical across engines, never 0 or 1.

    Scale shape: one map-only projection then a global top-k — Spark
    plans ORDER BY + LIMIT as TakeOrdered (per-partition heap of k, then
    a k-row merge on the driver), so there is NO global sort and NO
    shuffle of the corpus at any size; identical selection on any
    partitioning of the input.

    Weight must be strictly positive: a NULL or zero n_chars has no
    defined u^(1/w) key (ln(0) is -inf in one engine, NULL in the other,
    and NULL keys sort to opposite ends of ASC) — such docs are
    unsampleable and excluded on both sides (r17 adversarial sweep)."""
    docs = T(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wor42:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4294967297.0)
    g = F.round(
        F.log(-F.log(u)) - F.log(F.col("n_chars").cast("double")), 9
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.col("n_chars").alias("weight"),
            g.alias("wor_key"),
        )
        .orderBy(F.asc("wor_key"), F.asc("doc_id"))
        .limit(100)
    )


#: recursive-CTE connected components over the exact-Jaccard near-dup
#: pair graph — the oracle twin of the Spark min-label propagation,
#: shared by the two leakage-split queries below (same CTE text as the
#: graph_cc_* oracles in queries/graph.py)
_NEARDUP_COMP_CTES = """
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
    comp AS (SELECT src AS doc_id, min(dst) AS component
             FROM reach GROUP BY src)
"""


@register(
    "sample_leakage_safe_split",
    f"""
    WITH RECURSIVE {SHINGLE_CTES},
    {_NEARDUP_COMP_CTES}
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS split_key,
           CASE WHEN (coalesce(c.component, d.doc_id) % 100003)
                     * 2654435761 % 1000 < 900
                THEN 'train' ELSE 'heldout' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """,
    tags=("sampling", "dedup", "llm-pipeline"),
)
def sample_leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/heldout split — the split a training-data
    pipeline must use for its eval holdout: hashing PER DOCUMENT leaks
    (a near-duplicate pair can straddle the boundary, so the model is
    evaluated on paraphrases of its training data), so the split key is
    the document's near-dup CLUSTER representative (connected components
    over the exact-Jaccard 0.6 pair graph; singletons key on their own
    id). Every cluster lands whole on one side BY CONSTRUCTION — the
    split is a pure function of the representative.

    Scale shape: the pair discovery is the bounded shingle self-join the
    dedup family already pays (max-DF-capped), components are the
    O(log d) min-label propagation, and the split itself is a map-only
    hash of the representative — one broadcast-size left join onto the
    corpus, no extra corpus shuffle. Oracle: recursive-CTE transitive
    closure + the same integer scramble arithmetic."""
    from cinegraph_spark.operators.graph_algos import connected_components
    from cinegraph_spark.queries.neardup_common import (
        ngram_jaccard_pairs_df,
    )

    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "id", "doc_id"
    )
    d = T(spark, sf_dir, "documents").select("doc_id")
    key = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        d.join(cc, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            F.when(
                (key % 100003) * F.lit(2654435761) % 1000 < 900,
                F.lit("train"),
            )
            .otherwise(F.lit("heldout"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_split_leakage_audit",
    f"""
    WITH RECURSIVE {SHINGLE_CTES},
    {_NEARDUP_COMP_CTES},
    sides AS (
      SELECT p.id_a, p.id_b,
             CAST((p.id_a % 100003) * 2654435761 % 1000 < 900 AS INT)
               AS naive_a,
             CAST((p.id_b % 100003) * 2654435761 % 1000 < 900 AS INT)
               AS naive_b,
             CAST((ca.component % 100003) * 2654435761 % 1000 < 900 AS INT)
               AS safe_a,
             CAST((cb.component % 100003) * 2654435761 % 1000 < 900 AS INT)
               AS safe_b
      FROM pairs p
      JOIN comp ca ON ca.doc_id = p.id_a
      JOIN comp cb ON cb.doc_id = p.id_b
    )
    SELECT * FROM (
      SELECT 'naive_per_doc' AS scheme,
             count(*) AS n_pairs,
             count(*) FILTER (WHERE naive_a <> naive_b) AS n_leaking
      FROM sides
      UNION ALL
      SELECT 'cluster_safe' AS scheme,
             count(*) AS n_pairs,
             count(*) FILTER (WHERE safe_a <> safe_b) AS n_leaking
      FROM sides
    ) ORDER BY scheme
    """,
    tags=("sampling", "dedup", "llm-pipeline", "audit"),
)
def sample_split_leakage_audit(spark, sf_dir):
    """The WHY of the cluster-keyed split, as an auditable number: count
    near-dup pairs that straddle the train/heldout boundary under (a)
    the naive per-document hash split and (b) the cluster-representative
    split. The cluster scheme's count is zero by construction — both
    endpoints of any pair share a component, hence a split key — while
    the naive scheme leaks whenever a cluster's members hash to
    different sides. One row per scheme, over the same pair graph and
    the same scramble arithmetic as `sample_leakage_safe_split`."""
    from cinegraph_spark.operators.graph_algos import connected_components
    from cinegraph_spark.queries.neardup_common import (
        ngram_jaccard_pairs_df,
    )

    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")

    def side(col):
        return ((col % 100003) * F.lit(2654435761) % 1000 < 900).cast(
            "int"
        )

    sides = (
        pairs.join(
            cc.select(
                F.col("id").alias("id_a"),
                F.col("component").alias("_comp_a"),
            ),
            "id_a",
        )
        .join(
            cc.select(
                F.col("id").alias("id_b"),
                F.col("component").alias("_comp_b"),
            ),
            "id_b",
        )
        .select(
            side(F.col("id_a")).alias("naive_a"),
            side(F.col("id_b")).alias("naive_b"),
            side(F.col("_comp_a")).alias("safe_a"),
            side(F.col("_comp_b")).alias("safe_b"),
        )
    )
    naive = sides.agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("naive_a") != F.col("naive_b")).alias(
            "n_leaking"
        ),
    ).select(F.lit("naive_per_doc").alias("scheme"), "n_pairs", "n_leaking")
    safe = sides.agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("safe_a") != F.col("safe_b")).alias("n_leaking"),
    ).select(F.lit("cluster_safe").alias("scheme"), "n_pairs", "n_leaking")
    return naive.unionByName(safe).orderBy("scheme")


def _kcenter_oracle_sql(k: int) -> str:
    """Chained-CTE greedy k-center for the DuckDB oracle: stage i picks
    the point with the largest min-squared-distance to the chosen set
    (6-decimal rounding before the argmax comparison on BOTH engines —
    the distances differ at the 1e-13 fold-order level, the gaps between
    candidates are orders of magnitude larger), then folds
    least(dmin, d_new). Squared distance uses the dot-product identity
    (|a|^2 + |b|^2 - 2<a,b>) so both engines run the same formula."""
    ctes = [
        "e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        "c0 AS (SELECT v FROM e WHERE vec_id = 0)",
        "d1 AS (SELECT e.vec_id, e.v,"
        " list_dot_product(e.v, e.v) + list_dot_product(c0.v, c0.v)"
        " - 2 * list_dot_product(e.v, c0.v) AS dmin"
        " FROM e, c0 WHERE e.vec_id <> 0)",
    ]
    # the seed row exists only if vec_id 0 does (zero-row corpus -> a
    # zero-row result on BOTH engines, r16 empty-input sweep)
    picks = ["SELECT 0 AS pick_order, 0 AS vec_id, 0.0 AS radius2 FROM c0"]
    for i in range(1, k):
        ctes.append(
            f"p{i} AS (SELECT vec_id, v, dmin FROM d{i}"
            f" ORDER BY round(dmin, 6) DESC, vec_id LIMIT 1)"
        )
        picks.append(
            f"SELECT {i} AS pick_order, vec_id,"
            f" round(dmin, 6) AS radius2 FROM p{i}"
        )
        if i < k - 1:
            ctes.append(
                f"d{i + 1} AS (SELECT d.vec_id, d.v,"
                f" least(d.dmin,"
                f" list_dot_product(d.v, d.v)"
                f" + list_dot_product(p{i}.v, p{i}.v)"
                f" - 2 * list_dot_product(d.v, p{i}.v)) AS dmin"
                f" FROM d{i} d, p{i} WHERE d.vec_id <> p{i}.vec_id)"
            )
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    SELECT CAST(pick_order AS BIGINT) AS pick_order, vec_id,"
          " radius2 FROM (" + " UNION ALL ".join(picks) + ")"
          " ORDER BY pick_order"
    )


_KCENTER_K = 5
_KCENTER_SCHEMA = "pick_order long, vec_id long, radius2 double"


@register(
    "sample_kcenter_coreset",
    _kcenter_oracle_sql(_KCENTER_K),
    tags=("sampling", "vector", "coreset", "llm-pipeline"),
)
def sample_kcenter_coreset(spark, sf_dir):
    """Diversity sampling — greedy k-center (Gonzalez) over the embedding
    corpus: seed at vec_id 0, then repeatedly pick the point FARTHEST
    from the chosen set (max of min squared distance, 6-decimal-rounded
    comparison, vec_id tiebreak). The returned `radius2` of each pick is
    the covering radius² the coreset had before that pick — the 2-approx
    guarantee's certificate. This is the coreset / dataset-distillation
    selection step a training-data pipeline uses to pick maximally
    diverse exemplars (dedup removes the near-identical; k-center keeps
    the spread).

    Scale shape: k-1 passes over the corpus, each a map-only distance
    expression (the chosen centers are k literal vectors folded into the
    plan — the documented small-side, like the IVF probe list) followed
    by TakeOrdered(1); no shuffle of the corpus at any size, cost =
    (k-1) scans. The squared distance uses the dot-product identity so
    Spark's fold and DuckDB's list_dot_product run the same formula."""
    from cinegraph_spark.queries.util import T as _T

    e = (
        _T(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )

    def dist2_to(center: list) -> F.Column:
        # one JSON-parsed literal: F.lit(list) costs one py4j round trip
        # per dimension, on every k-center pass
        c = V.array_lit([float(x) for x in center], "array<double>")
        dot_vc = F.aggregate(
            F.zip_with(F.col("v"), c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dot_vv = F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dot_cc = float(sum(x * x for x in center))
        return dot_vv + F.lit(dot_cc) - 2.0 * dot_vc

    seed = e.filter(F.col("vec_id") == 0).select("v").first()
    if seed is None:  # no seed vector: zero-row result, like the oracle
        return local_df(spark, [], _KCENTER_SCHEMA)
    chosen = [(0, [float(x) for x in seed["v"]], 0.0)]
    remaining = e.filter(F.col("vec_id") != 0)
    for i in range(1, _KCENTER_K):
        dmin = F.least(*[dist2_to(c) for _, c, _ in chosen]) if len(
            chosen
        ) > 1 else dist2_to(chosen[0][1])
        pick = (
            remaining.select("vec_id", "v", dmin.alias("dmin"))
            .orderBy(F.round("dmin", 6).desc(), F.asc("vec_id"))
            .limit(1)
            .first()
        )
        if pick is None:  # corpus smaller than k: stop, like the oracle
            break
        chosen.append(
            (int(pick["vec_id"]), [float(x) for x in pick["v"]],
             float(pick["dmin"]))
        )
        remaining = remaining.filter(F.col("vec_id") != int(pick["vec_id"]))
    # round in-engine (F.round, not Python's banker's round) so the
    # half-way rule matches the oracle's SQL round
    return (
        local_df(
            spark,
            [(i, vid, d) for i, (vid, _, d) in enumerate(chosen)],
            _KCENTER_SCHEMA,
        )
        .select(
            "pick_order", "vec_id", F.round("radius2", 6).alias("radius2")
        )
        .orderBy("pick_order")
    )
