"""Deduplication queries over ``documents`` (north-star LLM-pipeline ops).

The driver corpus has no exact duplicates, so the exact-dedup queries build
a deterministic dup-injected corpus inline (every 5th doc unioned again with
id+10000) — identically in both engines. Near-dup queries run on the real
corpus (it contains planted near-duplicates with token-Jaccard ≥ 0.8).

MinHash/SimHash queries have no DuckDB oracle (engine-specific hash
functions); they get rows-only checks from the driver plus property tests in
``tests/test_dedup.py`` (LSH recall vs exact Jaccard ground truth).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cinegraph_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash64,
)
from cinegraph_spark.queries import register
from cinegraph_spark.queries.neardup_common import (  # noqa: F401 (re-export)
    SHINGLE_CTES,
    ngram_jaccard_pairs_df,
    toks_df,
)
from cinegraph_spark.queries.util import T

_DUP_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
"""


def _dup_corpus(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


#: kept as the module-local name; the builder lives in neardup_common so
#: graph/analytics can share it without triggering this module's
#: registrations.
_toks = toks_df


@register(
    "dedup_exact_groups",
    f"""
    WITH {_DUP_CORPUS_CTE}
    SELECT md5(text)                                   AS text_hash,
           CAST(min(doc_id) AS BIGINT)                 AS keep_id,
           count(*)                                    AS n_copies,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS all_ids
    FROM corpus GROUP BY md5(text)
    """,
    tags=("dedup", "exact"),
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup groups: md5-hash groupBy, min-id representative — one
    shuffle on the hash, the cheapest dedup tier."""
    g = exact_dedup(_dup_corpus(spark, sf_dir), "text", "doc_id")
    return g.select(
        "text_hash",
        F.col("keep_id").cast("long").alias("keep_id"),
        "n_copies",
        F.array_join(F.col("all_ids").cast("array<string>"), ",").alias("all_ids"),
    )


@register(
    "dedup_exact_survivors",
    f"""
    WITH {_DUP_CORPUS_CTE}
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_removed
    FROM corpus
    """,
    tags=("dedup", "exact"),
)
def dedup_exact_survivors(spark, sf_dir):
    """Dedup summary counts on the dup-injected corpus."""
    c = _dup_corpus(spark, sf_dir)
    return c.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("text").alias("n_unique"),
        (F.count("*") - F.countDistinct("text")).alias("n_removed"),
    )


@register(
    "dedup_ngram_jaccard_pairs",
    f"""
    WITH {SHINGLE_CTES}
    SELECT id_a, id_b,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           n_common,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    """,
    tags=("dedup", "near-dup", "jaccard"),
)
def dedup_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 8-token-shingle Jaccard near-dup pairs (threshold 0.6) —
    candidate discovery through shared shingles, with the discovery-mode
    scale contract: shingles in more than DEFAULT_MAX_SHINGLE_DF (20)
    documents are excluded from pair discovery and set sizes, bounding the
    self-join fan-out at max_df² per shingle (on these fixtures max DF is 4,
    so the cap is a no-op on values — it exists so the same query survives
    a skewed 100 TB corpus). The unbounded-scale alternative path goes
    through LSH candidates (dedup_minhash_lsh_pairs)."""
    return ngram_jaccard_pairs_df(spark, sf_dir)


@register(
    "dedup_neardup_survivors",
    f"""
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
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    removed AS (SELECT doc_id FROM comp WHERE doc_id <> component)
    SELECT (SELECT count(*) FROM documents)              AS n_total,
           (SELECT count(*) FROM removed)                AS n_removed,
           (SELECT count(*) FROM documents)
             - (SELECT count(*) FROM removed)            AS n_kept,
           coalesce((SELECT array_to_string(list(CAST(doc_id AS VARCHAR)
                                                 ORDER BY doc_id), ',')
                     FROM removed), '')                  AS removed_ids
    """,
    tags=("dedup", "near-dup", "survivors"),
)
def dedup_neardup_survivors(spark, sf_dir):
    """The end of the near-dup pipeline: pairs → connected components →
    keep the minimum doc_id per cluster, drop the rest. This is the actual
    deliverable of corpus dedup (which documents survive into training);
    the cluster step is min-label CC whose component id IS the survivor id,
    so removal = 'doc_id != component', one map-side comparison."""
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    from cinegraph_spark.operators.graph_algos import connected_components

    cc = connected_components(pairs, "id_a", "id_b")
    removed = cc.filter(F.col("id") != F.col("component")).select("id")
    n_total = T(spark, sf_dir, "documents").agg(F.count("*").alias("n_total"))
    stats = removed.agg(
        F.count("*").alias("n_removed"),
        F.array_join(
            F.sort_array(F.collect_list("id")).cast("array<string>"), ","
        ).alias("removed_ids"),
    )
    return (
        n_total.crossJoin(F.broadcast(stats))
        .select(
            "n_total",
            "n_removed",
            (F.col("n_total") - F.col("n_removed")).alias("n_kept"),
            "removed_ids",
        )
    )


@register(
    "dedup_minhash_lsh_pairs",
    None,  # engine-specific hashes; verified by property tests + rows check
    tags=("dedup", "near-dup", "minhash", "lsh"),
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash(32 perms) + banded LSH(8×4) near-dup pairs, verified with
    exact Jaccard ≥ 0.6 on the candidates only. This is the 100 TB dedup
    path: the only joins are band-bucket-local; no O(n²) stage exists.

    The shingle set feeds three consumers (signatures, pair counts, set
    sizes); a lazy localCheckpoint materializes the tokenize+shingle work
    once instead of once per branch — at scale this is 'stage the shingle
    table before fanning out', the standard shape."""
    sh = shingles(_toks(spark, sf_dir), "doc_id", "tokens", n=8).localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures(sh, "doc_id", num_perm=32)
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=8, rows=4)
    verified = jaccard_pairs(sh, "doc_id", candidates=cands)
    return verified.filter(F.col("jaccard") >= 0.6).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


@register(
    "dedup_simhash_buckets",
    None,  # engine-specific hashes; rows-only + property tests
    tags=("dedup", "near-dup", "simhash"),
)
def dedup_simhash_buckets(spark, sf_dir):
    """SimHash64 per doc + near-dup pairs at Hamming distance ≤ 12 among
    docs sharing any 16-bit simhash block (block index = LSH key)."""
    sim = simhash64(_toks(spark, sf_dir), "doc_id", "tokens")
    blocks = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", k * 16).bitwiseAND(F.lit(0xFFFF))
                    for k in range(4)
                ]
            )
        ).alias("block_idx", "block"),
    )
    a = blocks.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
        "block_idx",
        "block",
    )
    b = blocks.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
        "block_idx",
        "block",
    )
    pairs = (
        a.join(b, ["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .filter(F.col("hamming") <= 12)
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "dedup_embedding_near_pairs",
    """
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.35
    """,
    tags=("dedup", "near-dup", "embedding"),
)
def dedup_embedding_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs, label-partitioned (the IVF idea:
    compare only within the same coarse cell → the pair join is
    cell-local, never all-pairs)."""
    from cinegraph_spark.functions import vector as V

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("l_a"), F.col("v").alias("va")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("l_b"), F.col("v").alias("vb")
    )
    pairs = a.join(b, (F.col("l_a") == F.col("l_b")) & (F.col("id_a") < F.col("id_b")))
    cos = V.cosine(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.35)
        .select("id_a", "id_b", F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screen + blocked edit-distance near-dup
# ---------------------------------------------------------------------------

#: 5-gram shingle CTE (finer than the 8-gram dedup shingles: contamination
#: wants higher recall on partial overlap). Same <n-token whole-doc fallback
#: as operators/dedup.py::shingles.
_SH5_CTES = """
    toks AS (
      SELECT doc_id, list_filter(string_split_regex(
               regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
               t -> t <> '') AS tokens
      FROM documents
    ),
    sh5 AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(tokens) >= 5
                  THEN array_to_string(tokens[i : i + 4], ' ')
                  ELSE array_to_string(tokens, ' ') END AS shingle
      FROM toks, unnest(range(1, greatest(len(tokens) - 3, 2))) AS u(i)
      WHERE len(tokens) > 0
    )
"""


@register(
    "dedup_contamination_screen",
    f"""
    WITH {_SH5_CTES},
    ev AS (SELECT DISTINCT shingle FROM sh5
           WHERE (doc_id % 100003) * 2654435761 % 1000 < 100),
    corpus AS (SELECT doc_id, shingle FROM sh5
               WHERE (doc_id % 100003) * 2654435761 % 1000 >= 100),
    totals AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, count(*) AS n_overlap
      FROM corpus c JOIN ev USING (shingle) GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           coalesce(h.n_overlap, 0)                              AS n_overlap,
           round(coalesce(h.n_overlap, 0) * 1.0 / t.n_shingles, 4) AS overlap_ratio,
           CAST(coalesce(h.n_overlap, 0) * 2 >= t.n_shingles AS INT) AS contaminated
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    tags=("dedup", "contamination", "llm-pipeline"),
)
def dedup_contamination_screen(spark, sf_dir):
    """Benchmark-contamination screen: flag corpus documents whose 5-gram
    shingle set overlaps a held-out eval set (the deterministic 10%
    content-hash sample from ``queries/sampling.py`` plays the benchmark).
    The eval shingle set is tiny relative to the corpus — in Spark it is
    DISTINCT-ed and **broadcast**, so the screen is a map-side hash probe
    over the corpus shingle stream plus one groupBy(doc_id): at 100 TB this
    is exactly an n-gram bloom/hash filter pass, never a shuffle join of two
    corpus-sized sides. The contaminated flag uses integer cross-
    multiplication (2·overlap ≥ total), exact in both engines."""
    from cinegraph_spark.queries.sampling import _scramble

    t = _toks(spark, sf_dir)
    is_eval = _scramble(F.col("doc_id")) < 100
    ev = (
        shingles(t.filter(is_eval), "doc_id", "tokens", n=5)
        .select("shingle")
        .distinct()
    )
    corpus = shingles(t.filter(~is_eval), "doc_id", "tokens", n=5)
    totals = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_raw"))
    )
    n_ov = F.coalesce(F.col("n_overlap_raw"), F.lit(0)).cast("long")
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_ov.alias("n_overlap"),
        F.round(n_ov * 1.0 / F.col("n_shingles"), 4).alias("overlap_ratio"),
        (n_ov * 2 >= F.col("n_shingles")).cast("int").alias("contaminated"),
    )


@register(
    "dedup_levenshtein_part_names",
    """
    SELECT a.p_brand AS brand,
           a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND abs(len(a.p_name) - len(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("dedup", "near-dup", "fuzzy"),
)
def dedup_levenshtein_part_names(spark, sf_dir):
    """Blocked edit-distance near-dup over part names (entity-resolution
    flavor of dedup): candidate pairs only *within a brand block* and within
    a ±2 length band — the two cheap equality/band keys bound the quadratic
    comparison to per-block sizes, the standard way fuzzy matching survives
    scale (never an unblocked all-pairs levenshtein). Both engines use the
    textbook DP edit distance, so the threshold is exact parity."""
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("b_brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = a.join(
        b,
        (F.col("brand") == F.col("b_brand"))
        & (F.col("key_a") < F.col("key_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= 2
        ),
    )
    return (
        pairs.withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("edit_dist") <= 2)
        .select("brand", "key_a", "key_b", "edit_dist")
    )


@register(
    "dedup_embedding_cc_survivors",
    """
    WITH RECURSIVE e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
               * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.35
    ),
    nodes AS (SELECT DISTINCT id FROM
              (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a
    ),
    comp AS (SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src),
    members AS (
      SELECT e.vec_id,
             coalesce(c.component, e.vec_id) AS component,
             sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
      FROM e LEFT JOIN comp c ON c.vec_id = e.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY nrm DESC, vec_id) AS rn
      FROM members
    )
    SELECT component,
           min(CASE WHEN rn = 1 THEN vec_id END) AS survivor_id,
           count(*) AS n_members,
           array_to_string(list(CAST(vec_id AS VARCHAR) ORDER BY vec_id), ',')
             AS member_ids
    FROM ranked GROUP BY component
    """,
    tags=("dedup", "near-dup", "embedding", "cc", "survivor", "llm-pipeline"),
)
def dedup_embedding_cc_survivors(spark, sf_dir):
    """Semantic-dedup survivor selection — the step after
    ``dedup_embedding_near_pairs`` that an LLM-data pipeline actually
    ships: cosine near-dup pairs (cell-local, never all-pairs) →
    connected components (pair lists undercount duplication: A~B, B~C but
    not A~C must still collapse to one kept doc) → one survivor per
    component by a deterministic keep-rule (largest L2 norm, vec_id
    tiebreak — 'keep the most informative copy' with a total order).
    Singletons keep themselves (component = own vec_id via the left
    join), so the output is a complete keep/drop decision for the corpus.

    Scale: the pair join is label-cell-local (IVF shape), the CC is the
    O(log d) min-label propagation used by the shingle clusters, the
    norm ranking is one window over components. Oracle: recursive-CTE
    transitive closure + the same window, exact because every compared
    quantity (dot, norm) is computed with the identical operation order
    in both engines."""
    from pyspark.sql import Window

    from cinegraph_spark.functions import vector as V
    from cinegraph_spark.operators.graph_algos import connected_components

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("l_a"),
        F.col("v").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("l_b"),
        F.col("v").alias("vb"),
    )
    pairs = (
        a.join(b, (F.col("l_a") == F.col("l_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(V.cosine(F.col("va"), F.col("vb")) >= 0.35)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs, "id_a", "id_b")
    members = (
        e.select("vec_id", V.norm(F.col("v")).alias("nrm"))
        .join(cc, F.col("vec_id") == F.col("id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
            "nrm",
        )
    )
    w = Window.partitionBy("component").orderBy(F.desc("nrm"), "vec_id")
    ranked = members.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.min(F.when(F.col("rn") == 1, F.col("vec_id"))).alias("survivor_id"),
        F.count("*").alias("n_members"),
        F.array_join(
            F.sort_array(F.collect_list("vec_id")).cast("array<string>"), ","
        ).alias("member_ids"),
    )


@register(
    "dedup_repeated_span_mask",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, p - 1 AS start0,
             array_to_string(list_slice(ws, p, p + 4), ' ') AS gram
      FROM words, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(p)
    ), dup AS (
      SELECT gram FROM sh GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), ds AS (
      SELECT doc_id, list_sort(list(start0)) AS dup_starts
      FROM sh JOIN dup USING (gram) GROUP BY doc_id
    ), tok AS (
      SELECT doc_id, n_words, dup_starts,
             unnest(ws) AS word, unnest(range(n_words)) AS pos0
      FROM (
        SELECT w.doc_id, w.ws, len(w.ws) AS n_words,
               coalesce(ds.dup_starts, []) AS dup_starts
        FROM words w LEFT JOIN ds ON w.doc_id = ds.doc_id
      )
    )
    SELECT doc_id,
           any_value(n_words) AS n_words,
           len(any_value(dup_starts)) AS n_dup_starts,
           count(*) FILTER (WHERE NOT covered) AS n_kept,
           coalesce(string_agg(word, ' ' ORDER BY pos0)
                    FILTER (WHERE NOT covered), '') AS clean_text
    FROM (
      SELECT *,
             len(list_filter(dup_starts,
                             s -> s <= pos0 AND pos0 < s + 5)) > 0 AS covered
      FROM tok
    )
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("dedup", "span-removal", "boilerplate"),
)
def dedup_repeated_span_mask(spark, sf_dir):
    """Cross-document repeated-span removal (RefinedWeb/MassiveText exact
    substring dedup at 5-token-gram granularity): every word position
    covered by a 5-gram occurring in >= 2 distinct documents is masked
    out; emits per-doc counts plus the cleaned text. Strictly linear at
    scale — a degenerate gram is one spillable aggregation group and each
    occurrence joins the dup set once (no pair emission; contrast the
    Jaccard discovery self-join). On the sf0.01 fixture 71/500 docs lose
    ~10% of tokens. Reference analog: text cleaning before clustering
    (preprocessing per SURVEY §2 M6) re-expressed as a corpus-global op."""
    from cinegraph_spark.operators.dedup import repeated_ngram_span_mask

    # NULL text is excluded: there is nothing to mask, and the oracle's
    # unnest-based reconstruction drops such docs structurally (r17
    # adversarial sweep) — the operator itself stays row-preserving
    docs = T(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return repeated_ngram_span_mask(docs, "text", "doc_id", k=5, min_df=2).orderBy(
        "doc_id"
    )


@register(
    "dedup_cdc_chunk_overlap",
    f"""
    WITH {_DUP_CORPUS_CTE},
    splits AS (
      SELECT doc_id, string_split_regex(text, '[ \t\n\r]+') AS parts
      FROM corpus
    ),
    words AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             parts[CAST(u.i AS INTEGER)] AS word
      FROM splits, unnest(range(1, len(parts) + 1)) AS u(i)
      WHERE parts[CAST(u.i AS INTEGER)] <> ''
    ),
    chunked AS (
      SELECT doc_id, pos, word,
             sum(CASE WHEN CAST(concat('0x', substr(md5(word), 1, 8))
                           AS BIGINT) % 16 = 0
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM words
    ),
    chunks AS (
      SELECT doc_id, chunk_id, count(*) AS n_words,
             md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
      FROM chunked GROUP BY doc_id, chunk_id
    ),
    hc AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(sum(c.n_words) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN h.n_docs >= 2 THEN c.n_words ELSE 0 END)
             AS BIGINT) AS n_shared_words
    FROM chunks c JOIN hc h USING (chunk_hash)
    GROUP BY c.doc_id
    """,
    tags=("dedup", "cdc", "chunking", "llm-pipeline"),
)
def dedup_cdc_chunk_overlap(spark, sf_dir):
    """PARTIAL-overlap dedup via content-defined chunking (r15,
    `operators/dedup.py::cdc_chunks` — the rsync/LBFS chunking family at
    word granularity): chunk boundaries are a pure function of local
    word hashes (portable md5 prefix ≡ 0 mod 16), so shared boilerplate
    and re-posted fragments land in IDENTICAL chunks wherever they sit
    in a document — the overlap class whole-document hashing and even
    minhash-at-document-granularity under-report. Per document: total
    chunks/words and how many sit in chunks shared with ≥2 distinct
    docs (the dup-injected corpus guarantees full-overlap rows; organic
    boilerplate surfaces as partial rows). Every intermediate is
    engine-portable (explicit whitespace class — Java's and RE2's
    ``\\s`` disagree on vertical tab; md5 chunk fingerprints), so the
    whole pipeline carries an exact oracle. 100 TB shape: linear — one
    corpus explode, one PER-DOCUMENT window (no global window), hash
    aggregations on (doc, chunk) and chunk_hash; the chunk-count join is
    the standard inverted-index shuffle, bounded by chunk count ≈
    words/16."""
    from cinegraph_spark.operators.dedup import cdc_chunks

    chunks = cdc_chunks(_dup_corpus(spark, sf_dir), "text", "doc_id", mod=16)
    hc = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    shared = (F.col("n_docs") >= 2).cast("int")
    return (
        chunks.join(hc, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(shared).cast("bigint").alias("n_shared_chunks"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum(F.col("n_words") * shared)
            .cast("bigint")
            .alias("n_shared_words"),
        )
    )


@register(
    "dedup_line_level_shared_sentences",
    r"""
    WITH parts AS (
      SELECT doc_id,
             regexp_replace(part, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g') AS s
      FROM (SELECT doc_id,
                   unnest(string_split_regex(text, '[.!?]+')) AS part
            FROM documents)
    ),
    kept AS (SELECT DISTINCT doc_id, md5(s) AS h FROM parts WHERE s <> ''),
    freq AS (SELECT h, count(*) AS n_docs FROM kept GROUP BY h),
    per AS (
      SELECT k.doc_id,
             count(*) AS n_sentences,
             count(*) FILTER (WHERE f.n_docs >= 2) AS n_shared
      FROM kept k JOIN freq f USING (h) GROUP BY k.doc_id
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST((20000 * n_shared + n_sentences)
                // (2 * n_sentences) AS DOUBLE) / 10000.0 AS shared_ratio
    FROM per ORDER BY doc_id
    """,
    tags=("dedup", "c4", "line-level", "llm-pipeline"),
)
def dedup_line_level_shared_sentences(spark, sf_dir):
    """C4-style LINE-LEVEL dedup statistics: per document, how many of
    its distinct sentences also appear in at least one OTHER document —
    the signal C4 uses to drop boilerplate lines (nav chrome, license
    headers, quoted reposts) that document-level and near-dup passes
    both miss. Sentence split/trim matches `text_udtf_sentence_split`;
    sentences join by md5 hash, so the two corpus-scale shuffles
    (distinct, frequency groupBy) move 16-byte keys, never sentence
    text, and the frequency side is combiner-friendly. A downstream
    filter on `shared_ratio` (or the per-sentence n_docs) is the actual
    C4 cleaning step; this query is its auditable statistics pass."""
    d = T(spark, sf_dir, "documents")
    parts = d.select(
        "doc_id",
        F.explode(F.split("text", r"[.!?]+")).alias("part"),
    )
    kept = (
        parts.select(
            "doc_id",
            # explicit class, NOT \s: Java's \s includes vertical tab
            # (\x0B) while DuckDB's RE2 \s does not, so a fragment edged
            # by \x0B would trim differently and the md5 sentence keys
            # would diverge from the oracle (r16 ADVICE)
            F.regexp_replace(
                "part", r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", ""
            ).alias("s"),
        )
        .filter(F.col("s") != "")
        .select("doc_id", F.md5("s").alias("h"))
        .distinct()
    )
    freq = kept.groupBy("h").agg(F.count("*").alias("n_docs"))
    return (
        kept.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            F.count_if(F.col("n_docs") >= 2).cast("long").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_sentences",
            "n_shared",
            # integer half-up to 4 decimals (the r18 decimal-edge rule:
            # engines round edge doubles differently; int64 identical)
            F.expr(
                "CAST((20000 * n_shared + n_sentences)"
                " DIV (2 * n_sentences) AS DOUBLE) / 10000.0"
            ).alias("shared_ratio"),
        )
        .orderBy("doc_id")
    )
