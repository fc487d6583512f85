"""Shared near-dup building blocks used by multiple query modules.

This module registers NOTHING. It exists so ``graph.py`` / ``analytics.py``
can reuse the shingle machinery and the exact-Jaccard pair builder without
importing ``queries.dedup`` at module level — a cross-module import would
trigger dedup's registrations mid-family and scramble the registry order
that ``load_all`` deliberately controls (the driver's correctness harness
walks the registry in order under a budget).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinegraph_spark.operators.dedup import jaccard_pairs, shingles
from cinegraph_spark.operators.windowize import tokenize_whitespace
from cinegraph_spark.queries.util import T

#: shared shingle CTEs (dedup + graph-CC + portable-minhash oracles). The
#: ``rare`` filter mirrors operators/dedup.py's DEFAULT_MAX_SHINGLE_DF cap:
#: discovery Jaccard is computed over shingles appearing in ≤ 20 documents —
#: the scale contract that bounds the self-join fan-out at max_df² per
#: shingle. The list_filter in toks drops DuckDB's phantom '' token on empty
#: text.
SHINGLE_CTES = """
    toks AS (
      SELECT doc_id, list_filter(string_split_regex(
               regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
               t -> t <> '') AS tokens
      FROM documents
    ),
    sh_all AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(tokens) >= 8
                  THEN array_to_string(tokens[i : i + 7], ' ')
                  ELSE array_to_string(tokens, ' ') END AS shingle
      FROM toks, unnest(range(1, greatest(len(tokens) - 6, 2))) AS u(i)
      WHERE len(tokens) > 0
    ),
    rare AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 20),
    sh AS (SELECT sh_all.doc_id, sh_all.shingle
           FROM sh_all JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


def shingle_over_sql(src: str, toks: str = "toks_u", sh: str = "sh_u") -> str:
    """CTE text (to splice after a ``WITH``) that shingles an arbitrary
    ``(doc_id, text)`` relation ``src`` — same tokenizer and 8-token
    shingle construction as :data:`SHINGLE_CTES`, but parameterized so a
    query whose corpus is NOT the raw ``documents`` view (e.g. the
    incremental-dedup union of snapshot + incoming batch) can derive
    signatures from the frame it actually processes."""
    return f"""
    {toks} AS (
      SELECT doc_id, list_filter(string_split_regex(
               regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
               t -> t <> '') AS tokens
      FROM {src}
    ),
    {sh} AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(tokens) >= 8
                  THEN array_to_string(tokens[i : i + 7], ' ')
                  ELSE array_to_string(tokens, ' ') END AS shingle
      FROM {toks}, unnest(range(1, greatest(len(tokens) - 6, 2))) AS u(i)
      WHERE len(tokens) > 0
    )"""


def toks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, tokens) with the engine's whitespace tokenizer.

    The scan is spread across cores first (r19, guide §2.5): the corpus
    file is a single split locally, so the tokenize + shingle + minhash
    chains every consumer builds on this frame otherwise run on ONE
    task; hash-by-doc_id keeps per-doc work (and fold order)
    bit-identical."""
    from cinegraph_spark.queries.util import spread

    return spread(
        T(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select("doc_id", tokenize_whitespace(F.col("text")).alias("tokens"))


def ngram_jaccard_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-token-shingle Jaccard near-dup pairs (threshold 0.6) —
    candidate discovery through shared shingles, with the discovery-mode
    scale contract: shingles in more than DEFAULT_MAX_SHINGLE_DF (20)
    documents are excluded from pair discovery and set sizes, bounding the
    self-join fan-out at max_df² per shingle (on these fixtures max DF is 4,
    so the cap is a no-op on values — it exists so the same query survives
    a skewed 100 TB corpus). The unbounded-scale alternative path goes
    through LSH candidates (dedup_minhash_lsh_pairs))."""
    sh = shingles(toks_df(spark, sf_dir), "doc_id", "tokens", n=8)
    jp = jaccard_pairs(sh, "doc_id")
    return (
        jp.filter(F.col("jaccard") >= 0.6)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_common",
            F.round("jaccard", 4).alias("jaccard"),
        )
    )
