"""Round-3 analytics additions: cohort/retention, anomaly scoring, RFM
segmentation, nearest-tolerance as-of, max-inner-product search, data-mix
weighting, n-gram LM surprisal, deterministic corpus splits, and a fully
oracle-checked portable MinHash estimator.

Each query is a training-data-pipeline or product-analytics primitive the
reference's users would reach for next; all are expressed as declarative
DataFrame plans (Catalyst handles pushdown/pruning) and every one carries an
exact DuckDB oracle — including the MinHash estimator, which uses md5-based
permutations both engines compute identically (unlike the xxhash64-based
``dedup_minhash_lsh_pairs``, which is rows-only by necessity).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cinegraph_spark.operators.asof import asof_nearest
from cinegraph_spark.operators.dedup import shingles
from cinegraph_spark.queries import register
# neardup_common (not queries.dedup): a module-level import of dedup would
# register its queries mid-family and scramble the load_all ordering.
from cinegraph_spark.queries.neardup_common import (
    SHINGLE_CTES,
    ngram_jaccard_pairs_df,
    shingle_over_sql,
    toks_df,
)
from cinegraph_spark.queries.util import SCRAMBLE_SQL as _SCRAMBLE_SQL, scramble as _scramble
from cinegraph_spark.queries.util import (
    _ASOF_PURCHASE_CLICK_ORACLE,
    _RETENTION_COHORTS_ORACLE,
    T,
    dstr,
    r4,
    tstr,
)


@register(
    "events_retention_cohorts",
    _RETENTION_COHORTS_ORACLE,
    tags=("events", "retention", "cohort"),
)
def events_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-activity week,
    counted once per (cohort, weeks-since-cohort) cell — the standard
    retention triangle. Two shuffles, both on user_id (first-seen agg and
    the join back are co-partitioned, so Spark reuses the exchange); the
    final cell count is tiny. Week offsets divide day-diffs of two
    week-truncated dates, so they are integer-exact in both engines."""
    e = T(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        dstr(F.col("cohort_week")).alias("cohort_week"), "week_offset"
    ).agg(F.count("*").alias("n_users"))


@register(
    "events_anomaly_zscore_hourly",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT *,
             avg(n_events)        OVER (PARTITION BY event_type) AS mu,
             stddev_pop(n_events) OVER (PARTITION BY event_type) AS sd
      FROM hourly
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           n_events,
           round((n_events - mu) / sd, 4) AS z
    FROM stats
    WHERE sd > 0 AND abs((n_events - mu) / sd) >= 2
    """,
    tags=("events", "anomaly", "zscore"),
)
def events_anomaly_zscore_hourly(spark, sf_dir):
    """Rate-anomaly detection: hourly event counts per type, z-scored
    against that type's own mean/stddev (population), keeping |z| >= 2.
    Zero-variance types (every hourly count identical — e.g. a type seen
    in exactly one hour) are excluded BEFORE the division: a z-score is
    undefined there, and under Spark 4's ANSI default even double 0/0
    RAISES DIVIDE_BY_ZERO rather than yielding NaN, so the unguarded
    expression was a latent crash on any degenerate type.
    One count shuffle to ~types x hours rows, then an analytic window per
    type — the post-aggregation data is hours-bounded, so the window is
    cheap at any raw-event scale."""
    e = T(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type")
    return (
        hourly.withColumn("mu", F.avg("n_events").over(w))
        .withColumn("sd", F.stddev_pop("n_events").over(w))
        # the division lives INSIDE the when(): predicate pushdown may
        # merge filters and conjunct order is not short-circuit-guaranteed,
        # so a bare `/` after a sd>0 filter could still evaluate on a
        # zero-sd row; CaseWhen branches are lazily evaluated per row
        .withColumn(
            "z",
            F.when(
                F.col("sd") > 0,
                (F.col("n_events") - F.col("mu")) / F.col("sd"),
            ),
        )
        .filter(F.abs(F.col("z")) >= 2)
        .select(
            "event_type",
            tstr(F.col("h")).alias("hour_start"),
            "n_events",
            r4(F.col("z")).alias("z"),
        )
    )


@register(
    "events_user_rfm_segments",
    """
    WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
    per_user AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(max(ts) AS DATE),
                            CAST((SELECT ref_ts FROM ref) AS DATE)) AS BIGINT)
               AS r_days,
             count(*) AS freq,
             round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 4)
               AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id, r_days, freq, monetary,
           CAST(ntile(4) OVER (ORDER BY r_days, user_id) AS BIGINT)
             * 100
           + CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS BIGINT)
             * 10
           + CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
             AS rfm_code
    FROM per_user
    """,
    tags=("events", "rfm", "segmentation"),
)
def events_user_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-user recency (days since last event, vs the
    corpus max date), frequency, and purchase monetary value, each cut into
    ntile(4) quartiles and packed into a 3-digit code. Monetary is rounded
    BEFORE ranking so quartile order never depends on cross-engine
    last-ulp sums; every ntile ordering carries a user_id tiebreak. The
    per-user agg is one shuffle; the ntile windows are a global sort over
    the user dimension (bounded — at 100 TB of events this is still only
    one row per user; for an unbounded dimension you'd switch to
    approx-quantile cuts)."""
    e = T(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("ref_ts"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("freq"),
            r4(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                    F.lit(0.0),
                )
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.to_date("ref_ts"), F.to_date("last_ts"))
            .cast("long")
            .alias("r_days"),
            "freq",
            "monetary",
        )
    )
    r_q = F.ntile(4).over(Window.orderBy("r_days", "user_id"))
    f_q = F.ntile(4).over(Window.orderBy(F.desc("freq"), F.asc("user_id")))
    m_q = F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("user_id")))
    return per_user.select(
        "user_id",
        "r_days",
        "freq",
        "monetary",
        (r_q.cast("long") * 100 + f_q.cast("long") * 10 + m_q.cast("long")).alias(
            "rfm_code"
        ),
    )


@register(
    "events_asof_nearest_click",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts AS cts
          FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.purchase_id, p.user_id, p.ts, c.click_id,
             abs(epoch_us(p.ts) - epoch_us(c.cts)) AS diff_us,
             CASE WHEN c.cts <= p.ts THEN 0 ELSE 1 END AS dir
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.cts BETWEEN p.ts - INTERVAL '5 minutes'
                     AND p.ts + INTERVAL '5 minutes'
    ),
    best AS (
      SELECT *, row_number() OVER (
               PARTITION BY purchase_id
               ORDER BY diff_us, dir,
                        CASE WHEN dir = 0 THEN -click_id ELSE click_id END
             ) AS rn
      FROM cand
    )
    SELECT purchase_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           click_id AS nearest_click_id, diff_us,
           CASE WHEN dir = 0 THEN 'backward' ELSE 'forward' END AS direction
    FROM best WHERE rn = 1
    """,
    tags=("events", "asof", "nearest"),
)
def events_asof_nearest_click(spark, sf_dir):
    """Nearest-tolerance as-of: each purchase matched to the closest click
    by the same user within +/-5 minutes, either direction (pandas
    merge_asof(direction='nearest') semantics; equidistant ties prefer the
    backward match). The operator (operators/asof.py::asof_nearest) is the
    union + two-running-windows form — ONE shuffle on user_id, no range
    join, no per-purchase scan of clicks; the oracle uses the naive range
    join, which is fine for DuckDB at oracle scale but is exactly the
    explosion the operator avoids at 100 TB."""
    e = T(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = asof_nearest(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        left_id="event_id",
        right_id="click_id",
        tolerance_us=5 * 60 * 1_000_000,
    )
    # asof_nearest's right_id label: rename inputs so outputs align
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        tstr(F.col("ts")).alias("purchase_ts"),
        F.col("nearest_click_id"),
        "diff_us",
        "direction",
    )


_DV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

#: Character-bigram array of ``text``, O(len) per row (r19, guide §1.2
#: per-task work): the former ``transform(sequence(1, len-1),
#: i -> substring(text, i, 2))`` was O(len^2) per document — each
#: ``substring`` call linearly re-scans the UTF8 string to find the
#: code-point offset, which at sf1 (~800 chars/doc) made one explode
#: pass cost ~49 s on 32 cores. Splitting to a char array once and
#: zipping adjacent chars produces the identical array (verified
#: element-for-element over the whole sf1 corpus) in ~2.6 s.
#: ``zip_with`` pads the shorter side with NULL, so the trailing
#: ``concat(last_char, NULL)`` = NULL entry is trimmed by the outer
#: ``slice``; ``greatest(..., 0)`` keeps the expression total on
#: empty/1-char rows that a pushed-down filter may still evaluate.
_CHAR_BIGRAMS = (
    "slice(zip_with(split(text, ''),"
    " slice(split(text, ''), 2, greatest(length(text) - 1, 0)),"
    " (x, y) -> concat(x, y)), 1, greatest(length(text) - 1, 0))"
)


@register(
    "vec_mips_topk",
    f"""
    WITH q AS (SELECT {_DV} AS qv FROM embeddings WHERE vec_id = 1)
    SELECT vec_id, round(list_dot_product({_DV}, qv), 6) AS dot
    FROM embeddings, q
    WHERE vec_id <> 1
    ORDER BY dot DESC, vec_id LIMIT 10
    """,
    tags=("vector", "topk", "mips"),
)
def vec_mips_topk(spark, sf_dir):
    """Maximum-inner-product search (the retrieval scoring used when
    embeddings are trained un-normalized): brute-force dot-product top-10
    against one broadcast query vector. Same shape as the cosine baseline —
    map-only scan + TakeOrdered, no shuffle of the corpus."""
    from cinegraph_spark.functions import vector as V

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = e.filter(F.col("vec_id") == 1).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", F.round(V.dot(F.col("v"), F.col("qv")), 6).alias("dot")
        )
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "text_domain_mix_weights",
    """
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split_regex(
                 regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
                 t -> t <> '')) AS n_toks
      FROM documents
    ),
    per_src AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM per_src),
    dnm AS (SELECT sum(sqrt(n_tokens * 1.0 / t)) AS d FROM per_src, tot)
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / t, 6)            AS share,
           round(sqrt(n_tokens * 1.0 / t) / d, 6)  AS w_sqrt
    FROM per_src, tot, dnm
    """,
    tags=("textstats", "mixing", "llm-pipeline"),
)
def text_domain_mix_weights(spark, sf_dir):
    """Data-mixing weights per source domain: token share p_i and the
    temperature-scaled sampling weight p_i^0.5 / sum_j p_j^0.5 (alpha=0.5,
    the standard low-resource up-weighting used when composing training
    mixtures). One agg shuffle to ~|sources| rows; the global sums ride on
    two broadcast singletons."""
    from cinegraph_spark.operators.windowize import tokenize_whitespace

    d = T(spark, sf_dir, "documents").select(
        "source", F.size(tokenize_whitespace(F.col("text"))).alias("n_toks")
    )
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    tot = per_src.agg(F.sum("n_tokens").alias("t"))
    with_t = per_src.crossJoin(F.broadcast(tot))
    dnm = with_t.agg(
        F.sum(F.sqrt(F.col("n_tokens") / F.col("t"))).alias("d")
    )
    return (
        with_t.crossJoin(F.broadcast(dnm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("share"),
            F.round(
                F.sqrt(F.col("n_tokens") / F.col("t")) / F.col("d"), 6
            ).alias("w_sqrt"),
        )
    )


@register(
    "text_bigram_surprisal",
    """
    WITH bg AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bigram
      FROM documents, unnest(range(1, length(text))) AS u(i)
      WHERE length(text) >= 2
    ),
    cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    tot AS (SELECT sum(c) AS n FROM cnt)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-ln(c * 1.0 / n)), 4) AS avg_surprisal
    FROM bg JOIN cnt USING (bigram), tot
    GROUP BY doc_id
    """,
    tags=("textstats", "lm", "quality", "llm-pipeline"),
)
def text_bigram_surprisal(spark, sf_dir):
    """Character-bigram language-model surprisal per document: train bigram
    frequencies over the whole corpus, score each doc by its mean negative
    log-probability — the classic cheap fluency/quality signal (gibberish
    and boilerplate score as outliers). The n-gram LM shape at scale: the
    model (bigram->count) is aggregated once and BROADCAST back (the char-
    bigram vocabulary is alphabet^2-bounded), so scoring is a map-only pass
    over the exploded bigrams — no shuffle touches the corpus-sized side.
    (Measured, round 6: pre-aggregating the probe side to
    (doc, bigram, count) before the model join is SLOWER — 6.3 s vs 4.5 s
    at sf0.1 — because it trades a cheap broadcast-hash probe for a full
    shuffle of the near-occurrence-sized distinct set; the same holds at
    scale, so the map-only probe stays.)"""
    from cinegraph_spark.queries.util import spread

    # spread the single-split scan before the explode (r19, guide §2.5 —
    # same shape and fold-order argument as text_dsir_importance)
    d = spread(
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 2),
        "doc_id",
    )
    bg = d.select(
        "doc_id",
        F.explode(F.expr(_CHAR_BIGRAMS)).alias("bigram"),
    )
    # lazy localCheckpoint: the bigram model (alphabet^2-bounded, tiny) is
    # materialized once and feeds BOTH consumers (broadcast join + corpus
    # total) — without it Spark re-explodes the corpus a third time to
    # recompute the total from scratch.
    cnt = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        bg.join(F.broadcast(cnt), "bigram")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r4(F.avg(-F.log(F.col("c") / F.col("n")))).alias("avg_surprisal"),
        )
    )


@register(
    "sample_train_val_test_split",
    f"""
    SELECT CASE WHEN s < 800 THEN 'train'
                WHEN s < 900 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT)  AS min_doc_id,
           CAST(max(doc_id) AS BIGINT)  AS max_doc_id
    FROM (SELECT doc_id, n_chars, {_SCRAMBLE_SQL} AS s FROM documents)
    GROUP BY 1
    """,
    tags=("sampling", "split", "llm-pipeline"),
)
def sample_train_val_test_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split keyed on the content-id
    scramble (the same overflow-free multiplicative hash as the sampling
    family): re-partitioning, compaction, or engine changes never move a
    document across splits — the reproducibility property a training
    pipeline needs from its split step. Map-only scan + 3-row aggregate."""
    d = T(spark, sf_dir, "documents")
    s = _scramble(F.col("doc_id"))
    split = (
        F.when(s < 800, F.lit("train"))
        .when(s < 900, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


#: portable MinHash parameters: shingle -> 32-bit md5 prefix -> mod-prime
#: universe, then 16 affine permutations. Both engines compute md5 and the
#: integer arithmetic identically, so the estimator is exactly reproducible.
_MH_P = 1_000_003
_MH_PERMS = 16


def _mh_a(i: int) -> int:
    return 2 * i + 3


def _mh_b(i: int) -> int:
    return 997 * i + 1


def _portable_minhash_sigs(spark, sf_dir):
    """Per-doc portable MinHash signature (m0..m15): 8-token shingles with
    the discovery-mode DF cap (<= 20, mirroring the oracle's ``sh`` CTE),
    md5-prefix hashed into the mod-prime universe, 16 affine-permutation
    minima. Shared by the estimation audit and the incremental screen."""
    sh = shingles(toks_df(spark, sf_dir), "doc_id", "tokens", n=8)
    postings = sh.groupBy("shingle").agg(
        F.collect_list("doc_id").alias("ids")
    ).filter(F.size("ids") <= 20)
    capped = postings.select(
        F.explode("ids").alias("doc_id"), "shingle"
    )
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % _MH_P
    ).alias("h")
    hashed = capped.select("doc_id", h)
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_mh_a(i)) * F.col("h") + F.lit(_mh_b(i))) % _MH_P).alias(
                f"m{i}"
            )
            for i in range(_MH_PERMS)
        ]
    )


@register(
    "dedup_minhash_portable_est",
    f"""
    WITH {SHINGLE_CTES},
    exact AS (
      SELECT id_a, id_b,
             round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4)
               AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
               % {_MH_P} AS h
      FROM sh
    ),
    mins AS (
      SELECT doc_id,
             {", ".join(f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {_MH_P}) AS m{i}" for i in range(_MH_PERMS))}
      FROM hashed GROUP BY doc_id
    )
    SELECT e.id_a, e.id_b,
           round(({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_PERMS))})
                 / {_MH_PERMS}.0, 4) AS est_jaccard,
           e.jaccard
    FROM exact e
    JOIN mins a ON a.doc_id = e.id_a
    JOIN mins b ON b.doc_id = e.id_b
    """,
    tags=("dedup", "near-dup", "minhash", "portable"),
)
def dedup_minhash_portable_est(spark, sf_dir):
    """MinHash Jaccard ESTIMATION with a full cross-engine oracle: shingles
    hash through a 32-bit md5 prefix into a mod-prime universe, 16 affine
    permutations (a_i*h+b_i mod p) give the signature, and the estimate is
    the fraction of matching signature minima — reported side by side with
    exact Jaccard for every near-dup pair. The production LSH path
    (dedup_minhash_lsh_pairs) uses xxhash64 for speed and is rows-only
    checkable; THIS query pins the minhash math itself (permutation
    construction, per-doc minima, signature agreement) to an exact oracle.
    One agg per doc with map-side combine (16 mins), then a tiny pair join
    — the corpus-sized side never shuffles more than 16 longs per doc.

    The shingle subtree is deliberately recomputed for the signature and
    pair sides rather than localCheckpoint-staged: measured at sf0.1, the
    checkpoint's materialization barrier costs as much as the second
    tokenize+shingle pass (wide strings, map-only work), unlike the LSH
    query where THREE consumers amortize it."""
    sig = _portable_minhash_sigs(spark, sf_dir)
    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select(
        "id_a", "id_b", "jaccard"
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_MH_PERMS)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_MH_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MH_PERMS)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(_MH_PERMS)), 4).alias("est_jaccard"),
            "jaccard",
        )
    )


def _mh_band_sql(src: str, idc: str) -> str:
    """UNION ALL band projection for the incremental-screen oracle: band j
    keys on the concatenated minima m_{4j}..m_{4j+3}."""
    parts = [
        f"SELECT doc_id AS {idc}, {j} AS b, "
        f"concat_ws(':', {', '.join(f'm{4 * j + r}' for r in range(4))}) AS key "
        f"FROM {src}"
        for j in range(4)
    ]
    return " UNION ALL ".join(parts)


@register(
    "dedup_minhash_incremental_screen",
    f"""
    WITH {SHINGLE_CTES},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
               % {_MH_P} AS h
      FROM sh
    ),
    mins AS (
      SELECT doc_id,
             {", ".join(f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {_MH_P}) AS m{i}" for i in range(_MH_PERMS))}
      FROM hashed GROUP BY doc_id
    ),
    inc AS (SELECT * FROM mins WHERE doc_id % 3 = 0),
    snap AS (SELECT * FROM mins WHERE doc_id % 3 <> 0),
    bi AS ({_mh_band_sql("inc", "inc_id")}),
    bs AS ({_mh_band_sql("snap", "snap_id")}),
    cand AS (
      SELECT DISTINCT inc_id, snap_id
      FROM bi JOIN bs ON bi.b = bs.b AND bi.key = bs.key
    ),
    est AS (
      SELECT c.inc_id, c.snap_id,
             round(({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_PERMS))})
                   / {_MH_PERMS}.0, 4) AS est
      FROM cand c
      JOIN mins a ON a.doc_id = c.inc_id
      JOIN mins b ON b.doc_id = c.snap_id
    ),
    agg AS (
      SELECT inc_id, count(*) AS n_candidates, max(est) AS best_est
      FROM est GROUP BY inc_id
    )
    SELECT i.doc_id,
           CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
           coalesce(best_est, 0.0) + 0 AS best_est,
           CAST(coalesce(best_est, 0.0) >= 0.5 AS INT) AS flagged
    FROM inc i LEFT JOIN agg ON agg.inc_id = i.doc_id
    ORDER BY doc_id
    """,
    tags=("dedup", "near-dup", "minhash", "incremental", "llm-pipeline"),
)
def dedup_minhash_incremental_screen(spark, sf_dir):
    """Incremental-ingest NEAR-dup screen: split the corpus into a
    snapshot (doc_id % 3 != 0) and an incoming delivery (doc_id % 3 == 0),
    and screen every incoming document against the snapshot through
    banded MinHash LSH — 4 bands x 4 rows over the 16-permutation
    portable signature. A shared band key yields a candidate; candidates
    are scored by signature-match fraction; ``flagged`` marks incoming
    docs whose best estimate clears 0.5. The near-dup complement of
    ``dedup_incremental_vs_snapshot`` (which is exact-hash only).

    100 TB shape: signatures are 16 longs/doc (the corpus-sized side
    shuffles once to build them — in production the snapshot's signatures
    and band keys are persisted, so a delivery only hashes ITSELF and
    probes the band buckets); the band join touches only colliding keys,
    and only candidate pairs (LSH-bounded, capped upstream by the
    max-bucket rule of lsh_candidate_pairs at real scale) ever compute a
    signature comparison. No exact-Jaccard verification pass here by
    design — this is the cheap admission gate."""
    # FOUR consumers of the signature frame (incoming bands, snapshot
    # bands, and both sides of the candidate scoring join) — stage it once
    # or each consumer re-runs the shingle→posting→minima lineage (the
    # ≥3-consumer rule; 2-consumer recompute is a measured wash, see
    # dedup_minhash_portable_est's docstring)
    sig = _portable_minhash_sigs(spark, sf_dir).localCheckpoint(eager=False)
    inc = sig.filter(F.col("doc_id") % 3 == 0)
    snap = sig.filter(F.col("doc_id") % 3 != 0)

    def _bands(df, idc):
        return df.select(
            F.col("doc_id").alias(idc),
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"m{4 * j + r}").cast("string")
                                for r in range(4)
                            ],
                        )
                        for j in range(4)
                    ]
                )
            ).alias("b", "key"),
        )

    cand = (
        _bands(inc, "inc_id")
        .join(_bands(snap, "snap_id"), ["b", "key"])
        .select("inc_id", "snap_id")
        .distinct()
    )
    a = sig.select(
        F.col("doc_id").alias("inc_id"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_MH_PERMS)],
    )
    b = sig.select(
        F.col("doc_id").alias("snap_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_MH_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MH_PERMS)
    )
    est = (
        cand.join(a, "inc_id")
        .join(b, "snap_id")
        .select(
            "inc_id",
            F.round(matches / F.lit(float(_MH_PERMS)), 4).alias("est"),
        )
    )
    agg = est.groupBy("inc_id").agg(
        F.count("*").alias("n_candidates"), F.max("est").alias("best_est")
    )
    best = F.coalesce(F.col("best_est"), F.lit(0.0))
    return (
        inc.select("doc_id")
        .join(agg, F.col("doc_id") == F.col("inc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            (best + F.lit(0)).alias("best_est"),
            (best >= 0.5).cast("int").alias("flagged"),
        )
        .orderBy("doc_id")
    )


def _portable_minhash_sigs_from(docs: DataFrame) -> DataFrame:
    """CAPLESS portable MinHash signature over an arbitrary
    ``(doc_id, text)`` frame: every distinct 8-token shingle of the doc
    participates (no corpus-global DF cap), so the signature is a PURE
    per-document function — computable on any micro-batch slice of a
    stream with no corpus state, which the capped variant
    (:func:`_portable_minhash_sigs`) is not."""
    from cinegraph_spark.operators.windowize import tokenize_whitespace

    toks = docs.select(
        "doc_id", tokenize_whitespace(F.col("text")).alias("tokens")
    )
    sh = shingles(toks, "doc_id", "tokens", n=8)
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % _MH_P
    ).alias("h")
    return sh.select("doc_id", h).groupBy("doc_id").agg(
        *[
            F.min((F.lit(_mh_a(i)) * F.col("h") + F.lit(_mh_b(i))) % _MH_P).alias(
                f"m{i}"
            )
            for i in range(_MH_PERMS)
        ]
    )


def _mh_bands_df(sig: DataFrame, idc: str) -> DataFrame:
    """(doc_id, m0..m15) → (idc, b, key): 4 band keys per signature."""
    return sig.select(
        F.col("doc_id").alias(idc),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"m{4 * j + r}").cast("string")
                            for r in range(4)
                        ],
                    )
                    for j in range(4)
                ]
            )
        ).alias("b", "key"),
    )


def _neardup_gate(snap_bands: DataFrame, b_sig: DataFrame):
    """Build the per-batch admission-gate transform (batch docs frame →
    per-doc verdict frame) against a prepared snapshot index:
    ``snap_bands`` = (snap_id, b, key), ``b_sig`` = (snap_id, b0..b15).
    Module-level so the multi-batch disorder test drives the same code
    the registered query runs."""

    def gate(batch_docs: DataFrame) -> DataFrame:
        sig = _portable_minhash_sigs_from(batch_docs).localCheckpoint(
            eager=False
        )
        cand = (
            _mh_bands_df(sig, "inc_id")
            .join(snap_bands, ["b", "key"])
            .select("inc_id", "snap_id")
            .distinct()
        )
        a_sig = sig.select(
            F.col("doc_id").alias("inc_id"),
            *[F.col(f"m{i}").alias(f"a{i}") for i in range(_MH_PERMS)],
        )
        matches = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(_MH_PERMS)
        )
        est = (
            cand.join(a_sig, "inc_id")
            .join(b_sig, "snap_id")
            .select(
                "inc_id",
                F.round(matches / F.lit(float(_MH_PERMS)), 4).alias("est"),
            )
        )
        agg = est.groupBy("inc_id").agg(
            F.count("*").alias("n_candidates"), F.max("est").alias("best_est")
        )
        best = F.coalesce(F.col("best_est"), F.lit(0.0))
        return (
            sig.select("doc_id")
            .join(agg, F.col("doc_id") == F.col("inc_id"), "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_candidates"), F.lit(0))
                .cast("bigint")
                .alias("n_candidates"),
                (best + F.lit(0)).alias("best_est"),
                (best < 0.5).cast("int").alias("admitted"),
            )
        )

    return gate


@register(
    "pipeline_stream_neardup_gate",
    f"""
    WITH snap_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ),
    inc_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    {shingle_over_sql("snap_docs", "toks_s", "sh_s")},
    {shingle_over_sql("inc_docs", "toks_i", "sh_i")},
    hs AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
               % {_MH_P} AS h
      FROM sh_s
    ),
    hi AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
               % {_MH_P} AS h
      FROM sh_i
    ),
    ms AS (
      SELECT doc_id,
             {", ".join(f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {_MH_P}) AS m{i}" for i in range(_MH_PERMS))}
      FROM hs GROUP BY doc_id
    ),
    mi AS (
      SELECT doc_id,
             {", ".join(f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {_MH_P}) AS m{i}" for i in range(_MH_PERMS))}
      FROM hi GROUP BY doc_id
    ),
    bs AS ({_mh_band_sql("ms", "snap_id")}),
    bi AS ({_mh_band_sql("mi", "inc_id")}),
    cand AS (
      SELECT DISTINCT inc_id, snap_id
      FROM bi JOIN bs ON bi.b = bs.b AND bi.key = bs.key
    ),
    est AS (
      SELECT c.inc_id, c.snap_id,
             round(({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_PERMS))})
                   / {_MH_PERMS}.0, 4) AS est
      FROM cand c
      JOIN mi a ON a.doc_id = c.inc_id
      JOIN ms b ON b.doc_id = c.snap_id
    ),
    agg AS (
      SELECT inc_id, count(*) AS n_candidates, max(est) AS best_est
      FROM est GROUP BY inc_id
    )
    SELECT i.doc_id,
           CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
           coalesce(best_est, 0.0) + 0 AS best_est,
           CAST(coalesce(best_est, 0.0) < 0.5 AS INT) AS admitted
    FROM mi i LEFT JOIN agg ON agg.inc_id = i.doc_id
    ORDER BY doc_id
    """,
    tags=("pipeline", "streaming", "dedup", "near-dup", "llm-pipeline"),
)
def pipeline_stream_neardup_gate(spark, sf_dir):
    """STREAMING near-dup admission gate — the ingestion-time shape of
    the incremental screen: the incoming delivery (doc_id % 3 == 0)
    arrives as a REAL file-source stream; each micro-batch is screened
    inside ``foreachBatch`` against a build-once static index of the
    snapshot corpus (capless portable-MinHash signatures + 4×4 band
    keys, eagerly localCheckpoint-ed BEFORE the stream starts so no
    batch re-derives the snapshot lineage), and the per-document verdict
    drains through the idempotent batch-keyed parquet sink. ``admitted``
    marks documents whose best signature-match estimate stays under 0.5.

    Stream-safety is a THEOREM here, not luck: the capless signature is
    a pure per-document function (no corpus-global DF cap), so the gate
    verdict is identical under any micro-batch split of the delivery —
    pinned by the multi-batch disorder test in tests/test_streaming.py.
    The batch oracle (same SQL, no streaming) hash-matches only if the
    drain preserved exactly-once per-doc semantics.

    100 TB shape: the snapshot index is built once and persisted (here:
    checkpointed; production: a parquet/serving table, cf.
    hnsw_index_save); a delivery hashes ONLY ITSELF (map-side per doc),
    probes the band buckets, and scores the LSH-bounded candidates.

    NOT in the bench headline: the snapshot index build is ~6 s at sf0.1
    (the one-split documents scan — a local-fixture artifact), the same
    exclusion precedent as vec_ann_hnsw_knn's driver graph build; the
    gate's own per-batch work is ~1.7 s and the LSH shape is already
    benched via dedup_minhash_incremental_screen."""
    from cinegraph_spark.queries.util import T as _T
    from cinegraph_spark.session import scratch_dir
    from cinegraph_spark.streaming.windows import (
        read_documents_stream,
        run_availablenow_to_parquet,
    )

    docs = _T(spark, sf_dir, "documents").select("doc_id", "text")
    snap_sigs = _portable_minhash_sigs_from(
        docs.filter(F.col("doc_id") % 3 != 0)
    ).localCheckpoint(eager=True)
    snap_bands = _mh_bands_df(snap_sigs, "snap_id").localCheckpoint(eager=True)
    b_sig = snap_sigs.select(
        F.col("doc_id").alias("snap_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_MH_PERMS)],
    )

    gate = _neardup_gate(snap_bands, b_sig)

    incoming = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id", "text")
    out = run_availablenow_to_parquet(
        spark,
        incoming,
        scratch_dir("cg_neardup_gate_"),
        output_mode="append",
        transform=gate,
        # stateless stream (the gate runs inside foreachBatch): nothing
        # can emit by eviction
        final_no_data_batch=False,
    )
    return out.orderBy("doc_id")


#: portable-SimHash signature CTEs (expects a ``toks`` CTE in scope); shared
#: by the Hamming-audit and bucketed-LSH twins below.
_PSH_SIG_CTES = f"""
    th AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}" for j in range(32))}
      FROM th GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id,
             CAST({" + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))}
                  AS BIGINT) AS simhash
      FROM votes
    )
"""


def _portable_simhash_sigs(spark, sf_dir):
    """(doc_id, simhash): the 32-bit md5-prefix portable SimHash — per-token
    hashes vote +1/-1 per bit; sign of the vote sum packs into the
    fingerprint. One agg per doc with map-side combine (32 small ints)."""
    th = (
        toks_df(spark, sf_dir)
        .select("doc_id", F.explode("tokens").alias("tok"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"s{j}")
            for j in range(32)
        ]
    )
    simhash = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0) for j in range(32)
    ).cast("long")
    return votes.select("doc_id", simhash.alias("simhash"))


@register(
    "dedup_simhash_portable_hamming",
    f"""
    WITH {SHINGLE_CTES},
    exact AS (
      SELECT id_a, id_b,
             round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4)
               AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    {_PSH_SIG_CTES}
    SELECT e.id_a, e.id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
           e.jaccard
    FROM exact e
    JOIN sigs a ON a.doc_id = e.id_a
    JOIN sigs b ON b.doc_id = e.id_b
    """,
    tags=("dedup", "near-dup", "simhash", "portable"),
)
def dedup_simhash_portable_hamming(spark, sf_dir):
    """SimHash with a full cross-engine oracle: per-token 32-bit md5-prefix
    hashes vote +1/-1 on each bit position, the sign of the vote sum packs
    into a 32-bit fingerprint, and every exact near-dup pair is reported
    with the Hamming distance between its fingerprints (near-dups cluster
    at small distances — the property the production xxhash64-based
    dedup_simhash_buckets banks on but can only rows-check). One agg per
    doc with map-side combine (32 small ints); the fingerprint never
    shuffles more than one long per doc; the pair join is tiny."""
    sigs = _portable_simhash_sigs(spark, sf_dir)
    pairs = ngram_jaccard_pairs_df(spark, sf_dir).select("id_a", "id_b", "jaccard")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
            "jaccard",
        )
    )


@register(
    "dedup_simhash_portable_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(
               regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
               t -> t <> '') AS tokens
      FROM documents
    ),
    {_PSH_SIG_CTES},
    blocks AS (
      SELECT doc_id, simhash, k AS block_idx,
             (simhash >> (k * 8)) & 255 AS block
      FROM sigs, unnest([0, 1, 2, 3]) AS u(k)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM blocks a
      JOIN blocks b ON a.block_idx = b.block_idx AND a.block = b.block
                   AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sim_a, sim_b)) <= 6
    """,
    tags=("dedup", "near-dup", "simhash", "lsh", "portable"),
)
def dedup_simhash_portable_buckets(spark, sf_dir):
    """The production ``dedup_simhash_buckets`` LSH shape — block-index
    bucketing + within-bucket Hamming filter — rebuilt on the md5-portable
    32-bit SimHash so the *bucketing join itself* gets an exact cross-engine
    oracle (the xxhash64 variant can only rows-check). Blocks are the four
    8-bit slices of the fingerprint; docs sharing any slice become
    candidates (pigeonhole guarantees a shared block at Hamming ≤ 3; above
    that, recall degrades gracefully as differing bits spread over all four
    blocks — the standard block-LSH trade); candidates at Hamming ≤ 6 are
    reported. Same scale shape as the production tier: the only shuffle
    keys on (block_idx, block), never all-pairs."""
    sigs = _portable_simhash_sigs(spark, sf_dir)
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", k * 8).bitwiseAND(F.lit(0xFF))
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
    return (
        a.join(b, ["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


#: count-min sketch geometry: 4 md5-affine hash rows × 1024 buckets. Same
#: portable-hash family as the minhash estimator (a_j = 2j+3, b_j = 997j+1
#: mod 1000003), then mod the width. Integer-exact in both engines.
_CMS_D = 4
_CMS_W = 1024


def _cms_bucket_sql(h: str, j: int) -> str:
    return f"(({_mh_a(j)} * {h} + {_mh_b(j)}) % {_MH_P}) % {_CMS_W}"


@register(
    "sketch_countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(
               regexp_replace(text, '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g'), '[ \\t\\n\\r\\f]+'),
               t -> t <> '') AS tokens
      FROM documents
    ),
    tokh AS (
      SELECT tok, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM (SELECT unnest(tokens) AS tok FROM toks)
    ),
    perms(j) AS (VALUES {", ".join(f"({j})" for j in range(_CMS_D))}),
    cells AS (
      SELECT j, {_cms_bucket_sql('h', 0)} * 0 + CASE j
               {" ".join(f"WHEN {j} THEN {_cms_bucket_sql('h', j)}" for j in range(_CMS_D))}
             END AS bucket,
             count(*) AS cell_cnt
      FROM tokh, perms GROUP BY 1, 2
    ),
    exact AS (SELECT tok, min(h) AS h, count(*) AS exact_cnt
              FROM tokh GROUP BY tok),
    top20 AS (SELECT * FROM exact ORDER BY exact_cnt DESC, tok LIMIT 20),
    probe AS (
      SELECT t.tok, t.exact_cnt, p.j, CASE p.j
               {" ".join(f"WHEN {j} THEN {_cms_bucket_sql('t.h', j)}" for j in range(_CMS_D))}
             END AS bucket
      FROM top20 t, perms p
    )
    SELECT tok AS token, exact_cnt, min(cell_cnt) AS est_cnt
    FROM probe JOIN cells USING (j, bucket)
    GROUP BY tok, exact_cnt
    """,
    tags=("sketch", "countmin", "heavy-hitters"),
)
def sketch_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch with a full cross-engine oracle: the token stream
    folds into a 4×1024 cell table (one map-side-combinable agg — the
    sketch is 4 KB of state at ANY corpus size, the whole point), then the
    exact top-20 tokens are probed back through the sketch and reported
    with exact vs estimated counts (CMS guarantees est >= exact; integer
    arithmetic end-to-end, so the oracle match is exact, not rounded).
    At 100 TB the exact side is the expensive one — in production you keep
    only the sketch and probe candidate keys; the exact count here doubles
    as the accuracy ground truth."""
    tokh = (
        toks_df(spark, sf_dir)
        .select(F.explode("tokens").alias("tok"))
        .select(
            "tok",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )

    def bucket(h_col, j):
        return ((F.lit(_mh_a(j)) * h_col + F.lit(_mh_b(j))) % _MH_P) % _CMS_W

    cells = (
        tokh.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            bucket(F.col("h"), j).alias("bucket"),
                        )
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("s")
        )
        .select("s.j", "s.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cell_cnt"))
    )
    exact = tokh.groupBy("tok").agg(
        F.min("h").alias("h"), F.count("*").alias("exact_cnt")
    )
    top20 = exact.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(20)
    probe = top20.select(
        "tok",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        bucket(F.col("h"), j).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("s"),
    ).select("tok", "exact_cnt", "s.j", "s.bucket")
    return (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy(F.col("tok").alias("token"), "exact_cnt")
        .agg(F.min("cell_cnt").alias("est_cnt"))
    )


@register(
    "events_session_paths_topk",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS rn
      FROM numbered
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 3
      GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
    tags=("events", "session", "funnel", "path"),
)
def events_session_paths_topk(spark, sf_dir):
    """Top-10 session opening paths: sessionize (30-min gap), take each
    session's first 3 event types in time order, count path frequencies —
    the 'how do users start a session' product question. Ordered
    aggregation inside a group is done with sort_array over
    (ts, event_id, type) structs (deterministic — collect_list alone has
    no order guarantee); everything shuffles on user_id once, then on the
    tiny path strings."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)")
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = ordered.withColumn("session_id", F.sum("new_session").over(wsum))
    wrank = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    head3 = numbered.withColumn("rn", F.row_number().over(wrank)).filter(
        F.col("rn") <= 3
    )
    paths = head3.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


@register(
    "text_dsir_importance",
    """
    WITH bg AS (
      SELECT doc_id, source, substr(text, CAST(i AS INTEGER), 2) AS bigram
      FROM documents, unnest(range(1, length(text))) AS u(i)
      WHERE length(text) >= 2
    ),
    corpus AS (SELECT bigram, count(*) AS c_c FROM bg GROUP BY bigram),
    target AS (SELECT bigram, count(*) AS c_t FROM bg
               WHERE source = 'src0' GROUP BY bigram),
    consts AS (
      SELECT (SELECT sum(c_c) FROM corpus)                    AS n_c,
             (SELECT count(*) FROM corpus)                    AS v,
             (SELECT coalesce(sum(c_t), 0) FROM target)       AS n_t
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(  ln(coalesce(c_t, 0) + 1.0) - ln(n_t + v)
                     - ln(c_c + 1.0)              + ln(n_c + v)), 4) + 0
             AS dsir_score
    FROM bg
    JOIN corpus USING (bigram)
    LEFT JOIN target USING (bigram)
    CROSS JOIN consts
    GROUP BY doc_id
    """,
    tags=("textstats", "dsir", "importance", "llm-pipeline"),
)
def text_dsir_importance(spark, sf_dir):
    """DSIR-style importance weighting (data selection for a target
    domain): score every document by the mean log-likelihood ratio of its
    char bigrams under an add-1-smoothed target-domain LM (docs from
    source 'src0') vs the whole-corpus LM. High scores = looks like the
    target domain; the standard cheap re-weighting signal when composing a
    training mixture toward a domain. Both LMs are alphabet^2-bounded
    count tables — broadcast; scoring is one map-only pass over the
    exploded bigrams, the same 100 TB shape as text_bigram_surprisal
    (whose round-6 measurement also applies here: pre-aggregating the
    probe side trades the cheap broadcast probe for a full shuffle and
    loses)."""
    from cinegraph_spark.queries.util import spread

    # spread the single-split scan before the bigram explode (r19, guide
    # §2.5) — the explode + both partial aggregations otherwise run on
    # one task at any core count; hash-by-doc_id keeps each doc's
    # bigrams whole, so the per-doc avg's fold order is unchanged
    d = spread(
        T(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.length("text") >= 2),
        "doc_id",
    )
    bg = d.select(
        "doc_id",
        "source",
        F.explode(F.expr(_CHAR_BIGRAMS)).alias("bigram"),
    )
    # BOTH LMs in one aggregation over one explode pass (r18, guide §2.3):
    # the target counts are a count_if over the same grouped bigrams, so
    # the pre-r18 separate target aggregation (a second full corpus
    # explode) and its extra broadcast join disappear. A bigram absent
    # from the target LM gets c_t = 0, exactly what the former LEFT join's
    # coalesce(c_t, 0) produced, so the add-1-smoothed llr is unchanged.
    corpus = (
        bg.groupBy("bigram")
        .agg(
            F.count("*").alias("c_c"),
            F.count_if(F.col("source") == "src0").alias("c_t"),
        )
        .localCheckpoint(eager=False)  # feeds the join AND the constants
    )
    consts = corpus.agg(
        F.sum("c_c").alias("n_c"),
        F.count("*").alias("v"),
        F.sum("c_t").alias("n_t"),
    )
    llr = (
        F.log(F.col("c_t") + 1.0)
        - F.log(F.col("n_t") + F.col("v"))
        - F.log(F.col("c_c") + 1.0)
        + F.log(F.col("n_c") + F.col("v"))
    )
    return (
        bg.join(F.broadcast(corpus), "bigram")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r4(F.avg(llr)).alias("dsir_score"),
        )
    )


@register(
    "join_lateral_top2_customers_per_nation",
    """
    SELECT n.n_name AS nation, t.c_custkey AS custkey, t.c_acctbal AS acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
    tags=("join", "lateral", "topk"),
)
def join_lateral_top2_customers_per_nation(spark, sf_dir):
    """Correlated LATERAL subquery via the DataFrame lateralJoin API
    (Spark 4): for each nation, its top-2 customers by account balance.
    Catalyst decorrelates the ORDER BY ... LIMIT subquery into a
    partitioned top-k — same physical work as the window-rank idiom, but
    exercising the lateral-join surface a SQL user migrating from the
    reference's Postgres (JOIN LATERAL) would reach for."""
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("n_nationkey").outer() == F.col("c_nationkey"))
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return n.lateralJoin(top2).select(
        F.col("n_name").alias("nation"),
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
    )


@register(
    "events_value_ewma_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS dv
      FROM events GROUP BY 1, 2
    ),
    rn AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    acc AS (
      SELECT *, sum(dv * pow(1.0/0.7, rn) * CASE WHEN rn = 1 THEN 1 ELSE 0.3 END)
                  OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS s
      FROM rn
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(dv, 4) AS daily_value,
           round(pow(0.7, rn) * s, 4) AS ewma
    FROM acc
    """,
    tags=("events", "timeseries", "ewma"),
)
def events_value_ewma_daily(spark, sf_dir):
    """Exponentially weighted moving average (alpha=0.3, pandas
    adjust=False semantics: y_1 = x_1, y_t = 0.7*y_{t-1} + 0.3*x_t) of
    daily value totals per event type. The recursion is re-expressed as a
    single window prefix-sum via the standard exp-rescaling trick
    (y_t = 0.7^t * sum_i x_i * 0.7^{-i} * w_i), so a 'sequential'
    time-series smoother runs as one partitioned window — no UDF, no
    iteration. The rescaled terms stay finite because the grain is daily
    (0.7^-30 ~ 4e4); for long series you'd chunk the window or switch to a
    log-domain form."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("dv"))
    w = Window.partitionBy("event_type").orderBy("day")
    rn = daily.withColumn("rn", F.row_number().over(w))
    term = (
        F.col("dv")
        * F.pow(F.lit(1.0) / F.lit(0.7), F.col("rn"))
        * F.when(F.col("rn") == 1, 1.0).otherwise(0.3)
    )
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acc = rn.withColumn("s", F.sum(term).over(ws))
    return acc.select(
        "event_type",
        dstr(F.col("day")).alias("day"),
        r4(F.col("dv")).alias("daily_value"),
        r4(F.pow(F.lit(0.7), F.col("rn")) * F.col("s")).alias("ewma"),
    )


@register(
    "events_asof_cogroup_pandas",
    _ASOF_PURCHASE_CLICK_ORACLE,
    tags=("events", "asof", "cogroup", "pandas-udf"),
)
def events_asof_cogroup_pandas(spark, sf_dir):
    """The SAME as-of semantics as events_asof_purchase_click, but through
    the cogrouped-applyInPandas surface: both sides group by user, Spark
    shuffles each user's purchases and clicks to one Arrow batch pair, and
    pandas merge_asof runs per group. Three independent implementations of
    one operator now cross-check each other — the JVM union+window
    operator, this pandas kernel, and the DuckDB QUALIFY'd range join.
    The cogroup shuffle is the same single user_id exchange the JVM form
    pays; Python cost is per-group Arrow batches (fine when groups fit in
    memory — per-user event history does; use the JVM operator otherwise)."""
    import pandas as pd

    from cinegraph_spark.session import ensure_shipped

    ensure_shipped(spark)
    e = T(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        "value",
    )

    def kernel(lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        if len(lp) == 0:
            return pd.DataFrame(
                {
                    "event_id": pd.Series([], dtype="int64"),
                    "user_id": pd.Series([], dtype="int64"),
                    "purchase_ts": pd.Series([], dtype="object"),
                    "asof_click_id": pd.Series([], dtype="Int64"),
                    "asof_click_value": pd.Series([], dtype="Float64"),
                }
            )
        lp = lp.sort_values(["ts", "event_id"])
        # secondary sort on click_id: merge_asof backward takes the LAST
        # right row at equal ts, so ascending id = largest-id tiebreak,
        # matching the JVM operator and the oracle
        rp = rp.sort_values(["ts", "click_id"]).drop(columns=["user_id"])
        m = pd.merge_asof(lp, rp, on="ts", direction="backward")
        return pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "purchase_ts": m["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "asof_click_id": m["click_id"].astype("Int64"),
                "asof_click_value": m["value"].astype("Float64"),
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            kernel,
            "event_id long, user_id long, purchase_ts string, "
            "asof_click_id long, asof_click_value double",
        )
    )


@register(
    "events_rolling_1h_range_frame",
    """
    SELECT event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           n_in_hour,
           round(sum_in_hour, 4) AS sum_in_hour
    FROM (
      SELECT event_id, event_type, ts,
             count(*) OVER w AS n_in_hour,
             sum(value) OVER w AS sum_in_hour
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    """,
    tags=("events", "window", "range-frame", "rolling"),
)
def events_rolling_1h_range_frame(spark, sf_dir):
    """Rolling one-hour window per event: for each event, the count and
    value sum of same-type events in the trailing hour — a TIME-range
    window frame (RANGE BETWEEN over epoch microseconds), the sliding-by-
    event cousin of the fixed-grid tumbling/sliding windows. One shuffle
    on event_type; the frame is evaluated by the window operator's
    running-frame scan, never a self-join. Note the frame orders by the
    numeric epoch so both engines share exact integer frame-boundary
    semantics (an event exactly 1 h older is IN the frame)."""
    e = T(spark, sf_dir, "events")
    epoch = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(epoch)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        tstr(F.col("ts")).alias("ts_s"),
        F.count("*").over(w).alias("n_in_hour"),
        r4(F.sum("value").over(w)).alias("sum_in_hour"),
    )


#: portable HyperLogLog geometry: m = 64 registers (p = 6 index bits) over
#: the 32-bit md5-prefix hash, leaving 26 rank bits. alpha_64 = 0.709 per
#: Flajolet et al.; the small-range (linear-counting) correction applies
#: below 2.5*m when empty registers remain. Same portable-hash family as the
#: minhash estimator, so both engines reproduce the sketch bit-for-bit.
_HLL_M = 64
_HLL_P = 6
_HLL_RANK_BITS = 32 - _HLL_P
_HLL_ALPHA = 0.709

_HLL_RHO_SQL = "CASE " + " ".join(
    f"WHEN (w >> {_HLL_RANK_BITS - 1 - k}) & 1 = 1 THEN {k + 1}"
    for k in range(_HLL_RANK_BITS)
) + f" ELSE {_HLL_RANK_BITS + 1} END"


@register(
    "sketch_hll_distinct_users",
    f"""
    WITH hashed AS (
      SELECT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h % {_HLL_M} AS reg, {_HLL_RHO_SQL} AS rho
      FROM (SELECT event_type, h, h >> {_HLL_P} AS w FROM hashed)
    ),
    registers AS (
      SELECT event_type, reg, max(rho) AS mr
      FROM ranked GROUP BY 1, 2
    ),
    folded AS (
      SELECT event_type,
             {_HLL_M} - count(*) AS v_empty,
             sum(pow(2.0, -mr)) + ({_HLL_M} - count(*)) AS z
      FROM registers GROUP BY event_type
    ),
    est AS (
      SELECT event_type, v_empty,
             CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / z <= 2.5 * {_HLL_M}
                       AND v_empty > 0
                  THEN {_HLL_M} * ln({_HLL_M} * 1.0 / v_empty)
                  ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / z END AS e
      FROM folded
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT event_type, exact_users, round(e, 4) AS est_users, v_empty
    FROM est JOIN exact USING (event_type)
    """,
    tags=("sketch", "hll", "distinct", "portable"),
)
def sketch_hll_distinct_users(spark, sf_dir):
    """Portable HyperLogLog distinct-user estimate per event type, with a
    full cross-engine oracle: each user hashes through the 32-bit md5
    prefix, the low p=6 bits pick one of m=64 registers, and the register
    keeps the max leading-zero rank of the remaining 26 bits (an exact
    integer CASE chain — no float log2 at the bit boundary). The estimate
    is the standard alpha_m * m^2 / sum(2^-M_j) harmonic mean with the
    linear-counting small-range correction, reported beside the exact
    distinct count. The sketch state is types x 64 small ints REGARDLESS of
    corpus size — one map-side-combinable agg, no distinct shuffle of raw
    keys — which is the whole point at 100 TB; the exact count here is the
    accuracy ground truth (the expensive side that production drops).
    Spark's built-in approx_count_distinct is the JVM-native equivalent but
    its Datasketches binary is not reproducible in DuckDB, hence this
    portable twin (same rationale as dedup_minhash_portable_est)."""
    e = T(spark, sf_dir, "events").select("event_type", "user_id")
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h")
    )
    hashed = e.select("event_type", h)
    ranked = hashed.select(
        "event_type",
        (F.col("h") % _HLL_M).alias("reg"),
        F.shiftright("h", _HLL_P).alias("w"),
    )
    rho = F.when(
        F.shiftright("w", _HLL_RANK_BITS - 1).bitwiseAND(F.lit(1)) == 1, 1
    )
    for k in range(1, _HLL_RANK_BITS):
        rho = rho.when(
            F.shiftright("w", _HLL_RANK_BITS - 1 - k).bitwiseAND(F.lit(1)) == 1,
            k + 1,
        )
    rho = rho.otherwise(_HLL_RANK_BITS + 1)
    registers = (
        ranked.select("event_type", "reg", rho.alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    folded = registers.groupBy("event_type").agg(
        (F.lit(_HLL_M) - F.count("*")).alias("v_empty"),
        (
            F.sum(F.pow(F.lit(2.0), -F.col("mr"))) + (F.lit(_HLL_M) - F.count("*"))
        ).alias("z"),
    )
    e_raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("z")
    est = folded.select(
        "event_type",
        "v_empty",
        F.when(
            (e_raw <= 2.5 * _HLL_M) & (F.col("v_empty") > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v_empty")),
        )
        .otherwise(e_raw)
        .alias("e"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_users", r4(F.col("e")).alias("est_users"), "v_empty"
    )


@register(
    "agg_regr_corr_stats",
    """
    SELECT l_returnflag,
           regr_count(l_extendedprice, l_quantity) AS n,
           round(corr(l_quantity, l_extendedprice), 4)           AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4)     AS covar_s,
           round(covar_pop(l_quantity, l_extendedprice), 4)      AS covar_p,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4)        AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "regression", "correlation"),
)
def agg_regr_corr_stats(spark, sf_dir):
    """Bivariate statistical aggregates — Pearson correlation, sample and
    population covariance, and the OLS regression family (slope, intercept,
    R^2, pair count) of extended price on quantity per return flag. All are
    single-pass moment aggregates with map-side partial merge (JVM codegen,
    no window, no second scan), the distributed-statistics idiom that
    replaces any collect-and-fit loop. Both engines use the co-moment
    merge formula; last-ulp summation drift is absorbed by round-to-4."""
    li = T(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(p, q).alias("n"),
        r4(F.corr(q, p)).alias("corr_qty_price"),
        r4(F.covar_samp(q, p)).alias("covar_s"),
        r4(F.covar_pop(q, p)).alias("covar_p"),
        r4(F.regr_slope(p, q)).alias("slope"),
        r4(F.regr_intercept(p, q)).alias("intercept"),
        r4(F.regr_r2(p, q)).alias("r2"),
    )


#: interval-overlap bucketing: intervals are [ts, ts + 5 min); the bin width
#: equals the interval length, so every interval touches at most 2 bins and
#: each event replicates at most 2x into the bucketed join.
_OVL_US = 300_000_000
#: per-(user, bin) co-activity cap — the burst guard (r17): only the
#: _OVL_CAP earliest event_ids of a (user, bin) bucket enter pair
#: discovery, bounding the self-join at cap² per bucket however bursty
#: the stream (an sf1 time-burst fixture hit 1460 co-active events in one
#: bucket → 2.1M pairs from ONE key). Same contract family as the shingle
#: max-DF and LSH bucket caps; on the driver fixtures max co-activity is
#: 3, so the cap is value-neutral there.
_OVL_CAP = 64


@register(
    "events_interval_overlap_pairs",
    f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS ep FROM events
    ),
    binned AS (
      SELECT user_id, event_id, ep, u.bin
      FROM pts, unnest(list_distinct([ep // {_OVL_US},
                                      (ep + {_OVL_US - 1}) // {_OVL_US}]))
           AS u(bin)
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, bin
                                     ORDER BY event_id) AS rn
        FROM binned
      ) WHERE rn <= {_OVL_CAP}
    )
    SELECT DISTINCT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           {_OVL_US} - abs(a.ep - b.ep) AS overlap_us
    FROM capped a JOIN capped b
      ON a.user_id = b.user_id AND a.bin = b.bin
     AND a.event_id < b.event_id
     AND abs(a.ep - b.ep) < {_OVL_US}
    """,
    tags=("events", "range-join", "interval", "overlap"),
)
def events_interval_overlap_pairs(spark, sf_dir):
    """Interval-overlap self-join (range join): pairs of same-user events
    whose five-minute activity intervals [ts, ts+5min) overlap, with the
    overlap length in microseconds. Each interval maps to the 1-2 time
    bins it touches (bin width == interval length, exact integer division
    on epoch microseconds), the self-join runs equi-keyed on
    (user_id, bin) — an ordinary hash shuffle join, never a
    broadcast-nested-loop over the corpus — and a pair found in both
    shared bins dedups through DISTINCT. Discovery is CAPPED at the
    ``_OVL_CAP`` earliest event_ids per (user, bin): true overlap-pair
    output is inherently quadratic in burst co-activity, so an uncapped
    run of this query on one hot hour melts however it is planned — the
    cap bounds fan-out at cap² per bucket, the same scale contract as
    the shingle max-DF and LSH bucket caps (r17 sf1 burst fixture;
    value-neutral on the driver fixtures, max co-activity 3). The oracle
    mirrors the bin+cap construction exactly."""
    e = T(spark, sf_dir, "events")
    ep = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    binned = (
        e.select("user_id", "event_id", ep.alias("ep"))
        .select(
            "user_id",
            "event_id",
            "ep",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr(f"ep div {_OVL_US}"),
                        F.expr(f"(ep + {_OVL_US - 1}) div {_OVL_US}"),
                    )
                )
            ).alias("bin"),
        )
    )
    capped = (
        binned.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "bin").orderBy("event_id")
            ),
        )
        .filter(F.col("rn") <= _OVL_CAP)
        .drop("rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .where(F.abs(F.col("a.ep") - F.col("b.ep")) < _OVL_US)
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            (F.lit(_OVL_US) - F.abs(F.col("a.ep") - F.col("b.ep"))).alias(
                "overlap_us"
            ),
        )
        .distinct()
    )


@register(
    "events_scd2_user_state",
    """
    SELECT user_id, event_type, value AS state_value,
           row_number() OVER w AS version,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           lead(epoch_us(ts)) OVER w - epoch_us(ts) AS duration_us,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    """,
    tags=("events", "scd2", "history", "window"),
)
def events_scd2_user_state(spark, sf_dir):
    """Slowly-changing-dimension type-2 history build: each event sets the
    (user, type) state, and consecutive events close each other's validity
    interval — version number, [valid_from, valid_to) bounds, interval
    duration, and an is_current flag for the open row. This is the standard
    lead()-over-change-stream rewrite of a MERGE-based SCD2 load: one
    shuffle on the (user, type) key, no self-join, no driver loop, and at
    any scale the state per key is the window operator's sorted run, not
    accumulated memory. ts ties break on event_id so intervals are
    deterministic; durations are integer microseconds (no cross-engine
    date_diff boundary-counting semantics)."""
    e = T(spark, sf_dir, "events")
    ep = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_type",
        F.col("value").alias("state_value"),
        F.row_number().over(w).alias("version"),
        tstr(F.col("ts")).alias("valid_from"),
        tstr(F.lead("ts").over(w)).alias("valid_to"),
        (F.lead(ep).over(w) - ep).alias("duration_us"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "join_merge_cdc_customer_orders",
    """
    WITH base AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < DATE '1997-01-01')
      WHERE rn = 1
    ),
    delta AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate >= DATE '1997-01-01')
      WHERE rn = 1
    )
    SELECT coalesce(b.o_custkey, d.o_custkey) AS custkey,
           CASE WHEN d.o_custkey IS NULL THEN 'carry'
                WHEN b.o_custkey IS NULL THEN 'insert'
                ELSE 'update' END AS action,
           coalesce(d.o_orderkey, b.o_orderkey) AS cur_orderkey,
           strftime(coalesce(d.o_orderdate, b.o_orderdate), '%Y-%m-%d')
             AS cur_orderdate,
           round(coalesce(d.o_totalprice, b.o_totalprice), 4) AS cur_totalprice
    FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
    """,
    tags=("join", "merge", "cdc", "upsert"),
)
def join_merge_cdc_customer_orders(spark, sf_dir):
    """CDC MERGE as a declarative plan: the pre-1997 latest order per
    customer is the base snapshot, 1997+ orders are the change stream, and
    the merged current state labels every key insert / update / carry —
    the read-side semantics of MERGE INTO (the write-side keyed-idempotency
    twin is operators/incremental.py::append_new_keys). Both sides reduce
    to one row per key BEFORE the full-outer join (row_number with a
    deterministic (date, orderkey) tiebreak), so the join is key-to-key —
    never a fan-out — and the two window shuffles plus the join all share
    the o_custkey partitioning, which Spark reuses as one exchange. At
    100 TB the delta side is incremental-batch-sized and broadcasts."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def latest(side):
        return (
            side.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        )

    cut = F.lit("1997-01-01").cast("date")
    base = latest(o.filter(F.col("o_orderdate") < cut))
    delta = latest(o.filter(F.col("o_orderdate") >= cut))
    b, d = base.alias("b"), delta.alias("d")
    return b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer").select(
        F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias("custkey"),
        F.when(F.col("d.o_custkey").isNull(), "carry")
        .when(F.col("b.o_custkey").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
        F.coalesce(F.col("d.o_orderkey"), F.col("b.o_orderkey")).alias(
            "cur_orderkey"
        ),
        dstr(F.coalesce(F.col("d.o_orderdate"), F.col("b.o_orderdate"))).alias(
            "cur_orderdate"
        ),
        r4(F.coalesce(F.col("d.o_totalprice"), F.col("b.o_totalprice"))).alias(
            "cur_totalprice"
        ),
    )


#: incremental-dedup banding: 4 bands x 4 rows over the 16 portable minima;
#: near-dup verification threshold: >= 8/16 matching minima (est >= 0.5).
_INC_BANDS = 4
_INC_ROWS = 4
_INC_MIN_MATCHES = 8


def _inc_band_join_sql(b: int) -> str:
    eqs = " AND ".join(
        f"i.m{b * _INC_ROWS + r} = s.m{b * _INC_ROWS + r}"
        for r in range(_INC_ROWS)
    )
    return (
        f"SELECT i.doc_id AS inc_id, s.doc_id AS snap_id "
        f"FROM inc_sigs i JOIN snap_sigs s ON {eqs}"
    )


@register(
    "dedup_incremental_vs_snapshot",
    f"""
    WITH snapshot AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0
    ),
    exact AS (
      SELECT DISTINCT i.doc_id FROM incoming i
      JOIN snapshot s ON md5(i.text) = md5(s.text)
    ),
    all_docs AS (
      SELECT doc_id, text FROM snapshot
      UNION ALL
      SELECT doc_id, text FROM incoming
    ),
    {shingle_over_sql("all_docs")},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
               % {_MH_P} AS h
      FROM sh_u
    ),
    mins AS (
      SELECT doc_id,
             {", ".join(f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {_MH_P}) AS m{i}" for i in range(_MH_PERMS))}
      FROM hashed GROUP BY doc_id
    ),
    snap_sigs AS (SELECT * FROM mins WHERE doc_id % 3 = 0),
    inc_sigs  AS (SELECT * FROM mins WHERE doc_id % 3 <> 0),
    cands AS (
      {" UNION ".join(_inc_band_join_sql(b) for b in range(_INC_BANDS))}
    ),
    near AS (
      SELECT DISTINCT c.inc_id AS doc_id
      FROM cands c
      JOIN inc_sigs a ON a.doc_id = c.inc_id
      JOIN snap_sigs b ON b.doc_id = c.snap_id
      WHERE ({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_PERMS))})
            >= {_INC_MIN_MATCHES}
    )
    SELECT i.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status
    FROM incoming i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
    tags=("dedup", "incremental", "minhash", "llm-pipeline", "portable"),
)
def dedup_incremental_vs_snapshot(spark, sf_dir):
    """Incremental ingestion dedup — the shape a production pipeline runs
    every batch: new documents are checked against the ALREADY-INGESTED
    corpus snapshot, never against each other (self-dedup is a separate,
    earlier pass). Tier 1: exact md5 match against the snapshot. Tier 2:
    portable-MinHash band buckets joined CROSS-SET only (incoming bands x
    snapshot bands — the candidate join never pairs two incoming or two
    snapshot docs), verified at >= 8/16 matching minima. Every incoming doc
    gets a status: exact_dup / near_dup / novel. At 100 TB the snapshot
    side is signatures only (16 longs/doc, not text), the band join is the
    only shuffle, and a growing corpus amortizes: each batch compares
    against signatures, not re-shingled text. Fixture: docs with id%3=0
    form the snapshot; copies of them (id+10000) are injected into the
    incoming batch so all three statuses occur. Signatures are derived
    from the snapshot∪incoming union (the frames the query actually
    processes), so injected docs are near-dup-classifiable in their own
    right — they report exact_dup only because that tier wins the CASE,
    not because the near-dup tier can't see them."""
    from cinegraph_spark.operators.windowize import tokenize_whitespace

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    snapshot = d.filter(F.col("doc_id") % 3 == 0)
    incoming = d.filter(F.col("doc_id") % 3 != 0).unionByName(
        snapshot.select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    snap_md5 = snapshot.select(F.md5("text").alias("_h")).distinct()
    exact = (
        incoming.withColumn("_h", F.md5("text"))
        .join(F.broadcast(snap_md5), "_h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    all_docs = snapshot.unionByName(incoming)
    toks = all_docs.select(
        "doc_id", tokenize_whitespace(F.col("text")).alias("tokens")
    )
    sh = shingles(toks, "doc_id", "tokens", n=8)
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % _MH_P
    ).alias("h")
    sig = (
        sh.select("doc_id", h)
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(_mh_a(i)) * F.col("h") + F.lit(_mh_b(i))) % _MH_P
                ).alias(f"m{i}")
                for i in range(_MH_PERMS)
            ]
        )
        .localCheckpoint(eager=False)  # feeds 2x4 band joins + verification
    )
    snap_sigs = sig.filter(F.col("doc_id") % 3 == 0)
    inc_sigs = sig.filter(F.col("doc_id") % 3 != 0)
    cands = None
    for b in range(_INC_BANDS):
        cols = [f"m{b * _INC_ROWS + r}" for r in range(_INC_ROWS)]
        i_side = inc_sigs.select(F.col("doc_id").alias("inc_id"), *cols)
        s_side = snap_sigs.select(F.col("doc_id").alias("snap_id"), *cols)
        piece = i_side.join(s_side, cols).select("inc_id", "snap_id")
        cands = piece if cands is None else cands.unionByName(piece)
    cands = cands.distinct()
    a = inc_sigs.select(
        F.col("doc_id").alias("inc_id"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_MH_PERMS)],
    )
    bb = snap_sigs.select(
        F.col("doc_id").alias("snap_id"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_MH_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MH_PERMS)
    )
    near = (
        cands.join(a, "inc_id")
        .join(bb, "snap_id")
        .filter(matches >= _INC_MIN_MATCHES)
        .select(F.col("inc_id").alias("doc_id"))
        .distinct()
    )
    return incoming.select("doc_id").join(
        F.broadcast(exact.withColumn("_e", F.lit(True))), "doc_id", "left"
    ).join(
        F.broadcast(near.withColumn("_n", F.lit(True))), "doc_id", "left"
    ).select(
        "doc_id",
        F.when(F.col("_e"), F.lit("exact_dup"))
        .when(F.col("_n"), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("status"),
    )


@register(
    "events_scd2_point_in_time",
    """
    WITH dim AS (
      SELECT user_id, value AS state_value,
             row_number() OVER w AS state_version,
             ts AS valid_from, lead(ts) OVER w AS valid_to
      FROM events WHERE event_type = 'view'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    fact AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id AS purchase_id, f.user_id,
           epoch_us(f.ts) AS purchase_ts_us,
           d.state_version, d.state_value
    FROM fact f LEFT JOIN dim d
      ON d.user_id = f.user_id AND d.valid_from <= f.ts
         AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
    tags=("events", "scd2", "asof", "point-in-time", "join"),
)
def events_scd2_point_in_time(spark, sf_dir):
    """Point-in-time enrichment against an SCD2 dimension — the fourth
    as-of variant (backward as-of ``operators/asof.py``, nearest as-of,
    cogrouped as-of, and now interval-keyed): every purchase picks up the
    user's view-state row whose ``[valid_from, valid_to)`` validity
    interval covers the purchase timestamp, exactly the lookup a
    warehouse runs against an SCD2 dimension to reconstruct "the state as
    it was" at fact time.

    The dimension is built with the same lead()-over-change-stream shape
    as ``events_scd2_user_state`` (one shuffle on user_id, no self-join).
    The enrichment joins on the user_id equi-key with the interval test as
    a join filter — Spark plans a shuffle join on user_id, never a range
    cross-product, and validity intervals partition time per user so at
    most one dimension row matches (purchases before any view keep NULL
    state via the left join). Fact timestamps are projected as integer
    epoch microseconds; state_value is raw stored data (no rounding
    needed — both engines read identical doubles from parquet)."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("value").alias("state_value"),
            F.row_number().over(w).alias("state_version"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    ep = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', pts)"
    )
    return (
        fact.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("valid_from") <= F.col("pts"))
            & (F.col("valid_to").isNull() | (F.col("pts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "purchase_id",
            "user_id",
            ep.alias("purchase_ts_us"),
            "state_version",
            "state_value",
        )
    )


@register(
    "sketch_kmv_distinct_overlap",
    """
    WITH pairs AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    kmv AS (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS rn
            FROM pairs),
    per AS (SELECT event_type AS measure, count(*) AS n, max(h) AS kth
            FROM kmv WHERE rn <= 256 GROUP BY 1),
    uh AS (SELECT DISTINCT h FROM pairs),
    ukmv AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM uh),
    uper AS (SELECT 'union' AS measure, count(*) AS n, max(h) AS kth
             FROM ukmv WHERE rn <= 256),
    est AS (
      SELECT measure,
             CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                  ELSE 255 * 4294967296.0 / kth END AS est
      FROM (SELECT * FROM per UNION ALL SELECT * FROM uper)
    ),
    wide AS (SELECT
      coalesce((SELECT est FROM est WHERE measure = 'view'), 0.0) AS v,
      coalesce((SELECT est FROM est WHERE measure = 'purchase'), 0.0) AS p,
      coalesce((SELECT est FROM est WHERE measure = 'union'), 0.0) AS u)
    SELECT m.measure,
           round(CASE m.measure WHEN 'view' THEN v
                                WHEN 'purchase' THEN p
                                WHEN 'union' THEN u
                                ELSE v + p - u END + 0, 4) AS est
    FROM wide, (VALUES ('intersection'), ('purchase'), ('union'),
                       ('view')) m(measure)
    """,
    tags=("sketch", "kmv", "theta", "distinct", "set-ops", "events"),
)
def sketch_kmv_distinct_overlap(spark, sf_dir):
    """KMV (k-minimum-values / theta) sketch with SET-OPERATION
    estimates (r15) — the sketch family member HLL cannot replace:
    bottom-k hash sets are mergeable under set-union (merge = union,
    re-take the k smallest), so cohort UNION cardinality comes from one
    merged sketch and INTERSECTION falls out by inclusion-exclusion —
    here the view/purchase audience overlap, the classic two-cohort
    question. k = 256 minimum values of the portable 32-bit md5-prefix
    hash (the repo-wide portable-hash family), estimate
    (k−1)·2³²/h₍ₖ₎ with the exact small-range branch (< k distinct ⇒
    count is exact) — all deterministic integer/double math, so DuckDB
    reproduces every estimate BIT-FOR-BIT (same IEEE multiply-divide
    order), unlike library theta sketches whose hash seeds are engine
    private. Scale shape: the sketch input is the DISTINCT (cohort,
    hash) pairs — one shuffle of the dedup'd pair set; the per-cohort
    bottom-k is a window over that set, the union bottom-k a global
    256-row limit; sketches themselves are ≤ 256 longs per cohort, so
    cross-cohort set algebra is driver-trivial at any corpus size."""
    K = 256
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h")
    )
    pairs = ev.select("event_type", h).distinct().localCheckpoint(eager=True)
    w = Window.partitionBy("event_type").orderBy("h")
    per = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .groupBy(F.col("event_type").alias("measure"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
    )
    uper = (
        pairs.select("h")
        .distinct()
        .orderBy("h")
        .limit(K)
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
        .select(F.lit("union").alias("measure"), "n", "kth")
    )
    est_col = F.when(
        F.col("n") < K, F.col("n").cast("double")
    ).otherwise(F.lit(255.0) * F.lit(4294967296.0) / F.col("kth"))
    est = per.unionByName(uper).select("measure", est_col.alias("est"))
    # the three estimates are scalars by construction — collect them once
    # (a 3-row driver fetch), derive the intersection by plain arithmetic
    # (Python float IS IEEE binary64, same ops/order as the SQL), and
    # build the WHOLE result from the collected values: returning the
    # lazy `est` plan would re-run the sketch aggregations when the
    # caller materializes it (r15 review)
    vals = {r["measure"]: float(r["est"]) for r in est.collect()}
    # a cohort with zero rows never reaches the collect — its sketch
    # estimate is 0 by definition; the oracle scaffolds the same four
    # measures with the same coalesce-to-0, so the shapes stay identical
    # on skewed or empty corpora (r15 review: setdefault alone diverged
    # from an oracle that omitted the missing cohort's row)
    for m in ("view", "purchase", "union"):
        vals.setdefault(m, 0.0)
    vals["intersection"] = vals["view"] + vals["purchase"] - vals["union"]
    from cinegraph_spark.session import local_df

    rows = local_df(
        spark, sorted(vals.items()), "measure string, est double"
    )
    return rows.select(
        "measure", F.round(F.col("est") + F.lit(0), 4).alias("est")
    )
