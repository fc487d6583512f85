"""Data-layout and runtime-filter queries — the physical-design patterns
that matter at 100 TB, expressed as oracle-checked queries.

- Z-order (Morton) clustering: interleave the bits of two scaled dimension
  keys so that each file/bucket of a sorted layout covers a small rectangle
  in (customer × time) space — the standard multi-dimensional clustering
  trick (Delta/Iceberg OPTIMIZE ZORDER). The query computes the bucket
  statistics a layout optimizer would: per z-bucket row counts and the
  min/max extents of each dimension (tight extents == effective data
  skipping). Pure integer bit math → exact cross-engine oracle.

- Bloom-filter join pre-filter: the portable version of the runtime filters
  AQE injects into large joins. Build a k-hash bit-set over the (small,
  filtered) build side with the repo's shared md5-affine portable hash
  family, broadcast it, and categorize every probe row as filtered /
  true-hit / false-positive. Every intermediate is integer-exact, so the
  false-positive behavior itself is oracle-checked — the part of a Bloom
  filter an engine-specific implementation can never cross-check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cinegraph_spark.queries import register
from cinegraph_spark.queries.util import T

#: z-order geometry: scale each dimension to 8 bits, interleave to 16.
_Z_BITS = 8
#: custkey 0..~1535 → /6 fits 8 bits; day index 0..~2550 → /10 fits 8 bits.
_Z_CUST_DIV = 6
_Z_DAY_DIV = 10
_Z_EPOCH = "1995-01-01"
#: bucket = top 3 bits of each dimension (z >> 10) → ≤ 64 buckets.
_Z_BUCKET_SHIFT = 10


def _interleave_sql(cx: str, dy: str) -> str:
    """SQL for Morton interleaving of two 8-bit ints (identical text works
    in Spark SQL and DuckDB: >>, &, << on BIGINT)."""
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"((({cx} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({dy} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


@register(
    "layout_zorder_bucket_stats",
    f"""
    WITH dims AS (
      SELECT least(CAST(o_custkey AS BIGINT) // {_Z_CUST_DIV}, 255) AS cx,
             greatest(least(CAST(date_diff('day', DATE '{_Z_EPOCH}',
                                  CAST(o_orderdate AS DATE)) AS BIGINT)
                   // {_Z_DAY_DIV}, 255), 0) AS dy
      FROM orders
    ),
    z AS (SELECT cx, dy, ({_interleave_sql("cx", "dy")}) AS zval FROM dims)
    SELECT zval >> {_Z_BUCKET_SHIFT} AS z_bucket,
           count(*) AS n_orders,
           min(cx) AS min_cust_cell, max(cx) AS max_cust_cell,
           min(dy) AS min_day_cell,  max(dy) AS max_day_cell
    FROM z
    GROUP BY 1
    """,
    tags=("layout", "zorder", "clustering", "maintenance"),
)
def layout_zorder_bucket_stats(spark, sf_dir):
    """Morton/z-order bucket statistics over orders in (customer × order
    date) space: scale both keys to 8 bits, interleave, bucket by the top
    interleaved bits, and report per-bucket extents. Tight min/max extents
    per bucket are exactly what makes z-ordered files skippable by both
    predicates at once; a linear (single-column) sort would show max-width
    extents in the other dimension. All bit math — map-only, one
    aggregation, engine-exact."""
    o = T(spark, sf_dir, "orders").select(
        F.least(
            (F.col("o_custkey").cast("long") / _Z_CUST_DIV).cast("long"),
            F.lit(255).cast("long"),
        ).alias("cx"),
        # greatest(..., 0) clamps dates before _Z_EPOCH: without it a
        # negative day index diverges cross-engine (DuckDB `//` floors,
        # Spark's cast truncates toward zero) and breaks the bit-interleave.
        # Current testdata bottoms out exactly at the epoch; the clamp makes
        # the query regeneration-proof instead of fixture-dependent.
        F.greatest(
            F.least(
                (
                    F.datediff(
                        F.to_date("o_orderdate"), F.lit(_Z_EPOCH).cast("date")
                    ).cast("long")
                    / _Z_DAY_DIV
                ).cast("long"),
                F.lit(255).cast("long"),
            ),
            F.lit(0).cast("long"),
        ).alias("dy"),
    )
    z = o.withColumn("zval", F.expr(_interleave_sql("cx", "dy")))
    return (
        z.groupBy(
            F.shiftright("zval", _Z_BUCKET_SHIFT).cast("long").alias("z_bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min("cx").alias("min_cust_cell"),
            F.max("cx").alias("max_cust_cell"),
            F.min("dy").alias("min_day_cell"),
            F.max("dy").alias("max_day_cell"),
        )
    )


#: Bloom geometry: 5 md5-affine hash rows into 4096 bits — the same
#: portable-hash family as the minhash/CMS sketches (a_j=2j+3, b_j=997j+1
#: mod 1000003), keyed directly on the integer build key.
_BLOOM_K = 5
_BLOOM_M = 4096
_BLOOM_P = 1000003
_BLOOM_SEGMENT = "BUILDING"


def _bloom_pos_sql(key: str, j: int) -> str:
    return f"((({2 * j + 3} * {key} + {997 * j + 1}) % {_BLOOM_P}) % {_BLOOM_M})"


@register(
    "join_bloom_prefilter_effect",
    f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ),
    bits AS (
      SELECT DISTINCT pos FROM build,
        unnest([{", ".join(_bloom_pos_sql("c_custkey", j) for j in range(_BLOOM_K))}])
          AS u(pos)
    ),
    blist AS (SELECT coalesce(list(pos ORDER BY pos), []) AS positions
              FROM bits),
    probe AS (
      SELECT o.o_orderkey, o.o_custkey,
             list_has_all(b.positions,
               [{", ".join(_bloom_pos_sql("o.o_custkey", j) for j in range(_BLOOM_K))}])
               AS bloom_pass,
             EXISTS (SELECT 1 FROM build WHERE c_custkey = o.o_custkey)
               AS true_match
      FROM orders o CROSS JOIN blist b
    )
    SELECT CASE WHEN NOT bloom_pass THEN 'filtered'
                WHEN true_match THEN 'hit_true'
                ELSE 'hit_false' END AS category,
           count(*) AS n_orders
    FROM probe
    GROUP BY 1
    """,
    tags=("join", "bloom", "runtime-filter", "portable"),
)
def join_bloom_prefilter_effect(spark, sf_dir):
    """Bloom-filter join pre-filter, fully portable: build a 5-hash /
    4096-bit filter over the BUILDING-segment customers, broadcast
    its (sorted, ≤4096-entry) set-bit list, and categorize every order as
    filtered (bit miss → skipped before the join), true hit, or false
    positive (passed the filter, no real match — the rows a runtime filter
    lets through and the join then discards). This is the AQE
    runtime-filter shape made engine-exact: at 100 TB the filter build is a
    tiny aggregation on the dim side, the probe is map-only against a
    broadcast bit-set, and the expensive join runs on 'hit_*' rows only.
    No Bloom false negative is possible — pinned by the oracle since
    'filtered' + 'hit_true' partition the true matches exactly."""
    c = T(spark, sf_dir, "customer")
    build = c.filter(F.col("c_mktsegment") == _BLOOM_SEGMENT).select(
        "c_custkey"
    )
    bits = build.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_pos_sql("c_custkey", j))
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
    ).distinct()
    # pack the set bits into 64-bit words (m/64 entries) and broadcast the
    # word map: each probe is then an O(1) shift-and-mask, not a linear
    # array_contains scan over up to m positions (measured: the list form
    # cost 28 s at sf0.1 — 5 probes × ~m/2 comparisons per row; the packed
    # form is <1 s and is how a real engine stores the filter).
    words = bits.groupBy(
        F.expr("CAST(pos DIV 64 AS INT)").alias("widx")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
        ).alias("wbits")
    )
    bmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("widx", "wbits"))).alias(
            "bloom"
        )
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bit_tests = [
        F.expr(
            f"(shiftright(coalesce(element_at(bloom, "
            f"CAST(({_bloom_pos_sql('o_custkey', j)}) DIV 64 AS INT)), "
            f"CAST(0 AS BIGINT)), "
            f"CAST(({_bloom_pos_sql('o_custkey', j)}) % 64 AS INT)) & 1) = 1"
        )
        for j in range(_BLOOM_K)
    ]
    bloom_pass = bit_tests[0]
    for t in bit_tests[1:]:
        bloom_pass = bloom_pass & t
    probe = (
        o.crossJoin(F.broadcast(bmap))
        .join(
            F.broadcast(build.withColumn("true_match", F.lit(True))),
            o["o_custkey"] == build["c_custkey"],
            "left",
        )
        .select(
            bloom_pass.alias("bloom_pass"),
            F.coalesce(F.col("true_match"), F.lit(False)).alias("true_match"),
        )
    )
    return (
        probe.select(
            F.when(~F.col("bloom_pass"), F.lit("filtered"))
            .when(F.col("true_match"), F.lit("hit_true"))
            .otherwise(F.lit("hit_false"))
            .alias("category")
        )
        .groupBy("category")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "layout_clustered_upsert_roundtrip",
    """
    SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len, lang
    FROM documents
    WHERE NOT (doc_id % 11 = 3 AND doc_id % 7 <> 0)
    """,
    tags=("layout", "maintenance", "upsert", "llm-pipeline"),
)
def layout_clustered_upsert_roundtrip(spark, sf_dir):
    """Clustered-layout MAINTENANCE semantics end-to-end (r13 — the
    machinery behind every partition-pruned serving-table update,
    `operators/maintenance.py::hash_layout_save/hash_layout_upsert`,
    driver-checked with its own exact oracle): the documents corpus is
    laid out by ``pmod(hash(doc_id), 16)`` partition directories, seeded
    with STALE text for every doc_id % 7 == 0 row (truncated to 5 chars —
    so a broken upsert is hash-visible, not silently absorbed), then one
    upsert call delivers the true rows for those keys and deletes the
    doc_id % 11 == 3 stragglers (disjoint from the upsert set — a key
    both upserted and deleted in one call has no defined winner). Only
    the directories those keys hash into are rewritten (dynamic partition
    overwrite; untouched-file mtimes pinned in tests/test_layout.py) and
    the final corpus equals plain SQL over the post-change state. At
    100 TB this is the daily corpus-maintenance write path whose touched
    partitions the serving-index updates then read back pruned. The
    partition id itself never appears in the output — it is Spark-Murmur3
    engine state, which is exactly why the layout stores it as identity
    instead of asking an oracle to reproduce it."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        hash_layout_upsert,
        layout_read,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    path = scratch_dir("cg_layout_ups_") + "/corpus"
    stale = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.substring("text", 1, 5)
    )
    initial = docs.filter(F.col("doc_id") % 7 != 0).unionByName(stale)
    hash_layout_save(initial, path, "doc_id", 16)
    upserts = docs.filter(F.col("doc_id") % 7 == 0)
    deletes = docs.filter(
        (F.col("doc_id") % 11 == 3) & (F.col("doc_id") % 7 != 0)
    ).select("doc_id")
    hash_layout_upsert(spark, path, upserts, deletes=deletes)
    return layout_read(spark, path).select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        "lang",
    )


@register(
    "layout_dv_delete_read",
    """
    WITH final AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 26 = 5 THEN n_chars + 1000
                  ELSE n_chars END AS nc
      FROM documents
      WHERE doc_id % 13 <> 6
        AND (doc_id % 13 <> 5 OR doc_id % 26 = 5)
    ),
    agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nc) AS BIGINT) AS total_chars,
             CAST(sum(doc_id) AS BIGINT) AS id_checksum
      FROM final GROUP BY lang
    )
    SELECT s.stage, a.lang, a.n_docs, a.total_chars, a.id_checksum
    FROM agg a CROSS JOIN (VALUES ('dv'), ('compacted')) s(stage)
    """,
    tags=("layout", "maintenance", "deletion-vectors", "llm-pipeline"),
)
def layout_dv_delete_read(spark, sf_dir):
    """Deletion-vector maintenance end-to-end (r15 —
    `operators/maintenance.py::layout_dv_delete/layout_dv_compact`): the
    documents corpus is laid out as a clustered hash layout, then two
    erasure batches land as DELETION VECTORS — a tiny ``_dv`` sidecar
    write per batch, zero data files rewritten (mtime-pinned in
    tests/test_deletion_vectors.py) — a later upsert RESURRECTS part of
    the first batch with modified rows (the new rows must win over the
    stale masked ones), and the corpus is aggregated twice: once under
    the merge-on-read mask (stage ``dv``) and once after
    ``layout_dv_compact`` applies and clears the backlog (stage
    ``compacted``). Both stages must hash-match the same plain SQL — a
    mask leak, a lost resurrect, or a compaction that drops or
    duplicates a row breaks one stage or the other. At 100 TB this is
    what makes a K-row GDPR erasure a K-row write instead of a
    touched-directory rewrite, with the rewrite deferred to a scheduled
    compaction window."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        hash_layout_upsert,
        layout_dv_compact,
        layout_dv_delete,
        layout_read,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = scratch_dir("cg_layout_dv_") + "/corpus"
    hash_layout_save(docs, path, "doc_id", 16)
    layout_dv_delete(
        spark, path, docs.filter(F.col("doc_id") % 13 == 5).select("doc_id")
    )
    resurrect = docs.filter(F.col("doc_id") % 26 == 5).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    # the upsert rewrites the resurrect keys' partitions anyway, so it
    # piggyback-applies (and clears) the first batch's DV entries there;
    # the second erasure batch lands AFTER it, so a non-empty backlog
    # provably reaches the compaction below at every SF
    hash_layout_upsert(spark, path, resurrect)
    erased = layout_dv_delete(
        spark, path, docs.filter(F.col("doc_id") % 13 == 6).select("doc_id")
    )

    def _agg(stage: str):
        return (
            layout_read(spark, path)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            )
            .select(
                F.lit(stage).alias("stage"),
                "lang",
                "n_docs",
                "total_chars",
                "id_checksum",
            )
        )

    # stage 1 materializes UNDER the mask (read-time anti-join active)
    masked = _agg("dv").localCheckpoint(eager=True)
    report = layout_dv_compact(spark, path)
    # the second batch lands after the upsert, so its entries must still
    # be in the sidecar at compact time (empty-corpus runs record none)
    if erased["dv_rows"] and not report["dv_rows_applied"]:
        raise ValueError(
            "layout_dv_delete_read: compaction applied no deletion-vector "
            "rows — the sidecar was lost before the compact"
        )
    return masked.unionByName(_agg("compacted"))


#: Per-language document count, character total and id checksum of the
#: documents corpus: every rewrite path (compaction, an OCC-retried
#: commit, a stream-ingested compaction) must keep each row unchanged.
_COMPACT_STATS_ORACLE = """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    GROUP BY lang
    """


@register(
    "layout_occ_commit_retry",
    _COMPACT_STATS_ORACLE,
    tags=("layout", "maintenance", "occ", "concurrency"),
)
def layout_occ_commit_retry(spark, sf_dir):
    """Optimistic-concurrency commit end-to-end (r15 —
    `serving_io.generation_swap_dir(expected_base=)` /
    `current_generation`): a versioned corpus layout takes a THREE-WAY
    writer race — writer A and writer B both compute their additions
    against base generation 1, A commits first, B's commit must raise
    `GenerationConflictError` (the claim-token CAS: exclusive create of
    the transition token, then newest-committed-equals-base) and leave
    A's state untouched, then B recomputes against the NEW current and
    lands. The query raises in-place if the conflict does NOT fire (a
    silently-lost update is exactly the corruption OCC exists to
    prevent) and the final corpus hash-matches plain SQL only if no
    writer's rows were lost or doubled anywhere in the race. At 100 TB
    this is the lakehouse commit protocol: concurrent maintenance jobs
    race safely instead of serializing behind a scheduler lock, and the
    loser pays a recompute, never a corruption."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.operators.serving_io import (
        GenerationConflictError,
        current_generation,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = scratch_dir("cg_layout_occ_") + "/corpus"
    hash_layout_save(
        docs.filter(F.col("doc_id") % 3 == 0), root, "doc_id", 8,
        keep_generations=2, expected_base=0,
    )
    base = current_generation(spark, root)
    # both writers compute against generation `base` — B pins it, the
    # reader contract that makes its plan stable while A publishes
    stored = layout_read(spark, root, generation=base).drop("part_id")
    content_a = stored.unionByName(docs.filter(F.col("doc_id") % 3 == 1))
    content_b = stored.unionByName(docs.filter(F.col("doc_id") % 3 == 2))
    hash_layout_save(
        content_a, root, "doc_id", 8, keep_generations=2,
        expected_base=base,
    )
    try:
        hash_layout_save(
            content_b, root, "doc_id", 8, keep_generations=2,
            expected_base=base,
        )
    except GenerationConflictError:
        pass
    else:
        raise ValueError(
            "layout_occ_commit_retry: writer B's stale-base commit did "
            "not conflict — writer A's update was silently lost"
        )
    # B retries: recompute against the new current, commit with its base
    retry_base = current_generation(spark, root)
    hash_layout_save(
        layout_read(spark, root)
        .drop("part_id")
        .unionByName(docs.filter(F.col("doc_id") % 3 == 2)),
        root, "doc_id", 8, keep_generations=2, expected_base=retry_base,
    )
    return (
        layout_read(spark, root)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "layout_dv_stream_erasure",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    WHERE doc_id % 9 <> 2
    GROUP BY lang
    """,
    tags=("layout", "maintenance", "deletion-vectors", "streaming",
          "llm-pipeline"),
)
def layout_dv_stream_erasure(spark, sf_dir):
    """STREAMING erasure feed end-to-end (r15 —
    `maintenance.py::dv_stream_delete`): a corpus layout takes a stream
    of delete keys in three REAL micro-batches (maxFilesPerTrigger=1)
    through the production foreachBatch drain, each batch landing as a
    deletion-vector merge at key-count cost — then the WHOLE stream is
    re-delivered through a fresh checkpoint (the at-least-once upstream
    replay) and must be a byte-level no-op, because the DV merge is a
    set union: the strongest replay contract of any streaming
    maintenance drain here (no version column, no order sensitivity).
    The final aggregate hash-matches plain SQL over the surviving rows
    only if every erasure batch landed exactly once in effect. At
    100 TB this is the continuously-arriving GDPR-erasure pipeline:
    each request costs its key count, and the physical rewrite is
    deferred to layout_dv_compact's maintenance window."""
    from cinegraph_spark.operators.maintenance import (
        dv_stream_delete,
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    scratch = scratch_dir("cg_dv_stream_")
    path = scratch + "/corpus"
    hash_layout_save(docs, path, "doc_id", 16)
    src = scratch + "/erasures"
    docs.filter(F.col("doc_id") % 9 == 2).select("doc_id").repartition(
        3
    ).write.parquet(src)

    def _arrivals():
        return (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    dv_stream_delete(spark, _arrivals(), path, scratch + "/ckpt1")
    # full redelivery under a FRESH checkpoint: at-least-once replay —
    # the union merge must make it a no-op
    dv_stream_delete(spark, _arrivals(), path, scratch + "/ckpt2")
    return (
        layout_read(spark, path)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "layout_generation_cdc_diff",
    """
    SELECT 'delete' AS change, CAST(count(*) AS BIGINT) AS n_keys
    FROM documents WHERE doc_id % 7 = 3
    UNION ALL
    SELECT 'insert', CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id % 13 = 1
    UNION ALL
    SELECT 'update', CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id % 11 = 4 AND doc_id % 7 <> 3
    """,
    tags=("layout", "maintenance", "cdc", "generations"),
)
def layout_generation_cdc_diff(spark, sf_dir):
    """Snapshot CDC between retained generations (r15 —
    `maintenance.py::layout_generation_diff`): when a writer publishes
    full versioned snapshots but ships no change log, downstream
    consumers DERIVE one by diffing generations — the lakehouse
    ``table_changes`` operation. Generation 1 is the corpus; generation
    2 deletes every doc_id % 7 == 3, rewrites n_chars for doc_id % 11 ==
    4 (update), and appends fresh negative ids derived from doc_id %
    13 == 1 (insert — disjoint from the non-negative corpus at any
    SF); the diff must classify exactly those key sets — counts
    hash-checked against the construction's plain SQL, with the three
    change kinds emitted unconditionally (zero-count rows included) so
    an empty corpus still shapes identically. One full-outer join of
    two snapshots on the key: the standard snapshot-diff shuffle, cost
    ∝ the snapshots, partition-layout-independent."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_generation_diff,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = scratch_dir("cg_gen_diff_") + "/corpus"
    hash_layout_save(docs, root, "doc_id", 8, keep_generations=2)
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    # coalesce BEFORE the +5: on a corpus with NULL n_chars rows a plain
    # NULL+5 stays NULL, the "updated" row is content-identical across
    # generations, and the diff (correctly) refuses to call it an update
    # while the oracle counts it unconditionally (r17 adversarial sweep)
    updated = survivors.withColumn(
        "n_chars",
        F.when(
            F.col("doc_id") % 11 == 4,
            F.coalesce(F.col("n_chars"), F.lit(-1)) + 5,
        ).otherwise(F.col("n_chars")),
    )
    # fresh ids as -(doc_id)-1: provably disjoint from the corpus at ANY
    # scale factor (real doc_ids are non-negative), unlike a +offset
    # scheme that collides once the corpus outgrows the offset
    inserts = docs.filter(F.col("doc_id") % 13 == 1).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "lang", "n_chars"
    )
    hash_layout_save(
        updated.unionByName(inserts), root, "doc_id", 8,
        keep_generations=2,
    )
    diff = layout_generation_diff(spark, root, 1, 2)
    from cinegraph_spark.session import local_df

    kinds = local_df(
        spark, [("delete",), ("insert",), ("update",)], "change string"
    )
    counts = diff.groupBy("change").agg(F.count("*").alias("_n"))
    return kinds.join(counts, "change", "left").select(
        "change",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_keys"),
    )


@register(
    "layout_write_expectations",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    WHERE lang IS NOT NULL AND n_chars >= 0
    GROUP BY lang
    """,
    tags=("layout", "maintenance", "expectations", "data-quality"),
)
def layout_write_expectations(spark, sf_dir):
    """Write-side data contracts end-to-end (r15 —
    `maintenance.py::hash_layout_save(expect=)`): the CHECK-constraint /
    expectations shape every lakehouse write path needs — a save whose
    rows violate a declared contract must refuse BEFORE the publish, at
    zero extra passes (the counters ride the same Observation as the
    NULL-key check). The query first attempts a POISONED save (lang
    nulled for a key slice) under a ``lang IS NOT NULL`` contract and
    raises in-place if the refusal does not fire, then lands the clean
    corpus under the same contracts and aggregates it — hash-matching
    plain SQL proves the refusal discarded the poisoned state entirely
    and the good save wrote every row exactly once. At 100 TB this is
    the difference between catching a malformed upstream delivery at
    write time and discovering it in every downstream consumer."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.session import scratch_dir

    # the "clean" corpus must actually satisfy the contracts: on a corpus
    # that itself carries NULL lang / NULL n_chars rows (r17 adversarial
    # fixture) the un-filtered save would be refused too and the query
    # could never land — the demonstration is poisoned-vs-clean, so clean
    # is constructed explicitly (mirrored in the oracle's WHERE)
    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("lang").isNotNull() & (F.col("n_chars") >= 0))
    )
    path = scratch_dir("cg_layout_expect_") + "/corpus"
    contracts = {
        "lang_present": "lang IS NOT NULL",
        "chars_non_negative": "n_chars >= 0",
    }
    poisoned = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 17 == 2, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    n_poison = poisoned.filter(F.col("lang").isNull()).count()
    refused = False
    try:
        hash_layout_save(poisoned, path, "doc_id", 16, expect=contracts)
    except ValueError as e:
        if "expectation" not in str(e):
            raise
        refused = True
    if n_poison and not refused:
        raise ValueError(
            "layout_write_expectations: the poisoned save was not "
            "refused — the write-side contract silently passed bad data"
        )
    hash_layout_save(docs, path, "doc_id", 16, expect=contracts)
    return (
        layout_read(spark, path)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "layout_compact_small_files_stats",
    _COMPACT_STATS_ORACLE,
    tags=("layout", "maintenance", "compaction"),
)
def layout_compact_small_files_stats(spark, sf_dir):
    """Small-file compaction end-to-end under the driver's oracle gate
    (r13 — `operators/maintenance.py::compact` had tests but no driver
    row): the documents corpus is deliberately written as 48 tiny files
    (the streaming-sink pathology every lake accumulates), compacted to
    ~1 MB range-clustered files sorted by (lang, doc_id) — the layout
    whose disjoint per-file footer stats make range predicates prunable
    (`tests/test_maintenance.py` pins the disjointness; `compact` itself
    validates the rewrite's row count BEFORE swapping, so a bad rewrite
    never replaces good data) — and the query aggregates the
    POST-compaction table. A row lost or duplicated anywhere in the
    fragment→rewrite→swap cycle breaks the hash against plain SQL over
    the original corpus; a rewrite that failed to actually reduce the
    file count raises in-query instead of passing data through."""
    from cinegraph_spark.operators.maintenance import compact
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = scratch_dir("cg_compact_") + "/docs"
    docs.repartition(48).write.parquet(path)
    report = compact(spark, path, target_file_mb=1, sort_by=["lang", "doc_id"])
    if (
        report["before"]["n_files"] > 1
        and report["after"]["n_files"] >= report["before"]["n_files"]
    ):
        raise ValueError(
            "layout_compact_small_files_stats: compaction did not reduce "
            f"the file count ({report['before']['n_files']} -> "
            f"{report['after']['n_files']})"
        )
    return (
        spark.read.parquet(path)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "pipeline_stream_ingest_compact",
    _COMPACT_STATS_ORACLE,
    tags=("pipeline", "streaming", "maintenance", "compaction",
          "llm-pipeline"),
)
def pipeline_stream_ingest_compact(spark, sf_dir):
    """Landed-zone maintenance end-to-end (r13 — the r12 verdict's last
    optional candidate): a document stream is ingested as THREE real
    micro-batches through the production foreachBatch parquet drain
    (`streaming/windows.py::run_availablenow_to_parquet` — batch-id-keyed
    subdirectories, the idempotent at-least-once landing every streaming
    sink accumulates), then the landed zone is folded flat and
    range-clustered by `compact(recursive=True)` — the maintenance job a
    long-lived ingest needs so scan planning does not drown in
    batch-sized files — and the query aggregates the POST-compaction
    zone. A row lost or duplicated anywhere in
    stream→land→fold→swap breaks the hash against plain SQL over the
    original corpus; a fold that fails to reduce the file count raises
    in-query. At 100 TB this runs per partition on a quiescent zone (the
    docstring contract), never the whole lake at once."""
    from cinegraph_spark.operators.maintenance import compact, dataset_stats
    from cinegraph_spark.session import scratch_dir
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    scratch = scratch_dir("cg_ingest_cmp_")
    src = scratch + "/incoming"
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, lang string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    landed = scratch + "/landed"
    # stateless landing: nothing can emit by eviction; skip the trailing
    # no-data micro-batch (one checkpoint commit saved per drain)
    run_availablenow_to_parquet(
        spark, stream, landed, output_mode="append",
        final_no_data_batch=False,
    )
    before = dataset_stats(landed)
    report = compact(
        spark, landed, target_file_mb=1, sort_by=["lang", "doc_id"],
        recursive=True,
    )
    if (
        before["n_files"] > 1
        and report["after"]["n_files"] >= before["n_files"]
    ):
        raise ValueError(
            "pipeline_stream_ingest_compact: the fold did not reduce the "
            f"landed zone's file count ({before['n_files']} -> "
            f"{report['after']['n_files']})"
        )
    return (
        spark.read.parquet(landed)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "layout_vacuum_retention_roundtrip",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    GROUP BY lang
    """,
    tags=("layout", "maintenance", "vacuum", "retention"),
)
def layout_vacuum_retention_roundtrip(spark, sf_dir):
    """Serving-table RETENTION end-to-end (r14 — the r13 verdict's
    optional task 7, `operators/serving_io.py::vacuum_parked_siblings`,
    driver-checked with its own exact oracle): the documents corpus is
    laid out as a swap-maintained clustered layout, then three pieces of
    parked swap debris are staged next to it — a stale orphan
    ``__swap__`` (an inspected-and-forgotten failed write), a stale
    orphan ``__old__`` (a post-swap crash's undeleted aside), and a
    YOUNG ``__swap__`` standing in for a maintenance write still in
    flight. The age-bounded vacuum must delete exactly the two stale
    copies, keep the young one, and leave the live table byte-untouched
    — the query raises on any wrong deletion set, and the returned
    aggregate over the post-vacuum layout hash-matches plain SQL over
    the corpus only if no live partition directory was swept. At 100 TB
    each piece of debris is a full table copy of disk, so a busy
    writer's retention sweep is real money; the mtime bound is what
    makes it safe to run hot (an in-flight sibling is never older than
    the retention). Staging uses local mtimes (``os.utime``) — scenario
    plumbing, same class as the sentinel files of the streaming drains.
    """
    import os
    import time

    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.operators.serving_io import vacuum_parked_siblings
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    path = scratch_dir("cg_layout_vac_") + "/corpus"
    hash_layout_save(docs, path, "doc_id", 8)
    stale_swap = path + "__swap__aaaaaaaaaaaa"
    stale_old = path + "__old__bbbbbbbbbbbb"
    young_swap = path + "__swap__cccccccccccc"
    # poisoned debris content: if vacuum restored or merged ANY of it
    # instead of deleting, the aggregate would double-count
    for p in (stale_swap, stale_old, young_swap):
        docs.limit(5).withColumn("lang", F.lit("xx")).write.parquet(p)
    stale_t = time.time() - 48 * 3600
    for d in (stale_swap, stale_old):  # age dir AND files: vacuum ages
        os.utime(d, (stale_t, stale_t))  # by the newest mtime found
        for root, _dirs, names in os.walk(d):
            for n in names:
                os.utime(os.path.join(root, n), (stale_t, stale_t))

    out = vacuum_parked_siblings(spark, path, older_than_hours=24.0)
    got_deleted = sorted(p.rsplit("/", 1)[-1] for p in out["deleted"])
    got_kept = sorted(p.rsplit("/", 1)[-1] for p in out["kept"])
    want_deleted = sorted(
        p.rsplit("/", 1)[-1] for p in (stale_swap, stale_old)
    )
    want_kept = [young_swap.rsplit("/", 1)[-1]]
    if got_deleted != want_deleted or got_kept != want_kept:
        raise ValueError(
            "layout_vacuum_retention_roundtrip: wrong retention sweep — "
            f"deleted {got_deleted} (want {want_deleted}), "
            f"kept {got_kept} (want {want_kept})"
        )
    return (
        layout_read(spark, path)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "layout_generation_rollback_read",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("layout", "maintenance", "generations", "timetravel", "serving"),
)
def layout_generation_rollback_read(spark, sf_dir):
    """VERSIONED serving generations end-to-end (r14 verdict task 4,
    `operators/serving_io.py::generation_swap_dir` + `maintenance.py::
    layout_read(generation=)`): the documents corpus is saved as
    generation 1 of a versioned layout, then a POISONED save (every lang
    overwritten — standing in for a bad deploy or a corrupted upstream)
    commits as generation 2. The rollback read pins generation 1 and must
    hash-match plain SQL over the clean corpus — which can only happen if
    (a) the pinned resolution really answers from the older generation's
    own immutable directory and (b) the poisoned save touched none of
    generation 1's files (commit-by-marker publishes without renaming or
    rewriting anything). The current read is asserted poisoned first, so
    a resolution bug that silently serves "current" for a pinned read
    can never pass. At 100 TB this is the lakehouse rollback story:
    keep_generations full snapshots buy swap-free publication (no crash
    window — commit is ONE marker create), stable plans for readers that
    overlap a re-save, and instant rollback by reading generation N-1 —
    at the documented cost of N retained copies on disk."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.operators.serving_io import list_generations
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    path = scratch_dir("cg_layout_gen_") + "/corpus"
    hash_layout_save(docs, path, "doc_id", 8, keep_generations=2)
    poisoned = docs.withColumn("lang", F.lit("xx"))
    hash_layout_save(poisoned, path, "doc_id", 8, keep_generations=2)
    retained = sorted(list_generations(spark, path))
    if retained != [1, 2]:
        raise ValueError(
            f"layout_generation_rollback_read: expected generations "
            f"[1, 2] retained, got {retained}"
        )
    langs_now = {
        r["lang"] for r in layout_read(spark, path).select("lang").distinct().collect()
    }
    if langs_now - {"xx"}:  # empty corpus legitimately shows no langs
        raise ValueError(
            "layout_generation_rollback_read: the current read must see "
            f"the poisoned generation 2, got langs {sorted(langs_now)}"
        )
    return (
        layout_read(spark, path, generation=1)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
    )


@register(
    "layout_pinned_reader_vacuum",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents WHERE doc_id % 2 = 0
    GROUP BY lang
    """,
    tags=("layout", "maintenance", "vacuum", "generations", "pinning"),
)
def layout_pinned_reader_vacuum(spark, sf_dir):
    """The vacuum-vs-pinned-reader retention race, driver-checked end to
    end (r18 — VERDICT r17 task 6; `serving_io.pin_generation`): the
    even-doc_id half-corpus publishes as generation 1 of a versioned
    layout, a reader PINS it, and then a retention storm runs INSIDE the
    pin — two full-corpus re-saves at keep=2 (which would prune g1) plus
    an explicit `vacuum_generations` — after which the pinned read still
    aggregates the half-corpus snapshot (materialized eagerly while
    pinned; the oracle is plain SQL over the even half). On release the
    next vacuum must reclaim g1 and a version-pinned resolve must
    degrade to the documented loud "not retained" error — the query
    raises on any wrong vacuum verdict, a surviving g1, or a silent
    stale read, so a pin regression fails the driver window rather than
    leaking a deleted generation to some straggler at 100 TB. At scale a
    pin is one zero-byte marker per reader: no coordination, and crashed
    readers' stale pins age out on the vacuum's storage clock."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.operators.serving_io import (
        list_generations,
        pin_generation,
        resolve_generation,
        vacuum_generations,
    )
    from cinegraph_spark.session import scratch_dir

    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    root = scratch_dir("cg_layout_pin_") + "/corpus"
    hash_layout_save(
        docs.filter(F.col("doc_id") % 2 == 0), root, "doc_id", 8,
        keep_generations=2,
    )
    with pin_generation(spark, root) as gen_dir:
        if not gen_dir.rstrip("/").endswith("g00000001"):
            raise ValueError(
                f"layout_pinned_reader_vacuum: pinned {gen_dir}, "
                "expected generation 1"
            )
        # retention storm: two keep=2 saves would prune g1 unpinned
        hash_layout_save(docs, root, "doc_id", 8, keep_generations=2)
        hash_layout_save(docs, root, "doc_id", 8, keep_generations=2)
        out = vacuum_generations(spark, root, keep=2, older_than_hours=24.0)
        pinned_names = sorted(p.rsplit("/", 1)[-1] for p in out["pinned"])
        if pinned_names != ["g00000001"] or 1 not in list_generations(
            spark, root
        ):
            raise ValueError(
                "layout_pinned_reader_vacuum: the live pin did not veto "
                f"retention (pinned={pinned_names}, "
                f"gens={sorted(list_generations(spark, root))})"
            )
        snapshot = (
            layout_read(spark, root, generation=1)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("total_chars"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            )
            .localCheckpoint(eager=True)  # materialize WHILE pinned
        )
    # released: the next sweep reclaims g1 and stale resolves are LOUD
    out = vacuum_generations(spark, root, keep=2, older_than_hours=24.0)
    if not any(p.endswith("g00000001") for p in out["deleted"]):
        raise ValueError(
            "layout_pinned_reader_vacuum: released generation survived "
            f"the reclaim sweep (deleted={out['deleted']})"
        )
    try:
        resolve_generation(spark, root, 1)
    except ValueError:
        pass
    else:
        raise ValueError(
            "layout_pinned_reader_vacuum: resolving the vacuumed "
            "generation must raise, not serve stale state"
        )
    return snapshot
