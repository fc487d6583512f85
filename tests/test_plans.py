"""Scale-readiness pins on the physical plans of headline queries.

Correctness says the answer is right at sf0.01; these tests say the *plan*
is the one that survives 1000 executors × 100 TB: predicates at the scan,
columns pruned, dimension joins broadcast, no Python in relational hot
paths. A regression here (a refactor that breaks pushdown, a join that
falls back to sort-merge-shuffling a dimension table) fails fast.
"""

from __future__ import annotations

import pytest

from cinegraph_spark.plans import plan_counts, pushed_filters, read_schemas
from cinegraph_spark.queries import load_all

SPECS = load_all()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name):
        return SPECS[name].spark(spark, sf_dir)

    return build


def test_q6_predicates_reach_parquet_scan(q):
    """TPC-H Q6 is the pushdown litmus test: every predicate (both shipdate
    bounds, the discount band, the quantity cap) must appear in
    PushedFilters, not just in a post-scan Filter node."""
    [filters] = pushed_filters(q("q6_forecast_revenue"))
    for frag in [
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24.0)",
    ]:
        assert frag in filters, f"missing pushed filter {frag}"


def test_q6_column_pruning(q):
    """The 11-column lineitem scan must read only the 4 referenced
    columns."""
    [schema] = read_schemas(q("q6_forecast_revenue"))
    assert "l_quantity" in schema and "l_extendedprice" in schema
    assert "l_partkey" not in schema and "l_returnflag" not in schema


def test_q1_column_pruning(q):
    [schema] = read_schemas(q("q1_pricing_summary"))
    assert "l_partkey" not in schema and "l_orderkey" not in schema


def test_q3_broadcasts_dimensions(q):
    """customer (filtered) and orders sides must broadcast — a sort-merge
    join here would shuffle the fact table twice at 100 TB."""
    c = plan_counts(q("q3_shipping_priority"))
    assert c["broadcast_hash_join"] >= 2
    assert c["sort_merge_join"] == 0


def test_q5_all_dimension_joins_broadcast(q):
    """The 5-way star join must resolve every dim side as a broadcast: one
    pass over lineitem, zero fact-table shuffles before the aggregate."""
    c = plan_counts(q("q5_supplier_volume_by_nation"))
    assert c["broadcast_hash_join"] == 5
    assert c["sort_merge_join"] == 0


def test_explicit_broadcast_join(q):
    c = plan_counts(q("join_broadcast_part_lineitem"))
    assert c["broadcast_hash_join"] >= 1
    assert c["sort_merge_join"] == 0


def test_topk_uses_take_ordered_not_global_sort(q):
    """Global top-k must be TakeOrderedAndProject (per-partition heap +
    driver merge), never a full orderBy shuffle."""
    c = plan_counts(q("sort_topk_orders_global"))
    assert c["take_ordered"] >= 1


def test_vector_topk_is_map_only_plus_take_ordered(q):
    """Brute-force cosine top-k: broadcast query vector, map-only scoring
    scan, TakeOrdered — no hash/range shuffle of the corpus."""
    c = plan_counts(q("vec_cosine_topk_to_query"))
    assert c["take_ordered"] >= 1
    assert c["shuffle_exchange"] == 0
    assert c["python_row_udf"] == 0


def test_string_clean_chain_stays_jvm_side(q):
    """The F1-F10 cleaning chain must compile to codegen'd regexp_replace
    chains — zero Python evaluation, zero shuffles (map-only)."""
    c = plan_counts(q("strfn_clean_chain"))
    assert c["python_row_udf"] == 0
    assert c["python_arrow_udf"] == 0
    assert c["shuffle_exchange"] == 0
    assert c["wholestage_codegen"] >= 1


def test_no_row_python_udfs_anywhere_in_headliners(q):
    """Row-at-a-time Python UDFs are banned from the relational hot path;
    Python is allowed only behind Arrow (pandas UDF / mapInPandas)."""
    for name in [
        "q1_pricing_summary",
        "q9_product_type_profit",
        "agg_rollup_region_nation",
        "window_topk_orders_per_customer",
        "events_tumbling_5min",
        "dedup_ngram_jaccard_pairs",
        "text_fingerprint",
    ]:
        c = plan_counts(q(name))
        assert c["python_row_udf"] == 0, f"{name} evaluates row-Python"


def test_ivf_probe_broadcasts_candidates(q):
    """IVF ANN: the probed-cell list and query vector must broadcast; the
    corpus side must never be shuffled for the join."""
    c = plan_counts(q("vec_ann_ivf_topk"))
    assert c["broadcast_exchange"] >= 2
    assert c["sort_merge_join"] == 0


def test_ann_plan_builds_without_driver_jobs(spark, sf_dir):
    """Building the ANN operator plans (LSH + IVF) over an already-loaded
    corpus must launch zero Spark jobs before the final action — the
    sign-LSH signature is a map-only column expression, not a collected
    dimension probe (VERDICT r1 finding #3). (Parquet schema inference on a
    cold `spark.read` is a source concern, measured outside the group.)"""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.similarity import ivf_cosine_topk, lsh_cosine_topk
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sc = spark.sparkContext
    sc.setJobGroup("ann-plan-build", "plan construction must be job-free")
    try:
        for df in (
            lsh_cosine_topk(e.select("vec_id", "v"), query_id=0, nbits=4, k=10),
            ivf_cosine_topk(e.filter(F.col("vec_id") != 0), q, nprobe=2, k=10),
        ):
            _ = df.schema  # force full analysis — still no job
        jobs = sc.statusTracker().getJobIdsForGroup("ann-plan-build")
        assert list(jobs) == [], f"plan construction launched jobs {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """Layout-for-scale: a day-partitioned sink must turn a day filter into
    PartitionFilters (directories skipped at planning) — not a full scan
    with a post-hoc row filter. At 100 TB/30 days this is reading 3.3% of
    the data instead of 100%."""
    from pyspark.sql import functions as F

    from cinegraph_spark.plans import formatted_plan
    from cinegraph_spark.queries.util import T

    path = str(tmp_path / "events_by_day")
    e = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    e.write.partitionBy("day").parquet(path)

    one_day = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = formatted_plan(one_day)
    assert "PartitionFilters" in plan
    assert "2024-01-02" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # and the filter is NOT re-evaluated per row after the scan
    want = e.filter(F.to_date("ts") == "2024-01-02").count()
    assert one_day.count() == want


def test_contamination_screen_broadcasts_eval_shingles(q):
    """The eval-set shingle probe must be a broadcast hash probe over the
    corpus shingle stream — a sort-merge join here would shuffle the full
    corpus shingle set against a tiny eval set at 100 TB."""
    c = plan_counts(q("dedup_contamination_screen"))
    assert c["broadcast_hash_join"] >= 1
    assert c["python_row_udf"] == 0


def test_packing_prefix_sum_is_sharded(q):
    """Concat-and-chunk packing's prefix-sum must be hierarchical (round
    9): every corpus-sized window partitions by (source, shard) — bounded
    tasks however big one source — and the only per-source-alone window
    runs over the pre-aggregated shard-totals relation, joined back
    broadcast. The regression this pins against is the flat
    Window.partitionBy(source), which serializes a pathologically huge
    source through one reducer at 100 TB. Exchange budget: intra-shard
    window + shard-totals agg + tiny shard window — and nothing more (a
    higher count would mean per-stage re-partitioning crept in)."""
    df = q("pack_chunks_per_source")
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = [
        line for line in plan.splitlines() if "windowspecdefinition(" in line
    ]
    assert windows, "expected window ops in the packing stage"
    corpus_windows = [w for w in windows if "sum(n_tok" in w]
    assert corpus_windows, "corpus prefix-sum window missing"
    for w in corpus_windows:
        assert "shard" in w, (
            "corpus-sized prefix-sum window no longer partitions by shard — "
            f"flat per-source window is back: {w.strip()[:160]}"
        )
    c = plan_counts(df)
    assert c["shuffle_exchange"] <= 3
    assert c["broadcast_hash_join"] >= 1
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_training_prep_packing_window_is_sharded(q):
    """The composite's packing prefix-sum must be hierarchical: the window
    that touches the full kept corpus partitions by (split, shard), and the
    only per-split-alone window runs over the pre-aggregated shard-totals
    relation. A flat Window.partitionBy(split) over the corpus — 3
    partitions, each split through one reducer at 100 TB — is the
    regression this pins against. The shard offsets join back broadcast."""
    df = q("pipeline_training_data_prep")
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = [
        line for line in plan.splitlines() if "windowspecdefinition(" in line
    ]
    assert windows, "expected window ops in the packing stage"
    corpus_windows = [w for w in windows if "sum(n_tok" in w]
    assert corpus_windows, "corpus prefix-sum window missing"
    for w in corpus_windows:
        assert "shard" in w, (
            "corpus-sized prefix-sum window no longer partitions by shard — "
            f"flat per-split window is back: {w.strip()[:160]}"
        )
    c = plan_counts(df)
    assert c["broadcast_hash_join"] >= 1
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_levenshtein_dedup_has_no_python(q):
    """Blocked fuzzy matching stays JVM-side: levenshtein is a codegen'd
    built-in, not a UDF."""
    c = plan_counts(q("dedup_levenshtein_part_names"))
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_bigram_surprisal_broadcasts_the_model(q):
    """The char-bigram LM join must broadcast the bigram->count model (an
    alphabet^2-bounded table); a sort-merge join here would shuffle the
    corpus-sized exploded-bigram side at 100 TB."""
    c = plan_counts(q("text_bigram_surprisal"))
    assert c["broadcast_hash_join"] >= 1  # bigram->count model join
    assert c["sort_merge_join"] == 0
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_asof_nearest_is_single_key_shuffle_no_range_join(q):
    """asof_nearest must be the union+window form: no join node at all
    (the oracle's range join is the anti-pattern it replaces), pure JVM."""
    c = plan_counts(q("events_asof_nearest_click"))
    assert c["broadcast_hash_join"] == 0 and c["sort_merge_join"] == 0
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_mips_topk_is_map_only_plus_take_ordered(q):
    """MIPS top-k: broadcast query vector, TakeOrdered — never a global
    sort of the corpus."""
    c = plan_counts(q("vec_mips_topk"))
    assert c["take_ordered"] == 1
    assert c["sort_merge_join"] == 0
    assert c["shuffle_exchange"] == 0  # map-only scan + broadcast


def test_split_and_domain_mix_stay_jvm_side(q):
    for name in ("sample_train_val_test_split", "text_domain_mix_weights"):
        c = plan_counts(q(name))
        assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_portable_minhash_signature_agg_is_map_side_combinable(q):
    """The portable-minhash signature agg must be a hash aggregate (16 min
    columns, map-side combined) with no Python and no corpus-side SMJ on
    the shingle strings beyond the capped posting-list exchange."""
    c = plan_counts(q("dedup_minhash_portable_est"))
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_countmin_cells_broadcast_and_no_python(q):
    """The 4x1024 CMS cell table must broadcast back for the probe join;
    the sketch build itself is one map-side-combinable hash agg."""
    c = plan_counts(q("sketch_countmin_heavy_hitters"))
    assert c["broadcast_hash_join"] >= 1
    assert c["sort_merge_join"] == 0
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_dsir_models_broadcast(q):
    """The merged LM count table (corpus + target counts in ONE
    alphabet^2-bounded aggregation since r18 — the target counts ride the
    corpus aggregation as a count_if, removing a full corpus explode and
    a second broadcast join) must broadcast exactly once — the
    corpus-sized exploded-bigram side never shuffles."""
    c = plan_counts(q("text_dsir_importance"))
    assert c["broadcast_hash_join"] == 1
    assert c["sort_merge_join"] == 0


def test_lateral_join_decorrelates_to_window_group_limit(q):
    """The correlated LATERAL (ORDER BY ... LIMIT 2) must decorrelate into
    WindowGroupLimit (per-partition partial top-k) + broadcast join — a
    BroadcastNestedLoopJoin re-running the subquery per outer row would be
    quadratic at scale."""
    from cinegraph_spark.plans import formatted_plan

    df = q("join_lateral_top2_customers_per_nation")
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan
    c = plan_counts(df)
    assert c["sort_merge_join"] == 0


def test_pandas_udf_paths_are_arrow_not_row_python(q):
    """The declared pandas_udf surface must evaluate through Arrow
    (ArrowEvalPython / AggregateInPandas), never BatchEvalPython — and the
    scalar form must not break filter pushdown to the scan."""
    c = plan_counts(q("udf_pandas_scalar_net_revenue"))
    assert c["python_row_udf"] == 0
    [filters] = pushed_filters(q("udf_pandas_scalar_net_revenue"))
    assert "l_shipdate" in filters
    c2 = plan_counts(q("udf_pandas_grouped_agg_gini"))
    assert c2["python_row_udf"] == 0


def test_holt_aggregates_before_arrow_recursion(q):
    """ts_holt_linear_daily: the corpus-sized work must be the JVM daily
    aggregate; the Python recursion sees only the calendar-bounded daily
    frame. Pin: exactly one grouped-Arrow node, zero row-Python, and the
    events scan pruned to the three referenced columns."""
    df = q("ts_holt_linear_daily")
    c = plan_counts(df)
    assert c["python_row_udf"] == 0
    assert c["python_arrow_udf"] == 1  # the single applyInPandas scan
    [schema] = read_schemas(df)
    assert "value" in schema and "ts" in schema and "event_type" in schema
    assert "props" not in schema and "event_id" not in schema


def test_histogram_sketch_stays_jvm_and_prunes(q):
    """sketch_histogram_quantiles: pure JVM (no Python anywhere), the
    quantile frame joins as a broadcast, and the events scan reads only
    (event_type, value)."""
    df = q("sketch_histogram_quantiles")
    c = plan_counts(df)
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0
    assert c["broadcast_exchange"] >= 1
    [schema] = read_schemas(df)
    assert "value" in schema and "event_type" in schema
    assert "ts" not in schema and "props" not in schema


def test_lsh_bucket_cap_is_broadcast_anti_join(spark, sf_dir):
    """The degenerate-bucket cap must execute as a broadcast anti-join on
    the (few) oversized keys — a shuffled anti-join would re-shuffle the
    whole banded frame and defeat the point.

    Pinned on the CANDIDATE subtree: in the registered query the
    candidates are staged behind a lazy localCheckpoint (they feed three
    consumers in jaccard_pairs' verification mode — see the r9 plan-audit
    note in operators/dedup.py), so the anti-join executes inside the
    checkpoint materialization and no longer appears in the final query's
    plan string."""
    from cinegraph_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from cinegraph_spark.plans import formatted_plan
    from cinegraph_spark.queries.neardup_common import toks_df

    sh = shingles(toks_df(spark, sf_dir), "doc_id", "tokens", n=8)
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, "doc_id", num_perm=32), "doc_id", bands=8, rows=4
    )
    plan = formatted_plan(cands)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_lsh_verification_candidates_are_staged(q):
    """jaccard_pairs' verification mode consumes the candidate frame three
    times (id union ×2, final semi-join); the lazy localCheckpoint must
    cut the lineage so the LSH pipeline is not replicated per consumer —
    the staged plan scans an ExistingRDD instead of re-deriving the
    banded join (unstaged, the r9 audit measured 64 shuffles vs 11)."""
    from cinegraph_spark.plans import formatted_plan, plan_counts

    df = q("dedup_minhash_lsh_pairs")
    assert "ExistingRDD" in formatted_plan(df) or "Scan ExistingRDD" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert plan_counts(df)["shuffle_exchange"] <= 16


def test_portable_simhash_buckets_no_python(q):
    """dedup_simhash_portable_buckets: md5/conv/bit math all compile
    JVM-side; the pair join keys on (block_idx, block) buckets."""
    c = plan_counts(q("dedup_simhash_portable_buckets"))
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_zorder_stats_map_only_plus_one_agg(q):
    """layout_zorder_bucket_stats: bit interleaving is pure column math —
    no Python, no joins; one hash-aggregate shuffle on the bucket key."""
    c = plan_counts(q("layout_zorder_bucket_stats"))
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0
    assert c["sort_merge_join"] == 0 and c["broadcast_hash_join"] == 0


def test_bloom_prefilter_probe_is_broadcast_only(q):
    """join_bloom_prefilter_effect: the probe side must never shuffle —
    the bit-set list and the build keys both arrive by broadcast."""
    c = plan_counts(q("join_bloom_prefilter_effect"))
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0
    assert c["broadcast_exchange"] >= 2  # bit-set list + build-key dim
    assert c["sort_merge_join"] == 0


def test_multigrain_rollup_is_single_expand_pass(q):
    """events_multigrain_time_rollup: grouping sets must compile to one
    Expand over one aggregation — never one scan per grain."""
    from cinegraph_spark.plans import formatted_plan

    plan = formatted_plan(q("events_multigrain_time_rollup"))
    import re

    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_dq_report_two_fact_scans_with_broadcast_fk(q):
    """dq_constraint_report: the inline constraints + FK orphan count share
    one scan (broadcast left join marks hits); duplicates are the only
    second pass."""
    from cinegraph_spark.plans import formatted_plan

    df = q("dq_constraint_report")
    plan = formatted_plan(df)
    import re

    # 3 numbered scan nodes: orders twice (inline aggs + dup check) and
    # the broadcast customer dim once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    c = plan_counts(df)
    assert c["broadcast_hash_join"] >= 1
    assert c["sort_merge_join"] == 0


def test_mad_outliers_broadcast_stats(q):
    """stats_robust_mad_outliers: the per-type stats tables join back by
    broadcast; the fact side never sort-merge-shuffles for them."""
    c = plan_counts(q("stats_robust_mad_outliers"))
    assert c["sort_merge_join"] == 0
    assert c["broadcast_hash_join"] >= 2
    assert c["python_row_udf"] == 0 and c["python_arrow_udf"] == 0


def test_incremental_dedup_no_self_pairs_shape(q):
    """dedup_incremental_vs_snapshot: signature band joins + broadcast
    status lookups; zero Python, no row-UDFs anywhere."""
    c = plan_counts(q("dedup_incremental_vs_snapshot"))
    assert c["python_row_udf"] == 0
    assert c["broadcast_hash_join"] >= 2  # exact md5 set + status lookups


def test_map_in_arrow_prunes_and_pushes(q):
    """udf_arrow_map_net_revenue: the shipdate filter still reaches the
    scan and only the four referenced columns are read — mapInArrow must
    not break pushdown; and the Python boundary is Arrow, not row."""
    df = q("udf_arrow_map_net_revenue")
    [filters] = pushed_filters(df)
    assert "l_shipdate" in filters
    [schema] = read_schemas(df)
    assert "l_extendedprice" in schema and "l_partkey" not in schema
    c = plan_counts(df)
    assert c["python_row_udf"] == 0


def test_maintenance_pruned_read_is_partition_filter(spark, sf_dir, tmp_path):
    """r13 serving-maintenance scan contract: with the corpus laid out by
    the index's own partition function, the touched-partition read that
    hnsw_index_update / pq_codes_update / ivf_centroids_update perform in
    layout mode must resolve as PartitionFilters at PLANNING time — a
    full-corpus FileScan followed by a row filter would re-introduce the
    r12 weak finding (a small delta paying a 100 TB read)."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_save,
    )
    from cinegraph_spark.operators.maintenance import layout_pruned_read
    from cinegraph_spark.plans import formatted_plan
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    corpus = str(tmp_path / "corpus")
    hnsw_index_save(e, path, n_partitions=8)
    hnsw_corpus_layout(e, corpus, path)

    pruned = layout_pruned_read(spark, corpus, [1, 6])
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "part_id" in pf and "1,6" in pf.replace(" ", "")
    # the data columns ride the manifest schema — no inference, and no
    # post-scan re-filter of the partition predicate
    assert "ReadSchema: struct<vec_id:bigint,v:array<double>>" in plan


def test_hash_tier_update_has_no_present_set_job(spark, sf_dir, tmp_path):
    """A one-key layout-mode update of either hash-partitioned serving
    tier learns which partitions it still populates from an Observation
    on the publish write. A separate ``distinct().collect()`` over the
    rebuilt rows costs two more jobs per call, and inferring the HNSW
    blob table's schema one more, so the updates stay at 6 jobs each."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
        pq_corpus_layout,
        pq_train,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    hnsw, hnsw_corpus = str(tmp_path / "hnsw"), str(tmp_path / "hnsw_c")
    hnsw_index_save(e, hnsw, n_partitions=4)
    hnsw_corpus_layout(e, hnsw_corpus, hnsw)
    pq, pq_corpus = str(tmp_path / "pq"), str(tmp_path / "pq_c")
    pq_codes_save(e, pq_train(e, m=8, k=16), pq, n_partitions=4)
    pq_corpus_layout(e, pq_corpus, pq)

    sc = spark.sparkContext
    for group, update, most in (
        ("hnsw-update", lambda: hnsw_index_update(hnsw_corpus, one, hnsw), 6),
        ("pq-update", lambda: pq_codes_update(pq_corpus, one, pq), 6),
    ):
        sc.setJobGroup(group, group)
        try:
            update()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(jobs) <= most, f"{group} launched {len(jobs)} jobs"


def test_pq_index_read_job_ceiling(spark, sf_dir, tmp_path):
    """A warm pq_index_topk read, plan build plus collect, runs at most 4
    jobs, and 5 with an admissible filter (one more broadcast). The books
    table is read under its declared schema, and one broadcast query row,
    qv with its ADC lookup table, serves both the ADC cut and the
    re-rank: inferring the books schema costs one more job per read, and
    a second broadcast of the query one more again."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
        pq_train,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    corpus = e.filter(F.col("vec_id") != 0).select("vec_id", "v")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    adm = e.filter(F.col("label") == 2).select("vec_id")
    path = str(tmp_path / "pq")
    pq_codes_save(corpus, pq_train(e, m=8, k=16), path, n_partitions=4)

    sc = spark.sparkContext
    for group, read, most in (
        ("pq-read", lambda: pq_index_topk(corpus, q, path, rerank=40), 4),
        (
            "pq-read-filtered",
            lambda: pq_index_topk(corpus, q, path, rerank=512, admissible=adm),
            5,
        ),
    ):
        read().collect()  # warm
        sc.setJobGroup(group, group)
        try:
            rows = read().collect()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == 10
        assert len(jobs) <= most, f"{group} launched {len(jobs)} jobs"


def test_hnsw_index_read_job_ceiling(spark, sf_dir, tmp_path):
    """A warm hnsw_index_knn read of a driver-built query batch, plan
    build plus collect, runs at most 2 jobs (the search and its re-rank),
    and hnsw_index_filtered_knn at most 5 (one more for the identity head
    read, two for the broadcast admissible lists). The blob table is read
    under its declared schema: inferring it costs one more job per
    read."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.hnsw import (
        hnsw_index_filtered_knn,
        hnsw_index_knn,
        hnsw_index_save,
    )
    from cinegraph_spark.queries.util import T
    from cinegraph_spark.session import local_df

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    corpus = e.select("vec_id", "v")
    q = local_df(
        spark,
        [tuple(r) for r in corpus.filter(F.col("vec_id") < 2).collect()],
        "vec_id long, v array<double>",
    )
    adm = e.filter(F.col("label") == 2).select("vec_id")
    path = str(tmp_path / "hnsw")
    hnsw_index_save(corpus, path, n_partitions=4)

    sc = spark.sparkContext
    for group, read, most in (
        ("hnsw-read", lambda: hnsw_index_knn(spark, path, q, k=3), 2),
        (
            "hnsw-read-filtered",
            lambda: hnsw_index_filtered_knn(spark, path, q, adm, k=3),
            5,
        ),
    ):
        read().collect()  # warm
        sc.setJobGroup(group, group)
        try:
            rows = read().collect()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == 6
        assert len(jobs) <= most, f"{group} launched {len(jobs)} jobs"


def test_weighted_wor_is_map_only_take_ordered(q):
    """A-ES weighted sampling must be one map-only key projection plus
    TakeOrdered (per-partition heap of k) — no global sort, no shuffle of
    the corpus, no Python; the selection is partitioning-invariant by
    construction (pure content-keyed expression)."""
    c = plan_counts(q("sample_weighted_wor_topk"))
    assert c["take_ordered"] >= 1
    assert c["shuffle_exchange"] == 0
    assert c["python_row_udf"] == 0
    assert c["python_arrow_udf"] == 0


def test_hnsw_filtered_blob_side_never_shuffles(q):
    """hnsw_index_filtered_knn (r14): the corpus-scale blob table must be
    joined to the per-partition admissible-id lists by BROADCASTING the
    id lists — a sort-merge (or any shuffle of the blob side) would move
    the embedded corpus to ship a filter. The plan's only exchanges are
    the admissible groupBy and the final tiny candidate re-rank; the
    mapInPandas search is the single Arrow boundary."""
    c = plan_counts(q("vec_ann_hnsw_filtered_knn"))
    assert c["broadcast_hash_join"] >= 1
    assert c["sort_merge_join"] == 0
    assert c["python_row_udf"] == 0
    assert c["python_arrow_udf"] == 1  # the blob search, nothing else
    # admissible-id groupBy + candidate window re-rank; the blob scan
    # feeds the broadcast join unexchanged
    assert c["shuffle_exchange"] <= 3


def test_pq_filtered_semi_join_precedes_adc_cut(q):
    """pq_index_topk(admissible=...) (r14): the admissibility semi-join
    must fuse into the codes scan BEFORE the ADC TakeOrdered cut (a
    post-cut filter under-returns — the filtered-ANN trap), with the
    admissible ids broadcast and nothing shuffled."""
    from cinegraph_spark.plans import formatted_plan

    df = q("vec_ann_pq_filtered_topk")
    c = plan_counts(df)
    assert c["sort_merge_join"] == 0
    assert c["shuffle_exchange"] == 0
    assert c["python_row_udf"] == 0
    assert c["take_ordered"] == 2  # ADC cut + final top-k
    plan = formatted_plan(df)
    # the LeftSemi admissibility join sits below the first TakeOrdered in
    # the printed tree (root first, inputs indented after), i.e. it
    # executes BEFORE the cut — a post-cut filter would print above it
    semi = plan.find("LeftSemi")
    first_cut = plan.find("TakeOrderedAndProject")
    assert semi != -1 and first_cut != -1
    assert semi > first_cut, "admissibility filter moved above the ADC cut"
