"""HNSW graph-ANN contract (operators/hnsw.py).

The registered query `vec_ann_hnsw_knn` carries an EXACT brute-force k-NN
oracle — legitimate only while the beam search recalls the true top-k on
the fixture corpus. These tests assert that recall (it is a property of
(corpus, ef), not a law), plus the determinism and graph invariants the
oracle-exactness rests on, so a testdata regeneration or a parameter
change fails HERE with a named assumption instead of as a driver hash
mismatch.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cinegraph_spark.operators.hnsw import (
    _INDEX_SCHEMA,
    _seq_cos,
    hnsw_build,
    hnsw_cosine_knn,
    hnsw_search,
)


def _corpus(spark, sf_dir):
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    ids = [int(r["vec_id"]) for r in rows]
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    return ids, X


def test_search_is_exact_on_synthetic_grid():
    """Pure-function sanity: on a tiny set, beam search with ef >= n
    returns exactly the brute-force neighbor ranking."""
    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 8))
    ids = list(range(40))
    index = hnsw_build(ids, X, M=4, ef_construction=16)
    q = rng.normal(size=8)
    got = [nid for nid, _ in hnsw_search(index, q, 5, ef=40)][:5]
    qn = q / np.linalg.norm(q)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = list(np.argsort([-(float(np.dot(x, qn))) for x in Xn], kind="stable")[:5])
    assert got == [ids[i] for i in want]


def test_recall_is_one_on_fixture_corpus(spark, sf_dir):
    """THE oracle-exactness guard: for every corpus vector as query, the
    default-ef beam search's candidate set must contain the true top-4 (k+1
    incl. self) by numpy ranking. If a regeneration breaks this, demote
    vec_ann_hnsw_knn to rows-only."""
    ids, X = _corpus(spark, sf_dir)
    index = hnsw_build(ids, X)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn.T
    misses = 0
    for qi in range(len(ids)):
        true_top = set(
            ids[j] for j in np.argsort(-sims[qi], kind="stable")[:4]
        )
        cands = set(nid for nid, _ in hnsw_search(index, X[qi], 4))
        misses += len(true_top - cands)
    assert misses == 0, f"{misses} true-neighbor misses at default ef"


def test_build_is_deterministic(spark, sf_dir):
    ids, X = _corpus(spark, sf_dir)
    a = hnsw_build(ids, X)
    b = hnsw_build(ids, X)
    assert a["entry"] == b["entry"] and a["max_level"] == b["max_level"]
    assert a["layers"] == b["layers"]


def test_graph_invariants(spark, sf_dir):
    """Degree caps (2M at layer 0, M above) and layer-0 connectivity —
    connectivity is what makes high-ef search exhaustive-equivalent."""
    ids, X = _corpus(spark, sf_dir)
    M = 16
    index = hnsw_build(ids, X, M=M)
    for lvl, adj in enumerate(index["layers"]):
        cap = 2 * M if lvl == 0 else M
        for node, nbrs in adj.items():
            assert len(nbrs) <= cap, f"layer {lvl} node {node} degree {len(nbrs)}"
            assert node not in nbrs, "self-loop"
    # BFS over layer 0 from the entry point reaches every node
    adj0 = index["layers"][0]
    seen = {index["entry"]}
    frontier = [index["entry"]]
    while frontier:
        nxt = []
        for n in frontier:
            for nb in adj0.get(n, ()):
                if nb not in seen:
                    seen.add(nb)
                    nxt.append(nb)
        frontier = nxt
    assert len(seen) == len(ids), f"layer 0 disconnected: {len(seen)}/{len(ids)}"


def test_seq_cos_matches_spark_fold(spark):
    """The emitted cosine must reproduce Spark's sequential F.aggregate
    fold bit-for-bit (same operation order) — the property the 6-decimal
    oracle rounding relies on."""
    from cinegraph_spark.functions import vector as V

    rng = np.random.default_rng(3)
    a = [float(x) for x in rng.normal(size=64)]
    b = [float(x) for x in rng.normal(size=64)]
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    ).select(V.cosine(F.col("a"), F.col("b")).alias("c"))
    spark_c = df.collect()[0]["c"]
    assert _seq_cos(a, b) == spark_c


def test_distributed_knn_matches_driver_search(spark, sf_dir):
    """The mapInPandas path returns exactly what driver-side search +
    sequential re-scoring produce (broadcast/Arrow plumbing adds nothing)."""
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    out = hnsw_cosine_knn(e, e.filter(F.col("vec_id") < 5), k=3)
    got = {
        (r["qid"], r["rnk"]): (r["nid"], r["cos_sim"]) for r in out.collect()
    }
    ids, X = _corpus(spark, sf_dir)
    index = hnsw_build(ids, X)
    pos = {v: i for i, v in enumerate(ids)}
    for qid in range(5):
        qv = X[pos[qid]]
        cands = [n for n, _ in hnsw_search(index, qv, 4) if n != qid]
        scored = sorted(
            ((round(_seq_cos(qv, X[pos[n]]), 6), n) for n in cands),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        for rnk, (cs, nid) in enumerate(scored, 1):
            assert got[(qid, rnk)] == (nid, cs)


def test_partitioned_knn_is_partition_invariant(spark, sf_dir):
    """The scatter-gather result must not depend on n_partitions — the
    candidate-union + re-rank recovers the same global top-k whether the
    corpus is 1 partition (== the single-index answer) or 8."""
    from cinegraph_spark.operators.hnsw import hnsw_partitioned_knn
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = e.filter(F.col("vec_id") < 10)
    one = sorted(
        map(tuple, hnsw_partitioned_knn(e, q, k=3, n_partitions=1).collect())
    )
    eight = sorted(
        map(tuple, hnsw_partitioned_knn(e, q, k=3, n_partitions=8).collect())
    )
    assert one == eight and len(one) == 30


def test_partitioned_knn_exact_for_every_corpus_query(spark, sf_dir):
    """Full-corpus exactness sweep: with EVERY corpus vector as a query,
    the scatter-gather answer equals brute force — the partition-level
    recall-1 guarantee the exact oracle rests on, tested directly."""
    from cinegraph_spark.operators.hnsw import hnsw_partitioned_knn
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    got = {
        (r["qid"], r["rnk"]): r["nid"]
        for r in hnsw_partitioned_knn(e, e, k=3, n_partitions=8).collect()
    }
    ids, X = _corpus(spark, sf_dir)
    pos = {v: i for i, v in enumerate(ids)}
    for qid in ids:
        qv = X[pos[qid]]
        scored = sorted(
            ((round(_seq_cos(qv, X[pos[n]]), 6), n) for n in ids if n != qid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        for rnk, (_, nid) in enumerate(scored, 1):
            assert got[(qid, rnk)] == nid, (qid, rnk, nid, got[(qid, rnk)])


def test_served_index_query_many_and_exact(spark, sf_dir, tmp_path):
    """Build-once/query-many: ONE persisted index table answers two
    different query batches, both exactly equal to brute force — the
    serving shape `vec_ann_hnsw_served_knn` rests on."""
    from cinegraph_spark.operators.hnsw import hnsw_index_knn, hnsw_index_save
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "hnsw_index")
    hnsw_index_save(e, path, target_rows_per_subindex=256)

    ids, X = _corpus(spark, sf_dir)
    pos = {v: i for i, v in enumerate(ids)}

    for lo, hi in ((0, 5), (5, 12)):
        batch = e.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
        got = {
            (r["qid"], r["rnk"]): (r["nid"], r["cos_sim"])
            for r in hnsw_index_knn(spark, path, batch, k=3).collect()
        }
        for qid in range(lo, hi):
            qv = X[pos[qid]]
            scored = sorted(
                (
                    (round(_seq_cos(qv, X[pos[n]]), 6), n)
                    for n in ids
                    if n != qid
                ),
                key=lambda t: (-t[0], t[1]),
            )[:3]
            for rnk, (cs, nid) in enumerate(scored, 1):
                assert got[(qid, rnk)] == (nid, cs), (lo, qid, rnk)


def test_served_index_partition_invariant(spark, sf_dir, tmp_path):
    """The persisted form keeps the scatter-gather invariance: 1-row and
    8-row serving tables answer identically."""
    from cinegraph_spark.operators.hnsw import hnsw_index_knn, hnsw_index_save
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = e.filter(F.col("vec_id") < 10)
    p1 = str(tmp_path / "idx1")
    p8 = str(tmp_path / "idx8")
    hnsw_index_save(e, p1, n_partitions=1)
    hnsw_index_save(e, p8, n_partitions=8)
    one = sorted(map(tuple, hnsw_index_knn(spark, p1, q, k=3).collect()))
    eight = sorted(map(tuple, hnsw_index_knn(spark, p8, q, k=3).collect()))
    assert one == eight and len(one) == 30
    # serving-table shape: exactly one row per partition
    assert spark.read.parquet(p1).count() == 1
    assert spark.read.parquet(p8).count() <= 8


def _blob_rows(spark, path):
    return sorted(
        (r["part_id"], r["n_partitions"], r["n_vectors"], bytes(r["blob"]))
        for r in spark.read.parquet(path).collect()
    )


def test_index_update_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Incremental maintenance contract: save over yesterday's corpus,
    apply today's arrivals via hnsw_index_update, and the serving table
    must be BIT-IDENTICAL to a fresh full save of the final corpus — the
    deterministic build over deterministic membership makes the update
    path indistinguishable from a rebuild, at touched-partition cost."""
    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0).select("vec_id")

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    hnsw_index_save(yesterday, inc, n_partitions=8)
    stats = hnsw_index_update(e, delta, inc)
    hnsw_index_save(e, full, n_partitions=8)

    assert stats["n_partitions"] == 8
    assert _blob_rows(spark, inc) == _blob_rows(spark, full)


def test_index_update_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    """Only the partitions the delta hashes into are rebuilt; every other
    blob row is carried over byte-for-byte, and an empty delta is a
    no-op that leaves the table untouched."""
    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=8)
    before = _blob_rows(spark, path)

    # empty delta: nothing rebuilt, table bytes unchanged
    stats = hnsw_index_update(e, e.filter("vec_id < 0").select("vec_id"), path)
    assert stats["rebuilt_partitions"] == []
    assert _blob_rows(spark, path) == before

    # single-vector delta: exactly that vector's partition rebuilds
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    stats = hnsw_index_update(e, one, path)
    assert len(stats["rebuilt_partitions"]) == 1
    after = _blob_rows(spark, path)
    # content is unchanged (same corpus) -> determinism makes the rebuilt
    # blob identical too; the stats prove it was a 1-partition rebuild
    assert after == before


def test_index_update_drops_emptied_partition(spark, sf_dir, tmp_path):
    """Deleting every vector of a partition removes its serving row (there
    is nothing left to search there), and the survivors still answer."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=4)
    victim = spark.read.parquet(path).orderBy("part_id").first()["part_id"]

    from cinegraph_spark.operators.maintenance import hash_part_expr

    doomed = e.withColumn("part_id", hash_part_expr(4, "vec_id")).filter(
        F.col("part_id") == victim
    )
    survivors = e.join(doomed.select("vec_id"), "vec_id", "left_anti")
    stats = hnsw_index_update(survivors, doomed.select("vec_id"), path)
    assert stats["rebuilt_partitions"] == [victim]
    assert victim not in {
        r["part_id"] for r in spark.read.parquet(path).collect()
    }
    q = survivors.select("vec_id", "v").limit(3)
    assert hnsw_index_knn(spark, path, q, k=3).count() > 0


def test_index_save_invariant_to_incoming_partitioning(
    spark, sf_dir, tmp_path
):
    """The serving table's blob bytes are a pure function of the corpus,
    not of how the input frame happened to be partitioned: the explicit
    repartition(n, vec_id) + ascending-id insertion fixes membership and
    order regardless of the upstream layout."""
    from cinegraph_spark.operators.hnsw import hnsw_index_save
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    p3 = str(tmp_path / "p3")
    p13 = str(tmp_path / "p13")
    hnsw_index_save(e.repartition(3), p3, n_partitions=8)
    hnsw_index_save(e.repartition(13), p13, n_partitions=8)
    assert _blob_rows(spark, p3) == _blob_rows(spark, p13)


def test_index_save_refuses_null_vec_id(spark, sf_dir, tmp_path):
    """hash(NULL) would land the row in a real partition that
    hnsw_index_update (which refuses NULL delta keys) could never address
    again — the save must refuse up front, mirroring ivf_centroids_save
    (r12 ADVICE)."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    poisoned = e.unionByName(
        e.limit(1).select(
            F.lit(None).cast("long").alias("vec_id"), F.col("v")
        )
    )
    with _pytest.raises(ValueError, match="NULL vec_id"):
        hnsw_index_save(poisoned, str(tmp_path / "idx"), n_partitions=4)


def test_index_update_names_stale_shape_tables(spark, sf_dir, tmp_path):
    """A serving table saved by pre-r12 code (part_id present, key_ddl
    absent) must get the friendly rebuild error, not a raw
    AnalysisException from the identity select (r12 ADVICE)."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    stale = str(tmp_path / "stale")
    hnsw_index_save(e, path, n_partitions=4)
    spark.read.parquet(path).drop("key_ddl").write.parquet(stale)
    one = e.filter(F.col("vec_id") == 1).select("vec_id")
    with _pytest.raises(ValueError, match="rebuild it once with hnsw_index_save"):
        hnsw_index_update(e, one, stale)


def test_read_refuses_index_missing_identity(spark, sf_dir, tmp_path):
    """The blob table is read under its declared schema, which reads a
    column the files lack as NULL; every reader of the stored identity
    must refuse such a table by the column's name."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_filtered_knn,
        hnsw_index_save,
        hnsw_index_update,
    )

    e = _emb_vid_v(spark, sf_dir)
    path, stale = str(tmp_path / "idx"), str(tmp_path / "stale")
    hnsw_index_save(e, path, n_partitions=4)
    spark.read.parquet(path).drop("key_ddl").write.partitionBy(
        "part_id"
    ).parquet(stale)
    one = e.filter(F.col("vec_id") == 1)
    with _pytest.raises(ValueError, match="key_ddl"):
        hnsw_index_filtered_knn(spark, stale, one, e.select("vec_id"))
    with _pytest.raises(ValueError, match="key_ddl"):
        hnsw_index_update(e, one.select("vec_id"), stale)
    with _pytest.raises(ValueError, match="key_ddl"):
        hnsw_corpus_layout(e, str(tmp_path / "corpus"), stale)


def test_index_update_rejects_divergent_parameters(spark, sf_dir, tmp_path):
    """M / ef_construction are part of the stored index identity: an
    update with different explicit values must refuse (a divergent
    rebuild would silently break incremental-equals-full-rebuild), while
    omitting them reads the stored values back."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, M=16, ef_construction=128, n_partitions=4)
    one = e.filter(F.col("vec_id") == 1).select("vec_id")
    with _pytest.raises(ValueError, match="M=8 differs"):
        hnsw_index_update(e, one, path, M=8)
    with _pytest.raises(ValueError, match="ef_construction=64 differs"):
        hnsw_index_update(e, one, path, ef_construction=64)
    stats = hnsw_index_update(e, one, path)  # stored params read back
    assert len(stats["rebuilt_partitions"]) == 1


def test_index_update_delta_key_type_is_normalized(spark, sf_dir, tmp_path):
    """Murmur3(int) != Murmur3(long) for the same value: a delta arriving
    with a narrower vec_id type than the corpus must still mark the RIGHT
    partitions (the update casts the delta key to e's type before
    hashing), not silently rebuild unrelated ones."""
    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=8)

    delta_long = e.filter(F.col("vec_id") == 7).select("vec_id")
    delta_int = delta_long.select(F.col("vec_id").cast("int").alias("vec_id"))
    want = hnsw_index_update(e, delta_long, path)["rebuilt_partitions"]
    got = hnsw_index_update(e, delta_int, path)["rebuilt_partitions"]
    assert got == want and len(got) == 1


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_index_update_equals_full_rebuild_random_deltas(
    spark, sf_dir, tmp_path
):
    """Property form of the incremental contract: for ARBITRARY delta
    shapes (random modulus/remainder membership — sparse, dense, or
    empty), save(yesterday) + update(delta) must be bit-identical to
    save(full). Catches any delta-shape-dependent bug the fixed
    vec_id % 5 split can't (e.g. a delta hitting one partition, all
    partitions, or none)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=True)
    counter = [0]

    @settings(max_examples=6, deadline=None)
    @given(mod=st.integers(2, 50), rem=st.integers(0, 4))
    def check(mod, rem):
        counter[0] += 1
        inc = str(tmp_path / f"inc{counter[0]}")
        full = str(tmp_path / f"full{counter[0]}")
        delta = e.filter((F.col("vec_id") % mod) == (rem % mod)).select(
            "vec_id"
        )
        yesterday = e.join(delta, "vec_id", "left_anti")
        hnsw_index_save(yesterday, inc, n_partitions=4)
        hnsw_index_update(e, delta, inc)
        hnsw_index_save(e, full, n_partitions=4)
        assert _blob_rows(spark, inc) == _blob_rows(spark, full)

    check()


def test_index_update_on_empty_table_degrades_to_full_save(
    spark, sf_dir, tmp_path
):
    """A serving table built over a zero-row corpus has no rows and so no
    recoverable partition identity; updating it must degrade to a fresh
    full save instead of crashing (the zero-row robustness sweep's
    vec_ann_hnsw_incremental_knn case)."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e.filter("vec_id < 0"), path, n_partitions=8)
    assert spark.read.schema(_INDEX_SCHEMA).parquet(path).count() == 0
    stats = hnsw_index_update(e, e.select("vec_id"), path)
    assert stats["full_rebuild"] is True
    q = e.filter(F.col("vec_id") < 3)
    assert hnsw_index_knn(spark, path, q, k=3).count() == 9


def test_index_update_rejects_malformed_delta_keys(spark, sf_dir, tmp_path):
    """A delta vec_id that is NULL or fails the cast to the corpus key
    type must raise a named error, not silently hash as NULL and mark an
    arbitrary partition while the intended one keeps a stale blob (r11
    ADVICE). try_cast keeps the failure a ValueError even under ANSI."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=8)
    before = _blob_rows(spark, path)

    null_delta = spark.createDataFrame([(None,)], "vec_id long")
    with _pytest.raises(ValueError, match="NULL or do not cast"):
        hnsw_index_update(e, null_delta, path)

    str_delta = spark.createDataFrame([("7",), ("not-a-key",)], "vec_id string")
    with _pytest.raises(ValueError, match="1 delta vec_id"):
        hnsw_index_update(e, str_delta, path)

    # the refusal happened before any write: table bytes untouched
    assert _blob_rows(spark, path) == before


def test_index_reshard_after_growth_equals_fresh_save(spark, sf_dir, tmp_path):
    """The growth loop the r11 verdict asked to close: save a small
    corpus (right-sized), grow it via hnsw_index_update (n_partitions is
    immutable identity, so sub-indexes bloat), then hnsw_index_reshard
    detects the drift past RESHARD_TRIGGER_RATIO × target and rebuilds —
    and the
    result is BIT-IDENTICAL to a fresh full save at the same target."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_reshard,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    grown = str(tmp_path / "grown")
    fresh = str(tmp_path / "fresh")
    yesterday = e.filter(F.col("vec_id") % 5 == 0)  # 20% of the corpus
    delta = e.filter(F.col("vec_id") % 5 != 0).select("vec_id")
    # right-sized for yesterday: ~100 rows/partition at sf0.001
    hnsw_index_save(yesterday, grown, target_rows_per_subindex=100)
    n_before = spark.read.parquet(grown).first()["n_partitions"]
    hnsw_index_update(e, delta, grown)  # 5x growth, same n_partitions
    stats = hnsw_index_reshard(e, grown, target_rows_per_subindex=100)
    assert stats["resharded"] is True
    assert stats["previous_n_partitions"] == n_before
    assert stats["max_subindex_rows"] > 2.0 * 100
    assert stats["n_partitions"] > n_before
    hnsw_index_save(e, fresh, target_rows_per_subindex=100)
    assert _blob_rows(spark, grown) == _blob_rows(spark, fresh)


def test_index_reshard_noop_below_trigger_and_force(spark, sf_dir, tmp_path):
    """A right-sized table is a metadata-only no-op (resharded=False,
    bytes untouched); force=True re-shards anyway and stays bit-identical
    to a fresh save (stored M/efc are reused)."""
    from cinegraph_spark.operators.hnsw import hnsw_index_reshard, hnsw_index_save
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, target_rows_per_subindex=100)
    before = _blob_rows(spark, path)
    stats = hnsw_index_reshard(e, path, target_rows_per_subindex=100)
    assert stats["resharded"] is False
    assert stats["n_partitions"] == stats["previous_n_partitions"]
    assert _blob_rows(spark, path) == before
    stats = hnsw_index_reshard(
        e, path, target_rows_per_subindex=100, force=True
    )
    assert stats["resharded"] is True
    assert _blob_rows(spark, path) == before  # same corpus, same target


def test_index_reshard_vacuous_table_rebuilds(spark, sf_dir, tmp_path):
    """A zero-row serving table has no recoverable identity: reshard
    degrades to a fresh full save of the current corpus (same rule as
    hnsw_index_update)."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_reshard,
        hnsw_index_save,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e.filter("vec_id < 0"), path, n_partitions=4)
    stats = hnsw_index_reshard(e, path, target_rows_per_subindex=100)
    assert stats["resharded"] is True and stats["previous_n_partitions"] is None
    q = e.filter(F.col("vec_id") < 3)
    assert hnsw_index_knn(spark, path, q, k=3).count() == 9


def test_swap_write_leaves_no_sibling_dirs(spark, sf_dir, tmp_path):
    """Every serving-table write goes through the atomic sibling-swap; a
    SUCCESSFUL save/update/reshard must leave no __swap__ debris next to
    the table (the sibling only survives a crash, where it is the
    recovery copy)."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_reshard,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=4)
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    hnsw_index_update(e, one, path)
    hnsw_index_reshard(e, path, target_rows_per_subindex=100, force=True)
    leftovers = [p.name for p in tmp_path.iterdir() if "__swap__" in p.name]
    assert leftovers == []


def test_stream_update_equals_full_save(spark, sf_dir, tmp_path):
    """Draining the arrivals as a 4-micro-batch stream through
    serving_stream_update must leave the serving table bit-identical
    to a fresh full save of the final corpus — the streaming form of the
    incremental contract."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    arrivals_dir = str(tmp_path / "arrivals")
    delta.repartition(4).write.parquet(arrivals_dir)
    path, full = str(tmp_path / "idx"), str(tmp_path / "full")
    hnsw_index_save(base, path, n_partitions=8)
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = str(tmp_path / "land")
    serving_stream_update(
        arrivals, hnsw_stream_maintenance_sink(base, land, path), land
    )
    hnsw_index_save(e, full, n_partitions=8)
    assert _blob_rows(spark, path) == _blob_rows(spark, full)


def test_stream_sink_over_versioned_index(spark, sf_dir, tmp_path):
    """The stream sink maintains a ``keep_generations`` index through its
    newest committed generation (the root itself holds no data file):
    after a two-batch drain the served k-NN equals a fresh full save of
    the final corpus."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.serving_io import serving_stream_update

    e = _emb_vid_v(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    arrivals_dir = str(tmp_path / "arrivals")
    e.filter(F.col("vec_id") % 5 == 0).repartition(2).write.parquet(
        arrivals_dir
    )
    path, full = str(tmp_path / "idx"), str(tmp_path / "full")
    hnsw_index_save(base, path, n_partitions=4, keep_generations=2)
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = str(tmp_path / "land")
    serving_stream_update(
        arrivals, hnsw_stream_maintenance_sink(base, land, path), land
    )
    hnsw_index_save(e, full, n_partitions=4)
    q = e.filter(F.col("vec_id") % 7 == 0)
    got = hnsw_index_knn(spark, path, q, k=3).collect()
    assert got and sorted(got) == sorted(
        hnsw_index_knn(spark, full, q, k=3).collect()
    )


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: replaying a batch — immediately or
    AFTER later batches landed (driver restart from an old checkpoint) —
    must leave the landing zone and the serving table byte-identical to
    the single-delivery run, because the landing is batch-id-keyed
    overwrite and the rebuild reads the landed corpus, not the delta."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    base = e.filter(F.col("vec_id") % 5 != 0)
    b0 = e.filter(F.col("vec_id") % 10 == 0)
    b1 = e.filter(F.col("vec_id") % 10 == 5)
    path = str(tmp_path / "idx")
    land = str(tmp_path / "land")
    hnsw_index_save(base, path, n_partitions=8)
    sink = hnsw_stream_maintenance_sink(base, land, path)

    sink(b0, 0)
    sink(b1, 1)
    want = _blob_rows(spark, path)
    n_landed = spark.read.option("recursiveFileLookup", "true").parquet(
        land
    ).count()

    sink(b1, 1)  # immediate replay of the last batch
    sink(b0, 0)  # late, out-of-order replay after a later batch landed
    assert _blob_rows(spark, path) == want
    assert (
        spark.read.option("recursiveFileLookup", "true").parquet(land).count()
        == n_landed
    )


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_update_with_auto_reshard_holds_growth_slo(
    spark, sf_dir, tmp_path
):
    """The complete daily-maintenance loop in one drain: with
    reshard_target_rows set, every batch's update is followed by a
    metadata-probe reshard, so the serving table never ends a batch with
    a sub-index past RESHARD_TRIGGER_RATIO x target — and the final
    table is bit-identical to a fresh save at its own stored partition
    count."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    base = e.filter(F.col("vec_id") % 5 == 0)  # 20%: growth is 5x
    delta = e.filter(F.col("vec_id") % 5 != 0)
    arrivals_dir = str(tmp_path / "arrivals")
    delta.repartition(4).write.parquet(arrivals_dir)
    path = str(tmp_path / "idx")
    target = 100
    hnsw_index_save(base, path, target_rows_per_subindex=target)
    n0 = spark.read.parquet(path).first()["n_partitions"]
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = str(tmp_path / "land")
    serving_stream_update(
        arrivals,
        hnsw_stream_maintenance_sink(
            base, land, path, reshard_target_rows=target
        ),
        land,
    )
    final = spark.read.parquet(path)
    head = final.first()
    assert head["n_partitions"] > n0  # growth forced at least one reshard
    mx = final.agg(F.max("n_vectors").alias("m")).first()["m"]
    assert mx <= 2.0 * target  # the SLO the in-stream loop maintains
    full = str(tmp_path / "full")
    hnsw_index_save(e, full, n_partitions=int(head["n_partitions"]))
    assert _blob_rows(spark, path) == _blob_rows(spark, full)


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_arrivals_are_upserts_latest_batch_wins(
    spark, sf_dir, tmp_path
):
    """r12 review: an arrival re-embedding an EXISTING key must shadow the
    base row (never duplicate the key inside a sub-index), and a key
    delivered in several batches resolves to the highest batch id —
    deterministic under replay. Final table == full save of the corrected
    corpus; duplicate keys within one batch are refused."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # base holds a STALE embedding for key 3 (halved vector)
    stale3 = e.filter(F.col("vec_id") == 3).select(
        "vec_id", F.transform("v", lambda x: x * 0.5).alias("v")
    )
    base = e.filter(F.col("vec_id") != 3).unionByName(stale3)
    path = str(tmp_path / "idx")
    land = str(tmp_path / "land")
    hnsw_index_save(base, path, n_partitions=8)
    sink = hnsw_stream_maintenance_sink(base, land, path)

    # batch 0 delivers another stale re-embedding; batch 1 the true row —
    # highest batch id must win
    sink(
        e.filter(F.col("vec_id") == 3).select(
            "vec_id", F.transform("v", lambda x: x * 0.25).alias("v")
        ),
        0,
    )
    sink(e.filter(F.col("vec_id") == 3), 1)
    full = str(tmp_path / "full")
    hnsw_index_save(e, full, n_partitions=8)
    assert _blob_rows(spark, path) == _blob_rows(spark, full)

    # replaying the OLD batch after the new one landed must not regress
    sink(
        e.filter(F.col("vec_id") == 3).select(
            "vec_id", F.transform("v", lambda x: x * 0.25).alias("v")
        ),
        0,
    )
    assert _blob_rows(spark, path) == _blob_rows(spark, full)

    # two rows for one key inside a single batch: no defined winner —
    # refused by the layout upsert's per-call guard (the sink adds no
    # second pre-check job)
    dup = e.filter(F.col("vec_id") == 3).unionByName(
        e.filter(F.col("vec_id") == 3)
    )
    with _pytest.raises(ValueError, match="duplicate upsert vec_id"):
        sink(dup, 2)


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_update_resumes_from_checkpoint_as_noop(
    spark, sf_dir, tmp_path
):
    """r12 review: the drain runs against a REAL checkpoint derived from
    the landing zone, so re-invoking it over the same arrivals (a
    crash-recovery rerun) fires no new batches — the landed corpus and
    the serving table are byte-identical to the first run's."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    arrivals_dir = str(tmp_path / "arrivals")
    delta.repartition(3).write.parquet(arrivals_dir)
    path = str(tmp_path / "idx")
    land = str(tmp_path / "land")
    hnsw_index_save(base, path, n_partitions=8)

    def drain():
        arrivals = (
            spark.readStream.schema("vec_id long, v array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals_dir)
        )
        serving_stream_update(
            arrivals, hnsw_stream_maintenance_sink(base, land, path), land
        )

    drain()
    want = _blob_rows(spark, path)
    before = _land_files(land)
    drain()  # recovery rerun: checkpoint says everything is consumed
    assert _blob_rows(spark, path) == want
    # the corpus layout is byte-untouched: a recovered drain fires no
    # batches, so no directory is re-merged
    assert _land_files(land) == before


def _land_files(land: str) -> dict:
    """relpath -> mtime_ns of every file in the landing layout."""
    import os as _os

    out = {}
    for root, _dirs, names in _os.walk(land):
        for n in names:
            p = _os.path.join(root, n)
            out[_os.path.relpath(p, land)] = _os.stat(p).st_mtime_ns
    return out


def test_index_update_rejects_corpus_key_type_drift(spark, sf_dir, tmp_path):
    """r12 review: the hash layout is part of the stored identity
    (key_ddl column); a corpus re-read with a narrower vec_id type would
    rebuild the WRONG partitions — refuse instead."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=8)
    drifted = e.select(F.col("vec_id").cast("int").alias("vec_id"), "v")
    one = drifted.filter(F.col("vec_id") == 7).select("vec_id")
    with _pytest.raises(ValueError, match="stored key type bigint"):
        hnsw_index_update(drifted, one, path)


def _emb_vid_v(spark, sf_dir):
    from cinegraph_spark.queries.util import T

    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def test_index_update_layout_mode_bit_identical(spark, sf_dir, tmp_path):
    """r13 (closes the r12 weak finding): the corpus passed as a
    hnsw_corpus_layout PATH — maintained by hash_layout_upsert, read
    back pruned — must produce the exact same serving-table bytes as
    the DataFrame-mode update and as a fresh full save."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_save,
        hnsw_index_update,
    )
    from cinegraph_spark.operators.maintenance import hash_layout_upsert

    e = _emb_vid_v(spark, sf_dir)
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    arrivals = e.filter(F.col("vec_id") % 5 == 0)
    delta = arrivals.select("vec_id")

    p_df, p_lay, p_full = (
        str(tmp_path / n) for n in ("df", "lay", "full")
    )
    hnsw_index_save(yesterday, p_df, n_partitions=8)
    r_df = hnsw_index_update(e, delta, p_df)

    corpus = str(tmp_path / "corpus")
    hnsw_index_save(yesterday, p_lay, n_partitions=8)
    hnsw_corpus_layout(yesterday, corpus, p_lay)
    hash_layout_upsert(spark, corpus, arrivals)
    r_lay = hnsw_index_update(corpus, delta, p_lay)

    hnsw_index_save(e, p_full, n_partitions=8)
    assert r_df["rebuilt_partitions"] == r_lay["rebuilt_partitions"]
    full = _blob_rows(spark, p_full)
    assert _blob_rows(spark, p_df) == full
    assert _blob_rows(spark, p_lay) == full


def test_index_update_layout_mode_never_opens_untouched_dirs(
    spark, sf_dir, tmp_path
):
    """The scan-∝-change proof, end to end: poison an UNTOUCHED corpus
    directory with a corrupt file — the pruned update sails past it and
    still lands the right bytes; a delta touching the poisoned
    directory fails, proving the poison is live."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_save,
        hnsw_index_update,
    )

    e = _emb_vid_v(spark, sf_dir)
    path, corpus, full = (
        str(tmp_path / n) for n in ("idx", "corpus", "full")
    )
    hnsw_index_save(e, path, n_partitions=8)
    hnsw_corpus_layout(e, corpus, path)

    # two keys in different partitions: one delta target, one victim
    parts = {
        int(r["p"]): int(r["vec_id"])
        for r in e.select(
            "vec_id",
            F.pmod(F.hash("vec_id"), F.lit(8)).cast("int").alias("p"),
        ).collect()
    }
    (touch_part, touch_key), (victim_part, victim_key) = sorted(
        parts.items()
    )[:2]
    import os as _os

    with open(
        _os.path.join(corpus, f"part_id={victim_part}", "poison.parquet"),
        "wb",
    ) as f:
        f.write(b"not parquet")

    one = e.filter(F.col("vec_id") == touch_key).select("vec_id")
    hnsw_index_update(corpus, one, path)  # never reads the poisoned dir
    hnsw_index_save(e, full, n_partitions=8)
    assert _blob_rows(spark, path) == _blob_rows(spark, full)

    poisoned = e.filter(F.col("vec_id") == victim_key).select("vec_id")
    with _pytest.raises(Exception):
        hnsw_index_update(corpus, poisoned, path)


def test_index_update_refuses_stale_layout_modulus(spark, sf_dir, tmp_path):
    """A layout saved before a reshard holds directories under the wrong
    modulus — pruned reads would rebuild partial partitions; the update
    must refuse with the named re-layout error instead."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_reshard,
        hnsw_index_save,
        hnsw_index_update,
    )

    e = _emb_vid_v(spark, sf_dir)
    path, corpus = str(tmp_path / "idx"), str(tmp_path / "corpus")
    hnsw_index_save(e, path, n_partitions=8)
    hnsw_corpus_layout(e, corpus, path)
    hnsw_index_reshard(e, path, target_rows_per_subindex=10_000, force=True)
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    with _pytest.raises(ValueError, match="re-run hnsw_corpus_layout"):
        hnsw_index_update(corpus, one, path)


def test_corpus_layout_guards(spark, sf_dir, tmp_path):
    """hnsw_corpus_layout degrades a vacuous index to a modulus-1 layout
    (no identity to mirror; the first real update refuses the modulus
    mismatch with the named re-layout error) and refuses a
    key-type-drifted corpus (the directories would disagree with the
    index's hash layout)."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import (
        hnsw_corpus_layout,
        hnsw_index_save,
    )
    from cinegraph_spark.operators.maintenance import layout_meta

    e = _emb_vid_v(spark, sf_dir)
    path = str(tmp_path / "idx")
    hnsw_index_save(e.filter("vec_id < 0"), path, n_partitions=4)
    hnsw_corpus_layout(e, str(tmp_path / "c1"), path)
    assert layout_meta(spark, str(tmp_path / "c1"))["n_partitions"] == 1
    hnsw_index_save(e, path, n_partitions=4)
    drifted = e.select(F.col("vec_id").cast("int").alias("vec_id"), "v")
    with _pytest.raises(ValueError, match="stored key type"):
        hnsw_corpus_layout(drifted, str(tmp_path / "c2"), path)


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_long_run_per_batch_cost_is_bounded(spark, sf_dir, tmp_path):
    """r13 (closes the r12 advisory): the landing zone IS the compacted
    corpus layout, so an 8-batch drain (1) keeps the landing state at
    corpus size — never cumulative-arrival size, (2) leaves every
    directory a batch does not hash into byte-untouched during that
    batch, and (3) still converges to bit-identity with a full save."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )
    from cinegraph_spark.operators.maintenance import layout_read

    e = _emb_vid_v(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 9 == 0)
    path, land = str(tmp_path / "idx"), str(tmp_path / "land")
    hnsw_index_save(base, path, n_partitions=8)
    sink = hnsw_stream_maintenance_sink(base, land, path)

    n_corpus_seen = []
    for b in range(8):
        batch = e.filter(F.col("vec_id") % 9 == (b + 1))
        touched = {
            int(r["p"])
            for r in batch.select(
                F.pmod(F.hash("vec_id"), F.lit(8)).cast("int").alias("p")
            )
            .distinct()
            .collect()
        }
        before = {
            k: v
            for k, v in _land_files(land).items()
            if not any(k.startswith(f"part_id={p}/") for p in touched)
        } if b > 0 else None
        sink(batch, b)
        if before is not None:
            after = {
                k: v
                for k, v in _land_files(land).items()
                if not any(k.startswith(f"part_id={p}/") for p in touched)
            }
            assert after == before, f"batch {b} touched a foreign dir"
        n_corpus_seen.append(layout_read(spark, land).count())

    # the landing state is the compacted corpus: its row count equals the
    # true corpus size after each batch (upserts never accumulate)
    sizes = [
        base.count() + e.filter(
            (F.col("vec_id") % 9 >= 1) & (F.col("vec_id") % 9 <= b + 1)
        ).count()
        for b in range(8)
    ]
    assert n_corpus_seen == sizes
    full = str(tmp_path / "full")
    hnsw_index_save(e, full, n_partitions=8)
    assert _blob_rows(spark, path) == _blob_rows(spark, full)


def test_index_update_rewrites_only_touched_blob_directories(
    spark, sf_dir, tmp_path
):
    """r13 write-∝-change pin: the serving table is partitioned by
    part_id and an update replaces ONLY the touched sub-index
    directories — every untouched blob FILE keeps its path and mtime
    (blobs embed their partition's vectors, so carrying them through a
    full-table rewrite would be a corpus-sized write per delta)."""
    import os as _os

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update

    e = _emb_vid_v(spark, sf_dir)
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, n_partitions=8)
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    touched = {
        int(
            e.filter(F.col("vec_id") == 7)
            .select(F.pmod(F.hash("vec_id"), F.lit(8)).cast("int").alias("p"))
            .first()["p"]
        )
    }

    def snapshot():
        out = {}
        for root, _dirs, names in _os.walk(path):
            if any(
                f"part_id={p}" == _os.path.basename(root) for p in touched
            ):
                continue
            for n in names:
                p_ = _os.path.join(root, n)
                out[_os.path.relpath(p_, path)] = _os.stat(p_).st_mtime_ns
        return out

    before = snapshot()
    stats = hnsw_index_update(e, one, path)
    assert set(stats["rebuilt_partitions"]) == touched
    after = snapshot()
    # untouched directories: identical file sets, identical mtimes
    # (_SUCCESS at the root is rewritten by the commit protocol — drop it)
    before.pop("_SUCCESS", None)
    after.pop("_SUCCESS", None)
    assert after == before


def test_index_update_refuses_flat_pre_r13_table(spark, sf_dir, tmp_path):
    """A flat (non-directory-partitioned) serving table written by
    pre-r13 code cannot take a dynamic partition overwrite — directories
    would land NEXT TO the stale flat files and the table would serve
    both; the named rebuild error fires instead."""
    import pytest as _pytest

    from cinegraph_spark.operators.hnsw import hnsw_index_save, hnsw_index_update

    e = _emb_vid_v(spark, sf_dir)
    path = str(tmp_path / "idx")
    flat = str(tmp_path / "flat")
    hnsw_index_save(e, path, n_partitions=4)
    # materialize the same rows as a FLAT table (part_id as data column)
    spark.read.parquet(path).write.parquet(flat)
    one = e.filter(F.col("vec_id") == 1).select("vec_id")
    with _pytest.raises(ValueError, match="this one is flat"):
        hnsw_index_update(e, one, flat)


def test_stream_sink_refuses_non_layout_landing_zone(spark, tmp_path):
    """A non-empty land_dir WITHOUT a layout manifest (e.g. a pre-r13
    batch-keyed landing zone whose batches the checkpoint already marked
    consumed) must be refused, not silently re-seeded from base — the
    swap would discard arrivals that can never replay."""
    import pytest
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.hnsw import (
        hnsw_index_save,
        hnsw_stream_maintenance_sink,
    )

    e = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=7) for _ in range(4)]).alias("v"),
    )
    path = str(tmp_path / "index")
    hnsw_index_save(e, path, n_partitions=2)
    land = str(tmp_path / "land")
    e.limit(3).write.parquet(land + "/batch-00000000")
    sink = hnsw_stream_maintenance_sink(e, land, path)
    batch = e.limit(1)
    with pytest.raises(ValueError, match="not a clustered layout"):
        sink(batch, 0)


def test_filtered_knn_exact_and_prunes_unadmissible_subindexes(
    spark, sf_dir, tmp_path
):
    """hnsw_index_filtered_knn (r14): pre-filter semantics with the
    family's exactness — k ADMISSIBLE neighbors, hash-equal to brute
    force over the admissible set; sub-indexes holding no admissible
    vector are pruned before they are even unpickled (proved by
    poisoning every other partition's blob bytes); admissible-key type
    drift is refused; an empty admissible set returns zero rows."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_filtered_knn,
        hnsw_index_save,
    )
    from cinegraph_spark.operators.maintenance import hash_part_expr
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    path = str(tmp_path / "idx")
    hnsw_index_save(e, path, target_rows_per_subindex=128)
    q = e.filter(F.col("vec_id") < 5)

    # admissible = every id hashing into ONE partition of the saved table
    n_parts = spark.read.parquet(path).select("n_partitions").first()[0]
    assert n_parts >= 2  # the prune claim needs something to prune
    with_part = e.withColumn(
        "part_id", hash_part_expr(int(n_parts), "vec_id")
    )
    admissible = with_part.filter(F.col("part_id") == 0).select("vec_id")

    want = sorted(
        map(
            tuple,
            hnsw_index_filtered_knn(spark, path, q, admissible, k=3)
            .collect(),
        )
    )
    # brute force over the admissible set (excluding self-matches)
    brute = sorted(
        (r["qid"], r["nid"], r["cos_sim"], r["rnk"])
        for r in admissible.join(e, "vec_id")
        .select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
        .crossJoin(
            q.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
        )
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(
                F.expr(
                    "aggregate(zip_with(nv, qv, (x, y) -> x * y), 0D, "
                    "(a, b) -> a + b) / (sqrt(aggregate(nv, 0D, (a, b) -> "
                    "a + b * b)) * sqrt(aggregate(qv, 0D, (a, b) -> "
                    "a + b * b)))"
                ),
                6,
            ).alias("cos_sim"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("qid")
                .orderBy(F.desc("cos_sim"), F.asc("nid"))
            )
            .cast("long"),
        )
        .filter(F.col("rnk") <= 3)
        .collect()
    )
    assert want == brute and len(want) > 0

    # poison every OTHER partition's blob: the filtered search must not
    # unpickle them (an opened poisoned blob raises), and still answers
    poisoned = str(tmp_path / "poisoned")
    spark.read.parquet(path).withColumn(
        "blob",
        F.when(F.col("part_id") == 0, F.col("blob")).otherwise(
            F.lit(b"not a pickle")
        ),
    ).write.partitionBy("part_id").parquet(poisoned)
    got = sorted(
        map(
            tuple,
            hnsw_index_filtered_knn(spark, poisoned, q, admissible, k=3)
            .collect(),
        )
    )
    assert got == want

    # empty admissible set: zero rows, no error
    assert (
        hnsw_index_filtered_knn(
            spark, path, q, admissible.filter(F.lit(False)), k=3
        ).count()
        == 0
    )

    # key-type drift refused
    with pytest.raises(ValueError, match="differs"):
        hnsw_index_filtered_knn(
            spark,
            path,
            q,
            admissible.select(F.col("vec_id").cast("int").alias("vec_id")),
            k=3,
        )
