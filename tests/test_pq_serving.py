"""PQ codes serving-table maintenance contract
(operators/similarity.py::pq_codes_save/update, pq_index_topk) — the
PQ-tier mirror of the HNSW/IVF serving contracts, with one structural
difference the tests pin directly: the codes table is CORPUS-sized, so
maintenance must replace only the touched partition DIRECTORIES (dynamic
partition overwrite + explicit drops), never rewrite untouched files.

Correctness weight: encoding is deterministic (nearest codebook entry,
first-index ties), so update-touched-partitions-only is BIT-IDENTICAL to
a fresh full encode, and the served search equals the encode-per-query
pq_topk — which carries the family's recall pins (tests/test_ann_recall).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

_BOOKS = {}


def _corpus(spark, sf_dir):
    from cinegraph_spark.queries.util import T

    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _books(spark, sf_dir):
    from cinegraph_spark.operators.similarity import pq_train

    if sf_dir not in _BOOKS:
        _BOOKS[sf_dir] = pq_train(_corpus(spark, sf_dir), m=8, k=16)
    return _BOOKS[sf_dir]


def _codes_rows(spark, path):
    _, _, _, schema, root = __import__(
        "cinegraph_spark.operators.similarity", fromlist=["_pq_read_state"]
    )._pq_read_state(spark, path)
    return sorted(
        (r["vec_id"], r["part_id"], tuple(r["code"]))
        for r in spark.read.schema(schema).parquet(root + "/codes").collect()
    )


def test_save_then_search_equals_encode_per_query(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
        pq_topk,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    path = str(tmp_path / "pq")
    pq_codes_save(corpus, books, path, n_partitions=4)
    served = pq_index_topk(corpus, q, path, k=10, rerank=80).collect()
    direct = pq_topk(corpus, q, books, k=10, rerank=80).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in direct]


def _random_books(m, k, dsub):
    import numpy as np

    return np.random.default_rng(0).standard_normal((m, k, dsub)).tolist()


def _expr_nodes(spark, col) -> int:
    """Node count of a column's analyzed expression tree (one line per
    node in Catalyst's treeString)."""
    df = spark.createDataFrame(
        [], "v array<double>, qv array<double>, code array<int>"
    )
    plan = df.select(col.alias("x"))._jdf.queryExecution().analyzed()
    return len(plan.expressions().head().treeString().splitlines())


def test_pq_expression_size_independent_of_m_and_k(spark):
    """The encode and ADC expressions read the codebook as ONE literal, so
    their trees are the same size at 8×16 and at 16×256 on one dim: the
    driver's build cost of a PQ read or encode does not grow with m×k."""
    from cinegraph_spark.operators.similarity import (
        _pq_adc,
        _pq_lut,
        pq_encode_col,
    )

    sizes = {}
    for m, k in ((8, 16), (16, 256)):
        books = _random_books(m, k, 64 // m)
        sizes[m, k] = (
            _expr_nodes(spark, pq_encode_col(F.col("v"), books)),
            _expr_nodes(
                spark, _pq_adc(_pq_lut(books, F.col("qv")), F.col("code"))
            ),
        )
    assert sizes[8, 16] == sizes[16, 256], sizes


@pytest.mark.parametrize("shape", ["8x16", "16x256"])
def test_codes_and_adc_equal_numpy_reference(spark, sf_dir, shape):
    """Codes are the nearest centroid by squared distance summed left to
    right, first index on ties; ADC scores are the m lookups summed left
    to right from 0.0 — both bit-equal to a NumPy reference that keeps the
    same summation order (8×16: the fixture's trained books; 16×256:
    seeded random books)."""
    import numpy as np

    from cinegraph_spark.operators.similarity import (
        _pq_adc,
        _pq_query,
        pq_encode_col,
    )

    e = _corpus(spark, sf_dir)
    if shape == "8x16":
        books = _books(spark, sf_dir)
    else:
        books = _random_books(16, 256, 4)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    rows = (
        e.select("vec_id", "v", pq_encode_col(F.col("v"), books).alias("code"))
        .crossJoin(_pq_query(q, books))
        .select(
            "vec_id", "v", "qv", "code",
            _pq_adc(F.col("_lut"), F.col("code")).alias("adc"),
        )
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([r["v"] for r in rows])
    qv = np.array(rows[0]["qv"])
    B = np.array(books)
    m, k, dsub = B.shape
    codes = np.empty((len(X), m), dtype=np.int64)
    lut = np.empty((m, k))
    for j in range(m):
        d, t = np.zeros((len(X), k)), np.zeros(k)
        for i in range(dsub):
            diff = X[:, j * dsub + i, None] - B[None, j, :, i]
            d = d + diff * diff
            t = t + qv[j * dsub + i] * B[j, :, i]
        codes[:, j] = d.argmin(1)  # first index on ties
        lut[j] = t
    adc = np.zeros(len(X))
    for j in range(m):
        adc = adc + lut[j, codes[:, j]]
    assert [list(r["code"]) for r in rows] == codes.tolist()
    assert [r["adc"] for r in rows] == adc.tolist()


def test_pq_save_refuses_null_vec_id(spark, sf_dir, tmp_path):
    """hash(NULL) would store codes in a real partition directory that
    pq_codes_update (which refuses NULL delta keys) could never address
    again — refuse at save, mirroring ivf_centroids_save (r12 ADVICE)."""
    from cinegraph_spark.operators.similarity import pq_codes_save

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    poisoned = e.unionByName(
        e.limit(1).select(
            F.lit(None).cast("long").alias("vec_id"), F.col("v")
        )
    )
    with pytest.raises(ValueError, match="NULL vec_id"):
        pq_codes_save(poisoned, books, str(tmp_path / "pq"), n_partitions=4)


def test_update_equals_full_save(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    pq_codes_save(yesterday, books, inc, n_partitions=4)
    stats = pq_codes_update(e, delta, inc)
    assert stats["rebuilt_partitions"]
    pq_codes_save(e, books, full, n_partitions=4)
    assert _codes_rows(spark, inc) == _codes_rows(spark, full)


def test_update_rewrites_only_touched_directories(spark, sf_dir, tmp_path):
    """The 100 TB contract: untouched partition directories' data files
    must not be opened, rewritten, or replaced — their paths and mtimes
    are identical before and after the update."""
    from cinegraph_spark.operators.maintenance import hash_part_expr
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(e, books, path, n_partitions=4)
    one = e.filter(F.col("vec_id") == 7).select("vec_id")
    victim = e.filter(F.col("vec_id") == 7).select(
        hash_part_expr(4, "vec_id").alias("p")
    ).first()["p"]

    def snapshot(skip_part):
        out = {}
        for root, _, files in os.walk(path + "/codes"):
            if f"part_id={skip_part}" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot(victim)
    stats = pq_codes_update(e, one, path)
    assert stats["rebuilt_partitions"] == [victim]
    assert snapshot(victim) == before

    # same corpus -> the rebuilt partition's CONTENT is unchanged too
    full = str(tmp_path / "full")
    pq_codes_save(e, books, full, n_partitions=4)
    assert _codes_rows(spark, path) == _codes_rows(spark, full)


def test_update_drops_emptied_partition_dir(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.maintenance import hash_part_expr
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(e, books, path, n_partitions=4)
    doomed = e.withColumn("p", hash_part_expr(4, "vec_id")).filter(
        F.col("p") == 2
    )
    survivors = e.join(doomed.select("vec_id"), "vec_id", "left_anti")
    stats = pq_codes_update(survivors, doomed.select("vec_id"), path)
    assert stats["dropped_partitions"] == [2]
    assert not os.path.exists(path + "/codes/part_id=2")
    full = str(tmp_path / "full")
    pq_codes_save(survivors, books, full, n_partitions=4)
    assert _codes_rows(spark, path) == _codes_rows(spark, full)


def test_update_rejects_malformed_delta_keys(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(e, _books(spark, sf_dir), path, n_partitions=4)
    before = _codes_rows(spark, path)
    null_delta = spark.createDataFrame([(None,)], "vec_id long")
    with pytest.raises(ValueError, match="NULL or do not cast"):
        pq_codes_update(e, null_delta, path)
    str_delta = spark.createDataFrame([("7",), ("nope",)], "vec_id string")
    with pytest.raises(ValueError, match="1 delta vec_id"):
        pq_codes_update(e, str_delta, path)
    assert _codes_rows(spark, path) == before


def test_update_refuses_empty_books(spark, sf_dir, tmp_path):
    """Codes without codebooks are meaningless bytes — the state must
    refuse to update rather than silently retrain (new books would
    re-interpret every stored code)."""
    from cinegraph_spark.operators.similarity import pq_codes_update

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "pq")
    os.makedirs(path + "/codes", exist_ok=True)
    spark.createDataFrame(
        [],
        "j int, codebook array<array<double>>, n_partitions int, "
        "key_ddl string, codes_schema string",
    ).write.parquet(path + "/books")
    with pytest.raises(ValueError, match="empty books table"):
        pq_codes_update(e, e.select("vec_id").limit(1), path)


def test_read_refuses_books_missing_column(spark, sf_dir, tmp_path):
    """The books table is read under its declared schema, which would
    read a column the files lack as NULL; every reader must refuse such a
    state by the column's name instead."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_update,
        pq_index_topk,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "pq")
    os.makedirs(path + "/codes", exist_ok=True)
    spark.createDataFrame(
        [(0, [[0.0] * 64], 2, "bigint")],
        "j int, codebook array<array<double>>, n_partitions int, "
        "key_ddl string",
    ).write.parquet(path + "/books")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    with pytest.raises(ValueError, match="codes_schema"):
        pq_codes_update(e, e.select("vec_id").limit(1), path)
    with pytest.raises(ValueError, match="codes_schema"):
        pq_index_topk(e, q, path)


def test_books_and_codes_swap_as_one_unit(spark, sf_dir, tmp_path):
    """A re-save over an existing state replaces books AND codes together
    (single sibling swap) and leaves no swap debris."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
        pq_topk,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(e.filter("vec_id % 2 = 0"), books, path, n_partitions=2)
    pq_codes_save(e, books, path, n_partitions=4)  # full re-save, new n
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    corpus = e.filter(F.col("vec_id") != 0)
    # search over the re-saved state sees the full corpus
    # (n.b. codes include vec 0 here; rerank excludes it via the corpus join)
    served = pq_index_topk(corpus, q, path, k=10, rerank=80).collect()
    direct = pq_topk(corpus, q, books, k=10, rerank=80).collect()
    assert [r["vec_id"] for r in served] == [r["vec_id"] for r in direct]
    assert [p.name for p in tmp_path.iterdir() if "__swap__" in p.name] == []


def test_update_rejects_corpus_key_type_drift(spark, sf_dir, tmp_path):
    """r12 review: the stored key_ddl is the hash-layout identity; a
    corpus re-read with a drifted vec_id type would lay the same keys
    into different directories than the save did — refused."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(e, _books(spark, sf_dir), path, n_partitions=4)
    drifted = e.select(F.col("vec_id").cast("int").alias("vec_id"), "v")
    one = drifted.filter(F.col("vec_id") == 7).select("vec_id")
    with pytest.raises(ValueError, match="stored key type bigint"):
        pq_codes_update(drifted, one, path)


def test_update_respects_v_param_with_extra_columns(spark, sf_dir, tmp_path):
    """r12 review: pq_codes_update used to grab 'the first non-vec_id
    column' as the vector; with the embeddings table's standard
    (vec_id, label, v) shape that was the label column. It now takes the
    same v parameter as save and must encode identically however many
    extra columns ride along."""
    from cinegraph_spark.queries.util import T

    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
    )

    labeled = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    books = _books(spark, sf_dir)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    pq_codes_save(
        labeled.filter("vec_id % 5 != 0").select("vec_id", "v"),
        books,
        inc,
        n_partitions=4,
    )
    stats = pq_codes_update(
        labeled, labeled.filter("vec_id % 5 = 0").select("vec_id"), inc
    )
    assert stats["rebuilt_partitions"]
    pq_codes_save(labeled.select("vec_id", "v"), books, full, n_partitions=4)
    assert _codes_rows(spark, inc) == _codes_rows(spark, full)


def test_update_layout_mode_bit_identical_and_stale_n_refused(
    spark, sf_dir, tmp_path
):
    """r13: corpus passed as a pq_corpus_layout PATH — update re-encodes
    from the touched directories only (PartitionFilters prune) and the
    codes are bit-identical to the DataFrame-mode update and a fresh
    full save; a layout laid out under a different modulus than the
    state is refused with the named re-layout error."""
    from cinegraph_spark.operators.maintenance import hash_layout_save
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
        pq_corpus_layout,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    p_df, p_lay, p_full = (str(tmp_path / n) for n in ("df", "lay", "full"))
    corpus_path = str(tmp_path / "corpus")

    pq_codes_save(yesterday, books, p_df, n_partitions=4)
    pq_codes_update(e, delta, p_df)

    pq_codes_save(yesterday, books, p_lay, n_partitions=4)
    pq_corpus_layout(e, corpus_path, p_lay)
    pq_codes_update(corpus_path, delta, p_lay)

    pq_codes_save(e, books, p_full, n_partitions=4)
    full = _codes_rows(spark, p_full)
    assert _codes_rows(spark, p_df) == full
    assert _codes_rows(spark, p_lay) == full

    stale = str(tmp_path / "stale")
    hash_layout_save(e, stale, "vec_id", 7)  # wrong modulus for the state
    with pytest.raises(ValueError, match="re-run pq_corpus_layout"):
        pq_codes_update(stale, delta, p_lay)


def test_index_topk_layout_rerank_equals_dataframe_mode(
    spark, sf_dir, tmp_path
):
    """r13 read-path contract: pq_index_topk with the corpus as a hash
    layout fetches the rerank vectors from ONLY the candidates'
    partition directories (PartitionFilters + pushed vec_id filter) and
    returns exactly the DataFrame-mode answer; a layout whose identity
    differs from the state is refused."""
    from cinegraph_spark.operators.maintenance import hash_layout_save
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_corpus_layout,
        pq_index_topk,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    path = str(tmp_path / "state")
    lay = str(tmp_path / "corpus")
    q = e.limit(1).select(F.col("v").alias("qv"))
    pq_codes_save(e, books, path, n_partitions=4)
    pq_corpus_layout(e, lay, path)

    want = sorted(
        map(tuple, pq_index_topk(e, q, path, k=5, rerank=20).collect())
    )
    got = sorted(
        map(tuple, pq_index_topk(lay, q, path, k=5, rerank=20).collect())
    )
    assert got == want

    stale = str(tmp_path / "stale")
    hash_layout_save(e, stale, "vec_id", 9)
    with pytest.raises(ValueError, match="re-run pq_corpus_layout"):
        pq_index_topk(stale, q, path, k=5, rerank=20).collect()


def test_filtered_search_prefilter_semantics(spark, sf_dir, tmp_path):
    """The admissibility semi-join fuses BEFORE the ADC cut: every result
    is admissible, k admissible results come back even when the global
    unfiltered top-rerank is dominated by inadmissible vectors (the
    post-filter trap), and at rerank >= |admissible| the result is exact
    brute force over the admissible set."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_index_topk,
    )
    from cinegraph_spark.queries.util import T

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    books = _books(spark, sf_dir)
    path = str(tmp_path / "pq")
    pq_codes_save(corpus.select("vec_id", "v"), books, path, n_partitions=4)
    admissible = corpus.filter(F.col("label") == 2).select("vec_id")
    n_adm = admissible.count()

    # exact regime: rerank >= |admissible| -> brute force over admissible
    got = pq_index_topk(
        corpus.select("vec_id", "v"), q, path,
        k=10, rerank=n_adm, admissible=admissible,
    ).collect()
    brute = (
        corpus.filter(F.col("label") == 2)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "round(aggregate(zip_with(v, qv, (x, y) -> x * y), "
                    "0D, (a, b) -> a + b) / (sqrt(aggregate(v, 0D, "
                    "(a, b) -> a + b * b)) * sqrt(aggregate(qv, 0D, "
                    "(a, b) -> a + b * b))), 6)"
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    assert [(r["vec_id"],) for r in got] == [(r["vec_id"],) for r in brute]

    # pre-filter semantics below full rerank: k admissible rows come
    # back even though the unfiltered ADC top-5 is (generically) not
    # label-2-only — post-filtering would under-return here
    small = pq_index_topk(
        corpus.select("vec_id", "v"), q, path,
        k=5, rerank=5, admissible=admissible,
    ).collect()
    assert len(small) == 5
    adm_ids = {r["vec_id"] for r in admissible.collect()}
    assert all(r["vec_id"] in adm_ids for r in small)

    # type drift refused (the stored key hash differs by type)
    with pytest.raises(ValueError, match="differs"):
        pq_index_topk(
            corpus.select("vec_id", "v"), q, path, k=5,
            admissible=admissible.select(
                F.col("vec_id").cast("int").alias("vec_id")
            ),
        ).collect()


def test_stream_update_equals_full_save(spark, sf_dir, tmp_path):
    """Draining the arrivals as a 4-micro-batch stream through
    serving_stream_update must leave the codes table bit-identical to a
    fresh full save of the final corpus (frozen codebooks, deterministic
    encode) — the streaming form of the update-equals-rebuild contract,
    at the PQ tier."""
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_stream_maintenance_sink,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    arrivals_dir = str(tmp_path / "arrivals")
    delta.repartition(4).write.parquet(arrivals_dir)
    path, full = str(tmp_path / "state"), str(tmp_path / "full")
    pq_codes_save(base, books, path, n_partitions=4)
    arrivals = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    land = str(tmp_path / "land")
    serving_stream_update(
        arrivals, pq_stream_maintenance_sink(base, land, path), land
    )
    pq_codes_save(e, books, full, n_partitions=4)
    assert _codes_rows(spark, path) == _codes_rows(spark, full)


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The full HNSW replay contract holds at the PQ tier (the partition
    function derives from the key): replaying a batch immediately — or
    out of order after a later batch landed — leaves the landing layout
    and the codes table byte-identical, because the latest-wins merge
    keeps the higher version and the re-encode reads the merged corpus,
    never the delta rows."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_stream_maintenance_sink,
    )

    e = _corpus(spark, sf_dir)
    books = _books(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    b0 = e.filter(F.col("vec_id") % 10 == 0)
    b1 = e.filter(F.col("vec_id") % 10 == 5)
    path = str(tmp_path / "state")
    land = str(tmp_path / "land")
    pq_codes_save(base, books, path, n_partitions=4)
    sink = pq_stream_maintenance_sink(base, land, path)

    sink(b0, 0)
    sink(b1, 1)
    want = _codes_rows(spark, path)
    n_landed = spark.read.option("recursiveFileLookup", "true").parquet(
        land
    ).count()

    sink(b1, 1)  # immediate replay of the last batch
    sink(b0, 0)  # late, out-of-order replay after a later batch landed
    assert _codes_rows(spark, path) == want
    assert (
        spark.read.option("recursiveFileLookup", "true").parquet(land).count()
        == n_landed
    )


def test_stream_sink_refuses_non_layout_landing_zone(spark, tmp_path):
    """A non-empty land_dir WITHOUT a layout manifest must be refused,
    not silently re-seeded from base (same rule as the HNSW and IVF
    sinks)."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_stream_maintenance_sink,
        pq_train,
    )

    e = spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=11) for _ in range(8)]).alias("v"),
    )
    books = pq_train(e, m=4, k=4)
    path = str(tmp_path / "state")
    pq_codes_save(e, books, path, n_partitions=2)
    land = str(tmp_path / "land")
    e.limit(3).write.parquet(land + "/debris")
    sink = pq_stream_maintenance_sink(e, land, path)
    with pytest.raises(ValueError, match="not a clustered layout"):
        sink(e.limit(1), 0)
