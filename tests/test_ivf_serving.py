"""IVF centroid serving-table maintenance contract
(operators/similarity.py::ivf_centroids_save/update, ivf_index_topk) —
the IVF-tier mirror of the HNSW serving contract in tests/test_hnsw.py.

The load-bearing claim is determinism: cell sums are decimal(38,18)
(exact, order-independent), so save is partitioning-invariant and
update-touched-cells-only is BIT-IDENTICAL to a fresh full save — which
is what lets the registered query carry an exact DuckDB oracle computed
over the final corpus directly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _corpus(spark, sf_dir):
    from cinegraph_spark.queries.util import T

    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _rows(spark, path):
    return sorted(
        (r["label"], r["n_vectors"], tuple(r["centroid"]))
        for r in spark.read.parquet(path).collect()
    )


def test_save_is_invariant_to_input_partitioning(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import ivf_centroids_save

    e = _corpus(spark, sf_dir)
    p3, p13 = str(tmp_path / "p3"), str(tmp_path / "p13")
    ivf_centroids_save(e.repartition(3), p3)
    ivf_centroids_save(e.repartition(13), p13)
    assert _rows(spark, p3) == _rows(spark, p13)


def test_update_equals_full_rebuild(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0).select("label")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ivf_centroids_save(yesterday, inc)
    stats = ivf_centroids_update(e, delta, inc)
    assert stats["full_rebuild"] is False
    ivf_centroids_save(e, full)
    assert _rows(spark, inc) == _rows(spark, full)


def test_update_touches_only_delta_cells(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    ivf_centroids_save(e, path)
    before = _rows(spark, path)

    # empty delta: no-op
    stats = ivf_centroids_update(e, e.filter("vec_id < 0").select("label"), path)
    assert stats["rebuilt_cells"] == []
    assert _rows(spark, path) == before

    # one cell named: exactly that cell recomputes (same corpus -> equal)
    one = e.filter(F.col("vec_id") == 7).select("label")
    want = one.first()["label"]
    stats = ivf_centroids_update(e, one, path)
    assert stats["rebuilt_cells"] == [want]
    assert _rows(spark, path) == before


def test_update_drops_emptied_cell(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    ivf_centroids_save(e, path)
    victim = e.first()["label"]
    survivors = e.filter(F.col("label") != victim)
    doomed = e.filter(F.col("label") == victim).select("label")
    stats = ivf_centroids_update(survivors, doomed, path)
    assert stats["rebuilt_cells"] == [victim]
    labels = {r["label"] for r in spark.read.parquet(path).collect()}
    assert victim not in labels and labels


def test_update_on_empty_table_degrades_to_full_save(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    ivf_centroids_save(e.filter("vec_id < 0"), path)
    assert spark.read.parquet(path).count() == 0
    stats = ivf_centroids_update(e, e.select("label"), path)
    assert stats["full_rebuild"] is True
    full = str(tmp_path / "full")
    ivf_centroids_save(e, full)
    assert _rows(spark, path) == _rows(spark, full)


def test_update_rejects_malformed_delta_cells(spark, sf_dir, tmp_path):
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    ivf_centroids_save(e, path)
    before = _rows(spark, path)

    null_delta = spark.createDataFrame([(None,)], "label int")
    with pytest.raises(ValueError, match="NULL or do not cast"):
        ivf_centroids_update(e, null_delta, path)
    str_delta = spark.createDataFrame([("3",), ("not-a-cell",)], "label string")
    with pytest.raises(ValueError, match="1 delta label"):
        ivf_centroids_update(e, str_delta, path)
    assert _rows(spark, path) == before  # refusal precedes any write


def test_update_equals_full_rebuild_random_deltas(spark, sf_dir, tmp_path):
    """Property form over arbitrary delta shapes (sparse, dense, empty) —
    the same hypothesis harness as the HNSW twin."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir).localCheckpoint(eager=True)
    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(mod=st.integers(2, 50), rem=st.integers(0, 4))
    def check(mod, rem):
        counter[0] += 1
        inc = str(tmp_path / f"inc{counter[0]}")
        full = str(tmp_path / f"full{counter[0]}")
        newcomers = e.filter((F.col("vec_id") % mod) == (rem % mod))
        yesterday = e.join(
            newcomers.select("vec_id"), "vec_id", "left_anti"
        )
        ivf_centroids_save(yesterday, inc)
        ivf_centroids_update(e, newcomers.select("label"), inc)
        ivf_centroids_save(e, full)
        assert _rows(spark, inc) == _rows(spark, full)

    check()


def test_served_topk_matches_rebuild_per_query_form(spark, sf_dir, tmp_path):
    """The persisted-table probe must return exactly what the
    rebuild-per-query ivf_cosine_topk returns for the same corpus —
    serving changes WHERE the centroids live, not the answer."""
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_cosine_topk,
        ivf_index_topk,
    )

    e = _corpus(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    path = str(tmp_path / "cents")
    ivf_centroids_save(corpus, path)
    served = ivf_index_topk(corpus, q, path, nprobe=2, k=10).collect()
    direct = ivf_cosine_topk(corpus, q, nprobe=2, k=10).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in direct]


def test_save_refuses_null_cell_labels(spark, sf_dir, tmp_path):
    """r12 review: a NULL cell would be unmaintainable (the delta guard
    refuses NULL keys and equi-joins can't address a NULL cell), so save
    refuses to create one."""
    from cinegraph_spark.operators.similarity import ivf_centroids_save

    e = _corpus(spark, sf_dir)
    nulled = e.unionByName(
        e.limit(2).select(
            "vec_id", F.lit(None).cast("int").alias("label"), "v"
        )
    )
    with pytest.raises(ValueError, match="NULL label"):
        ivf_centroids_save(nulled, str(tmp_path / "idx"))


def test_update_preserves_null_label_rows_in_legacy_table(
    spark, sf_dir, tmp_path
):
    """r18 ADVICE: save refuses NULL labels, so a NULL-label row can only
    exist in a hand-written or legacy table — but if one does, the
    update's kept-side predicate must PRESERVE it (as the pre-r18
    left_anti join did), never silently delete it."""
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "idx")
    ivf_centroids_save(e, path)
    legacy = spark.read.parquet(path)
    null_row = legacy.limit(1).select(
        F.lit(None).cast(legacy.schema["label"].dataType).alias("label"),
        "n_vectors",
        "centroid",
    )
    legacy.unionByName(null_row).write.mode("overwrite").parquet(
        str(tmp_path / "legacy")
    )
    spark.read.parquet(str(tmp_path / "legacy")).write.mode(
        "overwrite"
    ).parquet(path)
    def rows(p):  # _rows would sort None against ints (TypeError)
        return sorted(
            (
                (r["label"], r["n_vectors"], tuple(r["centroid"]))
                for r in spark.read.parquet(p).collect()
            ),
            key=lambda t: (t[0] is None, t),
        )

    before = rows(path)
    delta = e.limit(1).select("label")
    stats = ivf_centroids_update(e, delta, path)
    assert stats["full_rebuild"] is False
    after = rows(path)
    # the corpus did not change, so the update is a touched-cell no-op
    # content-wise — including the NULL-label legacy row
    assert after == before
    assert any(r[0] is None for r in after)


def test_update_layout_mode_bit_identical_and_pruned(
    spark, sf_dir, tmp_path
):
    """r13: with the corpus passed as an ivf_corpus_layout PATH, the
    touched-cell recompute reads only those cells' directories — proven
    by poisoning an untouched cell directory — and the result is
    bit-identical to the DataFrame-mode update and a fresh full save."""
    import os

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
        ivf_corpus_layout,
    )

    e = _corpus(spark, sf_dir)
    yesterday = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0).select("label")
    p_df, p_lay, p_full = (str(tmp_path / n) for n in ("df", "lay", "full"))
    corpus_path = str(tmp_path / "corpus")

    ivf_centroids_save(yesterday, p_df)
    ivf_centroids_update(e, delta, p_df)

    ivf_centroids_save(yesterday, p_lay)
    ivf_corpus_layout(e, corpus_path)
    # poison a cell the delta does NOT name (labels are 0..k; delta
    # names the labels of vec_id%5==0 rows — usually all, so instead
    # prove pruning with a single-cell delta)
    one_label = e.filter(F.col("vec_id") == 7).first()["label"]
    other = (
        e.filter(F.col("label") != one_label).first()["label"]
    )
    with open(
        os.path.join(corpus_path, f"label={other}", "poison.parquet"), "wb"
    ) as f:
        f.write(b"not parquet")
    one_delta = e.sparkSession.createDataFrame(
        [(one_label,)], f"label {e.schema['label'].dataType.simpleString()}"
    )
    # the pruned recompute must sail past the poisoned foreign cell
    ivf_centroids_update(corpus_path, one_delta, p_lay)
    os.remove(os.path.join(corpus_path, f"label={other}", "poison.parquet"))
    ivf_centroids_update(corpus_path, delta, p_lay)

    ivf_centroids_save(e, p_full)
    assert _rows(spark, p_df) == _rows(spark, p_full)
    assert _rows(spark, p_lay) == _rows(spark, p_full)


def test_update_layout_mode_requires_cell_partitioning(
    spark, sf_dir, tmp_path
):
    from cinegraph_spark.operators.maintenance import hash_layout_save
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "cent")
    ivf_centroids_save(e, path)
    wrong = str(tmp_path / "wrong")
    hash_layout_save(e, wrong, "vec_id", 4)  # hash layout, not cell layout
    delta = e.limit(1).select("label")
    with pytest.raises(ValueError, match="ivf_corpus_layout"):
        ivf_centroids_update(wrong, delta, path)


def test_index_topk_layout_mode_equals_dataframe_mode_and_prunes(
    spark, sf_dir, tmp_path
):
    """r13 read-path contract: ivf_index_topk with the corpus as a cell
    layout returns exactly the DataFrame-mode answer, and the candidate
    read opens ONLY the probed cells' directories — proven by poisoning
    an unprobed cell with a corrupt file, and by the PartitionFilters
    plan pin."""
    import os

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_corpus_layout,
        ivf_index_topk,
    )
    from cinegraph_spark.plans import formatted_plan

    e = _corpus(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") != 0)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    path = str(tmp_path / "cent")
    lay = str(tmp_path / "corpus")
    ivf_centroids_save(corpus, path)
    ivf_corpus_layout(corpus, lay)

    want = sorted(
        map(tuple, ivf_index_topk(corpus, q, path, nprobe=2, k=10).collect())
    )
    served = ivf_index_topk(lay, q, path, nprobe=2, k=10)
    plan = formatted_plan(served)
    assert "PartitionFilters" in plan
    assert sorted(map(tuple, served.collect())) == want

    # poison a cell outside the probe set: the layout search must never
    # open it (the probed labels are the 2 best cells; poison the worst)
    probed = {t[1] for t in want}
    all_labels = {r["label"] for r in corpus.select("label").distinct().collect()}
    victims = sorted(all_labels - probed)
    assert victims, "fixture must have more cells than nprobe"
    with open(
        os.path.join(lay, f"label={victims[0]}", "poison.parquet"), "wb"
    ) as f:
        f.write(b"not parquet")
    again = ivf_index_topk(lay, q, path, nprobe=2, k=10)
    assert sorted(map(tuple, again.collect())) == want


def _drain(spark, base, arrivals_dir, land, path, checkpoint=None):
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.operators.similarity import (
        ivf_stream_maintenance_sink,
    )

    arrivals = (
        spark.readStream.schema("vec_id long, label int, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    serving_stream_update(
        arrivals,
        ivf_stream_maintenance_sink(base, land, path),
        land,
        checkpoint_dir=checkpoint,
    )


def test_stream_update_equals_full_save(spark, sf_dir, tmp_path):
    """Draining the arrivals as a 4-micro-batch stream through
    serving_stream_update must leave the centroid table bit-identical
    to a fresh full save of the final corpus, and the landing layout
    holding exactly the final corpus — the streaming form of the
    update-equals-rebuild contract, at the IVF tier."""
    from cinegraph_spark.operators.maintenance import layout_read
    from cinegraph_spark.operators.similarity import ivf_centroids_save

    e = _corpus(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    arrivals_dir = str(tmp_path / "arrivals")
    delta.repartition(4).write.parquet(arrivals_dir)
    path, full = str(tmp_path / "cent"), str(tmp_path / "full")
    land = str(tmp_path / "land")
    ivf_centroids_save(base, path)
    _drain(spark, base, arrivals_dir, land, path)
    ivf_centroids_save(e, full)
    assert _rows(spark, path) == _rows(spark, full)
    landed = sorted(
        (r["vec_id"], r["label"], tuple(r["v"]))
        for r in layout_read(spark, land)
        .select("vec_id", "label", "v")
        .collect()
    )
    want = sorted(
        (r["vec_id"], r["label"], tuple(r["v"])) for r in e.collect()
    )
    assert landed == want


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: replaying a batch — immediately, or
    (for the disjoint-key batches of a stream ingest) even after a later
    batch landed — must leave the layout and the centroid table
    byte-identical to the single-delivery run: the layout merge anti-joins
    the batch's own keys before re-adding them, and the centroid recompute
    is a pure function of the merged layout."""
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_stream_maintenance_sink,
    )

    e = _corpus(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    b0 = e.filter(F.col("vec_id") % 10 == 0)
    b1 = e.filter(F.col("vec_id") % 10 == 5)
    path = str(tmp_path / "cent")
    land = str(tmp_path / "land")
    ivf_centroids_save(base, path)
    sink = ivf_stream_maintenance_sink(base, land, path)

    sink(b0, 0)
    sink(b1, 1)
    want = _rows(spark, path)
    n_landed = spark.read.option("recursiveFileLookup", "true").parquet(
        land
    ).count()

    sink(b1, 1)  # immediate replay of the last batch
    sink(b0, 0)  # late replay after a later (disjoint-key) batch landed
    assert _rows(spark, path) == want
    assert (
        spark.read.option("recursiveFileLookup", "true").parquet(land).count()
        == n_landed
    )


@pytest.mark.slow  # r19 quick-tier gate (see conftest)
def test_stream_update_resumes_from_checkpoint_as_noop(
    spark, sf_dir, tmp_path
):
    """Re-running a finished drain against the same checkpoint must
    process zero batches (the engine's offsets are the resume authority);
    adding one new arrivals file and re-draining processes ONLY that file
    and converges to the full save over the extended corpus."""
    from cinegraph_spark.operators.similarity import ivf_centroids_save

    e = _corpus(spark, sf_dir)
    base = e.filter(F.col("vec_id") % 5 != 0)
    first = e.filter(F.col("vec_id") % 10 == 0)
    second = e.filter(F.col("vec_id") % 10 == 5)
    arrivals_dir = str(tmp_path / "arrivals")
    first.coalesce(1).write.parquet(arrivals_dir)
    path = str(tmp_path / "cent")
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")
    ivf_centroids_save(base, path)
    _drain(spark, base, arrivals_dir, land, path, checkpoint=ckpt)
    after_first = _rows(spark, path)

    # finished stream, same checkpoint: zero new batches, state unchanged
    _drain(spark, base, arrivals_dir, land, path, checkpoint=ckpt)
    assert _rows(spark, path) == after_first

    # one new file: only it drains; final state = full save over everything
    second.coalesce(1).write.mode("append").parquet(arrivals_dir)
    _drain(spark, base, arrivals_dir, land, path, checkpoint=ckpt)
    full = str(tmp_path / "full")
    ivf_centroids_save(base.unionByName(first).unionByName(second), full)
    assert _rows(spark, path) == _rows(spark, full)


def test_stream_update_touches_only_arrived_cells(spark, sf_dir, tmp_path):
    """Per-batch landing cost is the touched cell DIRECTORIES only: a
    batch confined to one cell must leave every other cell directory's
    files (path, mtime) untouched in the landing layout."""
    import os

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_stream_maintenance_sink,
    )

    e = _corpus(spark, sf_dir)
    cell = int(e.first()["label"])
    base = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("label") == cell)
    )
    assert batch.count() > 0
    path = str(tmp_path / "cent")
    land = str(tmp_path / "land")
    ivf_centroids_save(base, path)
    sink = ivf_stream_maintenance_sink(base, land, path)
    sink(e.filter("vec_id < 0"), 0)  # seeds the layout, lands nothing

    def snap():
        out = {}
        for root, _, files in os.walk(land):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snap()
    sink(batch, 1)
    after = snap()
    touched_prefix = os.path.join(land, f"label={cell}")
    for p, mt in before.items():
        if not p.startswith(touched_prefix):
            assert after.get(p) == mt, f"untouched file rewritten: {p}"


def test_stream_sink_refuses_non_layout_landing_zone(spark, tmp_path):
    """A non-empty land_dir WITHOUT a layout manifest must be refused,
    not silently re-seeded from base — seeding would discard contents the
    stream checkpoint may already have marked consumed (same rule as the
    HNSW sink)."""
    import pytest

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_stream_maintenance_sink,
    )

    e = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        F.array(*[F.rand(seed=7) for _ in range(4)]).alias("v"),
    )
    path = str(tmp_path / "cent")
    ivf_centroids_save(e, path)
    land = str(tmp_path / "land")
    e.limit(3).write.parquet(land + "/debris")
    sink = ivf_stream_maintenance_sink(e, land, path)
    with pytest.raises(ValueError, match="not a clustered layout"):
        sink(e.limit(1), 0)


def test_stream_sink_strict_mode_refuses_cell_moves(spark, sf_dir, tmp_path):
    """validate_cells=True (r15 review): an arrival whose key already
    lives in a DIFFERENT cell is refused BEFORE anything lands — the
    layout and the centroid table stay untouched (the default-off
    contract documents the same rule; strict mode pays one column-pruned
    corpus scan per batch to enforce it)."""
    import pytest

    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_stream_maintenance_sink,
    )

    e = _corpus(spark, sf_dir)
    path = str(tmp_path / "cent")
    land = str(tmp_path / "land")
    ivf_centroids_save(e, path)
    strict = ivf_stream_maintenance_sink(
        e, land, path, validate_cells=True
    )
    strict(e.filter("vec_id < 0"), 0)  # seeds the layout
    before = _rows(spark, path)

    victim = e.first()
    moved = spark.createDataFrame(
        [(victim["vec_id"], int(victim["label"]) + 1, list(victim["v"]))],
        "vec_id long, label int, v array<double>",
    )
    with pytest.raises(ValueError, match="different cell"):
        strict(moved, 1)
    assert _rows(spark, path) == before  # nothing landed or recomputed

    # a same-cell re-embed passes the strict check
    same = spark.createDataFrame(
        [(victim["vec_id"], int(victim["label"]), [0.0] * len(victim["v"]))],
        "vec_id long, label int, v array<double>",
    )
    strict(same, 2)
