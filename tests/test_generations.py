"""Versioned serving generations (r14 verdict task 4): a state saved
with ``keep_generations`` publishes each save as a numbered generation
directory under ``root/_gens`` committed by ONE marker create — no
rename, so no crash window and nothing for open_state to heal — and
readers either resolve the newest committed generation or pin one
(`layout_read(generation=)`, `hnsw_index_knn(generation=)`). The
properties under test: publication is atomic-by-marker, a reader's
plan survives a concurrent re-save (the pinning contract the sibling
swap could not give), retention prunes by count, uncommitted debris is
invisible to readers and never collides with allocation, and in-place
maintenance mutates only the current generation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cinegraph_spark.operators.maintenance import (
    hash_layout_save,
    hash_layout_upsert,
    layout_read,
)
from cinegraph_spark.operators.serving_io import (
    GEN_MANIFEST,
    generation_swap_dir,
    list_generations,
    resolve_generation,
    vacuum_generations,
)


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )


def test_generation_roundtrip_pinning_and_legacy_refusal(spark, tmp_path):
    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 5), root, "id", 2, keep_generations=3)
    hash_layout_save(_mk(spark, 0, 9), root, "id", 2, keep_generations=3)
    assert _ids(layout_read(spark, root)) == list(range(9))  # current
    assert _ids(layout_read(spark, root, generation=1)) == list(range(5))
    assert _ids(layout_read(spark, root, generation=2)) == list(range(9))
    assert sorted(list_generations(spark, root)) == [1, 2]
    with pytest.raises(ValueError, match="not retained"):
        layout_read(spark, root, generation=7)
    # a LEGACY (unversioned) layout must refuse a generation pin loudly,
    # never silently serve "current"
    legacy = str(tmp_path / "legacy")
    hash_layout_save(_mk(spark, 0, 3), legacy, "id", 2)
    with pytest.raises(ValueError, match="not a versioned state"):
        layout_read(spark, legacy, generation=1)
    assert _ids(layout_read(spark, legacy)) == [0, 1, 2]


def test_reader_plan_survives_concurrent_resave(spark, tmp_path):
    """THE pinning contract: a read planned before a re-save still
    executes against its own generation's files — under the sibling
    swap the aside-delete would have yanked the planned files."""
    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 6), root, "id", 2, keep_generations=2)
    planned = layout_read(spark, root)  # resolves + lists gen 1 NOW
    planned_pinned = layout_read(spark, root, generation=1)
    hash_layout_save(_mk(spark, 100, 104), root, "id", 2,
                     keep_generations=2)  # gen 2 commits mid-read
    assert _ids(planned) == list(range(6))         # still generation 1
    assert _ids(planned_pinned) == list(range(6))
    assert _ids(layout_read(spark, root)) == [100, 101, 102, 103]


def test_retention_prunes_by_count_and_manifest_tracks(spark, tmp_path):
    import json

    root = str(tmp_path / "t")
    for lo in (0, 10, 20):
        hash_layout_save(
            _mk(spark, lo, lo + 3), root, "id", 2, keep_generations=2
        )
    assert sorted(list_generations(spark, root)) == [2, 3]
    with pytest.raises(ValueError, match="not retained"):
        resolve_generation(spark, root, 1)
    assert _ids(layout_read(spark, root, generation=2)) == [10, 11, 12]
    assert _ids(layout_read(spark, root)) == [20, 21, 22]
    manifest = json.load(open(os.path.join(root, GEN_MANIFEST)))
    assert manifest == {"current": 3, "retained": [2, 3]}


def test_uncommitted_debris_invisible_and_never_collides(spark, tmp_path):
    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 3), root, "id", 2, keep_generations=4)
    # a crashed save: directory exists, no commit marker
    debris = os.path.join(root, "_gens", "g00000007")
    os.makedirs(debris)
    open(os.path.join(debris, "junk.parquet"), "w").write("partial")
    assert sorted(list_generations(spark, root)) == [1]  # invisible
    assert _ids(layout_read(spark, root)) == [0, 1, 2]
    with pytest.raises(ValueError, match="not retained"):
        layout_read(spark, root, generation=7)  # never served
    # allocation counts debris: the next save must NOT reuse g7
    hash_layout_save(_mk(spark, 5, 8), root, "id", 2, keep_generations=4)
    assert sorted(list_generations(spark, root)) == [1, 8]
    assert os.path.isdir(debris)  # saves keep debris for inspection


def test_all_crashed_saves_raise_for_a_human(spark, tmp_path):
    root = str(tmp_path / "t")
    debris = os.path.join(root, "_gens", "g00000001")
    os.makedirs(debris)
    with pytest.raises(IOError, match="none carries a commit marker"):
        resolve_generation(spark, root)


def test_vacuum_generations_count_and_age_rules(spark, tmp_path):
    import time

    root = str(tmp_path / "t")
    for lo in (0, 10, 20):
        hash_layout_save(
            _mk(spark, lo, lo + 2), root, "id", 2, keep_generations=9
        )
    young_debris = os.path.join(root, "_gens", "g00000005")
    old_debris = os.path.join(root, "_gens", "g00000006")
    for d in (young_debris, old_debris):
        os.makedirs(d)
        open(os.path.join(d, "part"), "w").write("x")
    stale = time.time() - 48 * 3600
    os.utime(old_debris, (stale, stale))
    os.utime(os.path.join(old_debris, "part"), (stale, stale))

    out = vacuum_generations(spark, root, keep=2, older_than_hours=24.0,
                             dry_run=True)
    assert os.path.isdir(old_debris)  # dry run touched nothing
    assert [p.rsplit("/", 1)[-1] for p in out["deleted"]] == [
        "g00000001", "g00000006"
    ]
    out = vacuum_generations(spark, root, keep=2, older_than_hours=24.0)
    assert sorted(list_generations(spark, root)) == [2, 3]
    assert os.path.isdir(young_debris)      # may be a save in flight
    assert not os.path.isdir(old_debris)    # aged-out crash debris
    # keep=99 never deletes; the newest committed gen survives keep=1
    out = vacuum_generations(spark, root, keep=1, older_than_hours=1e9)
    assert sorted(list_generations(spark, root)) == [3]
    assert _ids(layout_read(spark, root)) == [20, 21]


def test_upsert_mutates_only_the_current_generation(spark, tmp_path):
    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 4), root, "id", 2, keep_generations=2)
    hash_layout_save(_mk(spark, 0, 4), root, "id", 2, keep_generations=2)
    up = spark.range(2, 3).select(
        F.col("id"), F.lit(999).cast("long").alias("val")
    )
    hash_layout_upsert(spark, root, up)
    cur = {
        r["id"]: r["val"]
        for r in layout_read(spark, root).collect()
    }
    assert cur[2] == 999  # current generation took the upsert
    old = {
        r["id"]: r["val"]
        for r in layout_read(spark, root, generation=1).collect()
    }
    assert old[2] == 20  # retained snapshot is immutable


def test_hnsw_versioned_save_and_pinned_knn(spark, tmp_path):
    from cinegraph_spark.operators.hnsw import hnsw_index_knn, hnsw_index_save
    from cinegraph_spark.queries.util import T

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    e = T(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    root = str(tmp_path / "idx")
    gen1 = e.filter(F.col("vec_id") % 2 == 0)
    hnsw_index_save(gen1, root, target_rows_per_subindex=128,
                    keep_generations=2)
    hnsw_index_save(e, root, target_rows_per_subindex=128,
                    keep_generations=2)
    q = e.filter(F.col("vec_id") < 3)
    got_pinned = hnsw_index_knn(spark, root, q, k=3, generation=1)
    # the pinned read answers from generation 1's corpus: bit-identical
    # to a fresh legacy save over the same rows
    legacy = str(tmp_path / "legacy_idx")
    hnsw_index_save(gen1, legacy, target_rows_per_subindex=128)
    want = hnsw_index_knn(spark, legacy, q, k=3)
    key = lambda r: (r["qid"], r["rnk"])  # noqa: E731
    assert sorted(map(tuple, got_pinned.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    # current read sees the full corpus: odd ids can now appear
    got_cur = hnsw_index_knn(spark, root, q, k=3)
    assert got_cur.count() == q.count() * 3


def test_generation_swap_dir_crash_leaves_reader_view_intact(spark, tmp_path):
    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 3), root, "id", 2, keep_generations=2)
    with pytest.raises(RuntimeError, match="boom"):
        with generation_swap_dir(spark, root, keep=2) as tmp:
            spark.range(50).write.parquet(tmp + "/partial")
            raise RuntimeError("boom")
    # the failed save is invisible: current still generation 1
    assert sorted(list_generations(spark, root)) == [1]
    assert _ids(layout_read(spark, root)) == [0, 1, 2]


def _emb(spark):
    from cinegraph_spark.queries.util import T

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    return T(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def test_ivf_versioned_save_and_pinned_probe(spark, tmp_path):
    """IVF tier of the generation contract: a pinned probe answers from
    the older centroid table; an in-place centroid update mutates ONLY
    the current generation."""
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_centroids_update,
        ivf_index_topk,
    )

    e = _emb(spark)
    half = e.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "cents")
    ivf_centroids_save(half, path, keep_generations=2)
    ivf_centroids_save(e, path, keep_generations=2)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    got_pinned = ivf_index_topk(half, q, path, nprobe=2, k=5, generation=1)
    legacy = str(tmp_path / "legacy")
    ivf_centroids_save(half, legacy)
    want = ivf_index_topk(half, q, legacy, nprobe=2, k=5)
    assert sorted(map(tuple, got_pinned.collect())) == sorted(
        map(tuple, want.collect())
    )
    # in-place update touches the CURRENT generation only
    import json

    gen1 = json.load(open(os.path.join(path, GEN_MANIFEST)))["retained"][0]
    before = sorted(
        map(tuple, spark.read.parquet(
            resolve_generation(spark, path, gen1)).collect())
    )
    delta = e.filter(F.col("vec_id") < 50).select("label")
    ivf_centroids_update(e, delta, path)
    after_gen1 = sorted(
        map(tuple, spark.read.parquet(
            resolve_generation(spark, path, gen1)).collect())
    )
    assert after_gen1 == before
    # the update swaps the current generation's own directory: the swap
    # must carry _GEN_COMMITTED through (r15 review — the marker was
    # previously lost and resolution silently fell back to generation 1)
    assert sorted(list_generations(spark, path)) == [1, 2]
    legacy2 = str(tmp_path / "legacy_full")
    ivf_centroids_save(e, legacy2)
    want = sorted(map(tuple, spark.read.parquet(legacy2).collect()))
    assert sorted(
        map(tuple, spark.read.parquet(
            resolve_generation(spark, path)).collect())
    ) == want  # current gen == update ≡ rebuild over the full corpus


def test_pq_versioned_save_and_pinned_search(spark, tmp_path):
    """PQ tier: books+codes publish as one generation; a pinned search
    answers from the older state even after a re-save, and
    pq_codes_update mutates the current generation only."""
    from cinegraph_spark.operators.similarity import (
        pq_codes_save,
        pq_codes_update,
        pq_index_topk,
        pq_train,
    )

    e = _emb(spark).select("vec_id", "v")
    books = pq_train(e, m=4, k=8)
    half = e.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "state")
    pq_codes_save(half, books, path, n_partitions=2, keep_generations=2)
    pq_codes_save(e, books, path, n_partitions=2, keep_generations=2)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    got_pinned = pq_index_topk(half, q, path, k=5, rerank=600, generation=1)
    legacy = str(tmp_path / "legacy")
    pq_codes_save(half, books, legacy, n_partitions=2)
    want = pq_index_topk(half, q, legacy, k=5, rerank=600)
    assert sorted(map(tuple, got_pinned.collect())) == sorted(
        map(tuple, want.collect())
    )
    # current search sees the full corpus save; updates hit current only
    gen1_dir = resolve_generation(spark, path, 1)
    gen1_codes_before = sorted(
        map(tuple, spark.read.parquet(gen1_dir + "/codes").collect())
    )
    pq_codes_update(e, e.filter(F.col("vec_id") < 20).select("vec_id"), path)
    assert sorted(
        map(tuple, spark.read.parquet(gen1_dir + "/codes").collect())
    ) == gen1_codes_before
    got_cur = pq_index_topk(e, q, path, k=5, rerank=600)
    assert got_cur.count() == 5


def test_hnsw_update_and_reshard_mutate_current_generation(spark, tmp_path):
    """The in-place HNSW maintenance paths resolve a versioned root to
    its CURRENT generation: the retained older generation keeps
    answering its own corpus after an update, and a reshard rebuilds
    the current generation in place."""
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
        hnsw_index_update,
    )

    e = _emb(spark).select("vec_id", "v")
    half = e.filter(F.col("vec_id") % 2 == 0)
    root = str(tmp_path / "idx")
    hnsw_index_save(half, root, target_rows_per_subindex=128,
                    keep_generations=2)
    hnsw_index_save(half, root, target_rows_per_subindex=128,
                    keep_generations=2)
    # add the odd vectors to the CURRENT generation only
    delta = e.filter(F.col("vec_id") % 2 == 1)
    hnsw_index_update(e, delta.select("vec_id"), root)
    q = e.filter(F.col("vec_id") == 0).select("vec_id", "v")
    old_nids = {
        r["nid"]
        for r in hnsw_index_knn(spark, root, q, k=5, generation=1).collect()
    }
    assert all(n % 2 == 0 for n in old_nids)  # gen 1: evens only, intact
    # update ≡ rebuild on the CURRENT generation: the post-update search
    # must be bit-identical to a fresh legacy save over the full corpus
    legacy = str(tmp_path / "legacy_full")
    hnsw_index_save(e, legacy, target_rows_per_subindex=128)
    want_cur = sorted(
        map(tuple, hnsw_index_knn(spark, legacy, q, k=5).collect())
    )
    got_cur = sorted(
        map(tuple, hnsw_index_knn(spark, root, q, k=5).collect())
    )
    assert got_cur == want_cur
    # the filtered read takes the same pin
    from cinegraph_spark.operators.hnsw import (
        hnsw_index_filtered_knn,
        hnsw_index_reshard,
    )

    adm = e.select("vec_id")
    filt_old = {
        r["nid"]
        for r in hnsw_index_filtered_knn(
            spark, root, q, adm, k=5, generation=1
        ).collect()
    }
    assert all(n % 2 == 0 for n in filt_old)
    # RESHARD on a versioned root swaps the current generation's own
    # directory in place — the r15 review's marker-loss regression guard:
    # the swap must carry _GEN_COMMITTED through, so the resharded
    # generation stays the resolvable current one (a regression here
    # silently serves the stale generation 1 or takes resolution down)
    out = hnsw_index_reshard(e, root, target_rows_per_subindex=64,
                             force=True)
    assert out["resharded"] is True
    assert sorted(list_generations(spark, root)) == [1, 2]
    assert sorted(
        map(tuple, hnsw_index_knn(spark, root, q, k=5).collect())
    ) == want_cur  # still the full corpus, through the resharded gen 2
    assert {
        r["nid"]
        for r in hnsw_index_knn(spark, root, q, k=5, generation=1).collect()
    } == old_nids  # generation 1 untouched by the reshard


def test_mode_slip_guards_refuse_destructive_saves(spark, tmp_path):
    """r15 review: publish mode is per-call, so one slip must refuse
    loudly instead of destroying state — a LEGACY save onto a versioned
    root would delete every retained rollback snapshot in one swap, and
    a first VERSIONED save onto a legacy root would leave the stale
    legacy files shadowing the root."""
    versioned = str(tmp_path / "v")
    hash_layout_save(_mk(spark, 0, 3), versioned, "id", 2,
                     keep_generations=2)
    with pytest.raises(ValueError, match="versioned state root"):
        hash_layout_save(_mk(spark, 0, 3), versioned, "id", 2)
    assert sorted(list_generations(spark, versioned)) == [1]  # intact
    legacy = str(tmp_path / "l")
    hash_layout_save(_mk(spark, 0, 3), legacy, "id", 2)
    with pytest.raises(ValueError, match="legacy"):
        hash_layout_save(_mk(spark, 0, 3), legacy, "id", 2,
                         keep_generations=2)
    assert _ids(layout_read(spark, legacy)) == [0, 1, 2]  # intact


def test_crashed_generation_swap_heals_on_read(spark, tmp_path):
    """An in-place maintenance swap of a generation directory that dies
    between its renames parks the generation under sibling names; the
    next resolution must heal it (both markers ride the sibling), never
    silently serve the stale previous generation."""
    import os as _os

    root = str(tmp_path / "t")
    hash_layout_save(_mk(spark, 0, 3), root, "id", 2, keep_generations=2)
    hash_layout_save(_mk(spark, 10, 14), root, "id", 2, keep_generations=2)
    gen2 = resolve_generation(spark, root, 2)
    gen2 = gen2[len("file:"):] if gen2.startswith("file:") else gen2
    # simulate the between-renames crash window of a gen-dir swap
    parked = gen2 + "__swap__abcdefabcdef"
    _os.rename(gen2, parked)
    open(_os.path.join(parked, "_SWAP_COMPLETE"), "w").close()
    open(_os.path.join(parked, "_GEN_COMMITTED"), "w").close()
    # resolution heals: current is generation 2 again, with its data
    assert _ids(layout_read(spark, root)) == [10, 11, 12, 13]
    assert sorted(list_generations(spark, root)) == [1, 2]
    assert not _os.path.exists(parked)
