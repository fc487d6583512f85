"""Atomic sibling-swap contract (operators/serving_io.py) — the shared
write path every serving table (HNSW blobs, IVF centroids, PQ state)
rides. The crash property under test: the live state at ``path`` is
never destroyed by a failed write; only a successful, fully-durable
sibling ever replaces it.
"""

from __future__ import annotations

import pytest

from cinegraph_spark.operators.serving_io import (
    atomic_swap_dir,
    atomic_swap_write,
)


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).collect())


def test_swap_write_creates_and_replaces(spark, tmp_path):
    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)  # no pre-existing target
    assert _ids(spark, path) == [0, 1, 2]
    atomic_swap_write(spark.range(5, 8), path)  # replace
    assert _ids(spark, path) == [5, 6, 7]
    assert [p.name for p in tmp_path.iterdir() if "__swap__" in p.name] == []


def test_swap_write_can_read_target_lazily(spark, tmp_path):
    """The maintenance shape: the written frame reads the CURRENT table at
    ``path`` (kept-rows union) — legal because the old files persist until
    after the sibling write completes."""
    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    old = spark.read.parquet(path)  # lazy read of the live table
    atomic_swap_write(old.unionByName(spark.range(10, 12)), path)
    assert _ids(spark, path) == [0, 1, 2, 10, 11]


def test_swap_dir_exception_leaves_target_untouched(spark, tmp_path):
    """A failure while populating the sibling must not touch the live
    state; the partial sibling stays on disk for inspection."""
    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    with pytest.raises(RuntimeError, match="boom"):
        with atomic_swap_dir(spark, path) as tmp:
            spark.range(99).write.parquet(tmp + "/partial")
            raise RuntimeError("boom")
    assert _ids(spark, path) == [0, 1, 2]
    siblings = [p.name for p in tmp_path.iterdir() if "__swap__" in p.name]
    assert len(siblings) == 1  # the recovery copy


def test_recover_swap_completes_interrupted_swap(spark, tmp_path):
    """Crash between the two renames: both copies parked (__old__ +
    __swap__, same token), path missing. Recovery must prefer the freshly
    written state (it was durably complete before the old one was moved)
    and clear the aside copy."""
    import os

    from cinegraph_spark.operators.serving_io import recover_swap

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    spark.range(10, 13).write.parquet(path + "__swap__0123456789ab")
    os.rename(path, path + "__old__0123456789ab")  # simulate the window
    out = recover_swap(spark, path)
    assert out == {"action": "restored_new", "token": "0123456789ab"}
    assert _ids(spark, path) == [10, 11, 12]
    assert [p.name for p in tmp_path.iterdir()] == ["t"]


def test_recover_swap_restores_old_when_no_new_copy(spark, tmp_path):
    import os

    from cinegraph_spark.operators.serving_io import recover_swap

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    os.rename(path, path + "__old__0123456789ab")
    out = recover_swap(spark, path)
    assert out["action"] == "restored_old"
    assert _ids(spark, path) == [0, 1, 2]


def test_recover_swap_is_conservative(spark, tmp_path):
    """A live table is never touched (an orphan __swap__ next to it is a
    kept-for-inspection failed write), and two distinct parked tokens have
    no well-defined winner and must raise."""
    import os

    import pytest as _pytest

    from cinegraph_spark.operators.serving_io import recover_swap

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    spark.range(42).write.parquet(path + "__swap__deadbeefcafe")
    assert recover_swap(spark, path) == {"action": "none", "token": None}
    assert _ids(spark, path) == [0, 1, 2]
    assert any("__swap__" in p.name for p in tmp_path.iterdir())

    os.rename(path, path + "__old__0123456789ab")
    with _pytest.raises(IOError, match="2 distinct crashed-swap tokens"):
        recover_swap(spark, path)
    assert recover_swap(spark, str(tmp_path / "never_written")) == {
        "action": "none",
        "token": None,
    }


def test_stale_sibling_never_corrupts_reads_or_later_swaps(spark, tmp_path):
    """A crash-leftover sibling from a previous run is inert: reads of the
    table ignore it and a later successful swap works alongside it."""
    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    spark.range(42).write.parquet(path + "__swap__deadbeefcafe")
    assert _ids(spark, path) == [0, 1, 2]
    atomic_swap_write(spark.range(7, 9), path)
    assert _ids(spark, path) == [7, 8]


def test_orphan_old_swept_and_pair_preferred(spark, tmp_path):
    """A post-swap crash (new state live, aside not deleted) leaves an
    orphan __old__: the NEXT swap sweeps it (no unbounded disk leak).
    And recover_swap resolves a multi-token parking lot when exactly one
    token is a complete __old__+__swap__ pair — the only configuration
    provably past the sibling write — preferring it over a lone orphan."""
    import os

    from cinegraph_spark.operators.serving_io import recover_swap

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    # simulate the post-swap crash window: aside copy never deleted
    spark.range(99).write.parquet(path + "__old__aaaaaaaaaaaa")
    atomic_swap_write(spark.range(5), path)  # next swap sweeps the orphan
    assert not os.path.exists(path + "__old__aaaaaaaaaaaa")
    assert _ids(spark, path) == [0, 1, 2, 3, 4]

    # multi-token recovery: lone __old__ orphan + one complete pair —
    # the pair's swap copy wins (it was durably written before the old
    # state was touched); the orphan is ignored
    spark.range(99).write.parquet(path + "__old__aaaaaaaaaaaa")
    os.rename(path, path + "__old__bbbbbbbbbbbb")
    spark.range(7, 9).write.parquet(path + "__swap__bbbbbbbbbbbb")
    out = recover_swap(spark, path)
    assert out == {"action": "restored_new", "token": "bbbbbbbbbbbb"}
    assert _ids(spark, path) == [7, 8]


def _window(spark, path: str, token: str = "feedfacef00d") -> None:
    """Turn the LIVE state at ``path`` into the between-renames crash
    window: the committed state parked as the complete ``__swap__``
    sibling (it carries the _SWAP_COMPLETE marker from its own save),
    a prior state parked aside under the same token, live path gone."""
    import os

    spark.range(1).write.parquet(path + "__old__" + token)
    os.rename(path, path + "__swap__" + token)


def test_every_serving_read_path_auto_recovers(spark, sf_dir, tmp_path):
    """r13 verdict task 2: a between-renames crash must not take serving
    down — every serving-state LOADER (hnsw_index_knn, ivf_index_topk,
    pq_index_topk via _pq_read_state, layout_read via layout_meta) heals
    the window itself on its next read, answering exactly what the
    uncrashed state would have answered."""
    import os

    from pyspark.sql import functions as F

    from cinegraph_spark.operators.hnsw import (
        hnsw_index_knn,
        hnsw_index_save,
    )
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )
    from cinegraph_spark.operators.similarity import (
        ivf_centroids_save,
        ivf_index_topk,
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
    q = e.filter(F.col("vec_id") < 3).select("vec_id", "v")
    q1 = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # HNSW blob table
    hp = str(tmp_path / "hnsw")
    hnsw_index_save(e.select("vec_id", "v"), hp, target_rows_per_subindex=256)
    want = rows(hnsw_index_knn(spark, hp, q, k=3))
    _window(spark, hp)
    assert rows(hnsw_index_knn(spark, hp, q, k=3)) == want
    assert os.path.exists(hp)  # healed, not just answered

    # IVF centroid table
    ip = str(tmp_path / "ivf")
    ivf_centroids_save(e, ip)
    want = rows(ivf_index_topk(e, q1, ip, nprobe=2, k=5))
    _window(spark, ip)
    assert rows(ivf_index_topk(e, q1, ip, nprobe=2, k=5)) == want
    assert os.path.exists(ip)

    # PQ books+codes state (multi-table swap root)
    pp = str(tmp_path / "pq")
    books = pq_train(e.select("vec_id", "v"), m=8, k=16)
    pq_codes_save(e.select("vec_id", "v"), books, pp)
    want = rows(pq_index_topk(e.select("vec_id", "v"), q1, pp, k=5))
    _window(spark, pp)
    assert rows(pq_index_topk(e.select("vec_id", "v"), q1, pp, k=5)) == want
    assert os.path.exists(pp)

    # clustered layout (layout_meta is the shared loader entry)
    lp = str(tmp_path / "layout")
    hash_layout_save(e.select("vec_id", "v"), lp, "vec_id", 4)
    want_n = layout_read(spark, lp).count()
    _window(spark, lp)
    assert layout_read(spark, lp).count() == want_n
    assert os.path.exists(lp)


def test_lone_unmarked_swap_is_never_promoted(spark, tmp_path):
    """r13 ADVICE: a lone __swap__ WITHOUT the completion marker (a
    partial failed FIRST write) must raise for a human, not silently
    become the live table; with the marker (a complete first write that
    crashed before its single rename) it restores."""
    import pytest as _pytest

    from cinegraph_spark.operators.serving_io import recover_swap

    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path + "__swap__aaaaaaaaaaaa")
    with _pytest.raises(IOError, match="no _SWAP_COMPLETE marker"):
        recover_swap(spark, path)

    # same copy with the marker: provably complete, restore it
    (tmp_path / "t__swap__aaaaaaaaaaaa" / "_SWAP_COMPLETE").touch()
    out = recover_swap(spark, path)
    assert out == {"action": "restored_new", "token": "aaaaaaaaaaaa"}
    assert _ids(spark, path) == [0, 1, 2, 3, 4]


def test_read_path_propagates_ambiguous_window(spark, tmp_path):
    """Multi-token ambiguity still raises through a read path instead of
    guessing a winner."""
    import os

    import pytest as _pytest

    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        layout_read,
    )

    path = str(tmp_path / "t")
    hash_layout_save(spark.range(10).withColumnRenamed("id", "k"), path, "k", 2)
    os.rename(path, path + "__old__aaaaaaaaaaaa")
    spark.range(3).write.parquet(path + "__old__bbbbbbbbbbbb")
    with _pytest.raises(IOError, match="distinct crashed-swap tokens"):
        layout_read(spark, path)


def test_vacuum_parked_siblings_age_bounded(spark, tmp_path):
    """Retention cleanup (r13 verdict task 7): old debris next to a LIVE
    table is deleted, young siblings (possibly a write in flight) are
    kept, dry_run lists without deleting, and a missing live path
    refuses to touch anything (recovery material)."""
    import os
    import time

    import pytest as _pytest

    from cinegraph_spark.operators.serving_io import vacuum_parked_siblings

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    old_swap = path + "__swap__aaaaaaaaaaaa"
    old_aside = path + "__old__bbbbbbbbbbbb"
    young = path + "__swap__cccccccccccc"
    for p in (old_swap, old_aside, young):
        spark.range(1).write.parquet(p)
    stale = time.time() - 48 * 3600
    for d in (old_swap, old_aside):  # age dir AND files: vacuum ages by
        os.utime(d, (stale, stale))  # the NEWEST mtime in the sibling
        for root, _dirs, names in os.walk(d):
            for n in names:
                os.utime(os.path.join(root, n), (stale, stale))

    def names(paths):  # the operator reports fs URIs (file:/...)
        return sorted(p.rsplit("/", 1)[-1] for p in paths)

    out = vacuum_parked_siblings(spark, path, 24.0, dry_run=True)
    assert names(out["deleted"]) == names([old_aside, old_swap])
    assert names(out["kept"]) == names([young])
    assert os.path.exists(old_swap)  # dry run: nothing touched

    out = vacuum_parked_siblings(spark, path, 24.0)
    assert names(out["deleted"]) == names([old_aside, old_swap])
    assert not os.path.exists(old_swap) and not os.path.exists(old_aside)
    assert os.path.exists(young) and os.path.exists(path)

    # missing live path: every parked copy is recovery material
    os.rename(path, path + "__old__dddddddddddd")
    with _pytest.raises(IOError, match="run\\s+recover_swap first"):
        vacuum_parked_siblings(spark, path, 0.0)


def test_vacuum_probe_file_is_cleaned_up(spark, tmp_path):
    """Vacuum derives "now" from the storage clock via a probe file (r14
    ADVICE: a skewed driver clock could mis-age a young in-flight
    sibling); the probe itself must not linger as debris."""
    import os

    from cinegraph_spark.operators.serving_io import vacuum_parked_siblings

    path = str(tmp_path / "t")
    atomic_swap_write(spark.range(3), path)
    spark.range(1).write.parquet(path + "__swap__eeeeeeeeeeee")
    out = vacuum_parked_siblings(spark, path, 24.0)
    assert out["deleted"] == []  # freshly written: storage-clock young
    assert not any("__vacuum_probe__" in p.name for p in tmp_path.iterdir())


class _FakeRaceFs:
    """Duck-typed stand-in for the Hadoop FileSystem in the writer-race
    unit test: rename always fails (a recoverer moved src first), and
    the goal state is what the recoverer left — dest live, src gone."""

    def __init__(self, dest_exists: bool, src_exists: bool):
        self._state = {"dest": dest_exists, "src": src_exists}

    def rename(self, src, dest):
        return False

    def exists(self, p):
        return self._state[str(p)]


def test_writer_detects_lost_swap_race_as_success():
    """A reader's open_state heal landing in the writer's between-renames
    window may complete the swap; the writer's own rename then fails
    with the new state live and correct. That is success, not an error
    (r14 ADVICE: race handling was asymmetric — recover_swap's loser
    already reported restored_by_race)."""
    import pytest as _pytest

    from cinegraph_spark.operators.serving_io import _swap_in_new

    # recoverer won: dest live, src gone -> success, no raise
    _swap_in_new(
        _FakeRaceFs(dest_exists=True, src_exists=False),
        "src", "dest", "/tmp/t__swap__x", "/tmp/t", "/tmp/t__old__x",
    )
    # genuine failure shapes still raise: dest missing, or src lingering
    for dest_e, src_e in ((False, True), (False, False), (True, True)):
        with _pytest.raises(IOError, match="atomic swap rename"):
            _swap_in_new(
                _FakeRaceFs(dest_e, src_e),
                "src", "dest", "/tmp/t__swap__x", "/tmp/t", "/tmp/t__old__x",
            )
