"""Clustered corpus layouts (operators/maintenance.py, r13) — the
partition-directory machinery that makes serving-table maintenance reads
scan-proportional to the CHANGE instead of the corpus (the r12 verdict's
one `weak` finding).

Load-bearing claims pinned here:
- a pruned read is a PLANNING-time directory prune (``PartitionFilters``
  in the physical plan), and files in untouched directories are never
  opened — proven by poisoning an untouched directory with a corrupt
  file and reading around it;
- `hash_layout_upsert` replaces ONLY the touched directories (untouched
  files' mtimes unchanged), drops emptied directories, and its
  latest-wins mode is replay-safe even out of order;
- identity guards: NULL keys, key-type drift, versioned/unversioned
  mode mismatches are refused with named errors.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cinegraph_spark.operators.maintenance import (
    LAYOUT_VERSION_COL,
    column_layout_save,
    hash_layout_save,
    hash_layout_upsert,
    layout_meta,
    layout_pruned_read,
    layout_read,
)


def _mk(spark, n=100):
    return spark.range(0, n).select(
        F.col("id").alias("vec_id"), (F.col("id") * 2).alias("x")
    )


def _rows(spark, path):
    return sorted(
        (r["vec_id"], r["x"]) for r in layout_read(spark, path).collect()
    )


def _dir_mtimes(path, skip_parts=()):
    """relpath -> mtime_ns for every data file outside the skipped
    partition directories."""
    out = {}
    skip = {f"part_id={p}" for p in skip_parts}
    for root, _dirs, names in os.walk(path):
        if os.path.basename(root) in skip:
            continue
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            out[os.path.relpath(p, path)] = os.stat(p).st_mtime_ns
    return out


def _parts_of(spark, df, n):
    return {
        int(r["p"])
        for r in df.select(
            F.pmod(F.hash("vec_id"), F.lit(n)).cast("int").alias("p")
        )
        .distinct()
        .collect()
    }


def test_hash_layout_roundtrip_meta_and_identity_guards(spark, tmp_path):
    e = _mk(spark)
    p = str(tmp_path / "layout")
    hash_layout_save(e, p, "vec_id", 8)
    meta = layout_meta(spark, p)
    assert meta["kind"] == "hash_key" and meta["n_partitions"] == 8
    assert meta["key"] == "vec_id" and meta["key_ddl"] == "bigint"
    assert _rows(spark, p) == sorted(
        (r["vec_id"], r["x"]) for r in e.collect()
    )
    # the manifest is part of the swap unit: present after a save
    assert os.path.exists(os.path.join(p, "_LAYOUT.json"))
    # NULL keys refused (hash(NULL) would land in an unaddressable dir)
    bad = spark.createDataFrame([(None, 1)], "vec_id long, x long")
    with pytest.raises(ValueError, match="NULL vec_id"):
        hash_layout_save(bad, str(tmp_path / "bad"), "vec_id", 4)
    # the layout owns the part_id name
    with pytest.raises(ValueError, match="part_id"):
        hash_layout_save(
            e.withColumn("part_id", F.lit(1)),
            str(tmp_path / "bad2"),
            "vec_id",
            4,
        )
    # a non-layout directory is refused with a named error, never scanned
    plain = str(tmp_path / "plain")
    e.write.parquet(plain)
    with pytest.raises(FileNotFoundError, match="not a clustered layout"):
        layout_meta(spark, plain)


def test_pruned_read_is_planning_time_directory_prune(spark, tmp_path):
    """The filter must land as PartitionFilters (directories skipped at
    planning) — and to prove files outside the pruned set are never
    OPENED, an untouched directory is poisoned with a corrupt file: the
    pruned read sails past it, a full read chokes on it."""
    from cinegraph_spark.plans import formatted_plan

    e = _mk(spark)
    p = str(tmp_path / "layout")
    hash_layout_save(e, p, "vec_id", 8)

    pruned = layout_pruned_read(spark, p, [2, 5])
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "part_id" in pf and "2,5" in pf.replace(" ", "")

    # poison an untouched directory (part_id=0 is non-empty at n=8 over
    # 0..99); the explicit-manifest-schema read must not even open it
    victim = os.path.join(p, "part_id=0", "poison.parquet")
    with open(victim, "wb") as f:
        f.write(b"this is not parquet")
    want = {
        r["vec_id"]
        for r in e.filter(
            F.pmod(F.hash("vec_id"), F.lit(8)).isin([2, 5])
        ).collect()
    }
    got = {
        r["vec_id"]
        for r in layout_pruned_read(spark, p, [2, 5]).collect()
    }
    assert got == want
    with pytest.raises(Exception):
        layout_read(spark, p).count()  # the full read DOES hit the poison


def test_unversioned_upsert_touches_only_named_directories(
    spark, tmp_path
):
    e = _mk(spark)
    p = str(tmp_path / "layout")
    hash_layout_save(e, p, "vec_id", 8)
    ups = spark.createDataFrame(
        [(1, 999), (100, 200)], "vec_id long, x long"
    )
    dels = spark.createDataFrame([(2,)], "vec_id long")
    touched = _parts_of(spark, ups.unionByName(dels, allowMissingColumns=True).select("vec_id"), 8)
    before = _dir_mtimes(p, skip_parts=touched)
    res = hash_layout_upsert(spark, p, ups, deletes=dels)
    assert set(res["touched_partitions"]) == touched
    # untouched directories: identical file set, identical mtimes
    assert _dir_mtimes(p, skip_parts=touched) == before
    rows = dict(_rows(spark, p))
    assert rows[1] == 999 and rows[100] == 200 and 2 not in rows
    assert len(rows) == 100  # 100 original - 1 delete + 1 insert


def test_upsert_drops_emptied_directory(spark, tmp_path):
    e = _mk(spark, 40)
    p = str(tmp_path / "layout")
    hash_layout_save(e, p, "vec_id", 8)
    # delete every key of one partition
    victim = sorted(_parts_of(spark, e.select("vec_id"), 8))[0]
    doomed = e.filter(
        F.pmod(F.hash("vec_id"), F.lit(8)).cast("int") == victim
    ).select("vec_id")
    empty_ups = e.filter("vec_id < 0").select("vec_id", "x")
    res = hash_layout_upsert(spark, p, empty_ups, deletes=doomed)
    assert victim in res["dropped_partitions"]
    assert not os.path.exists(os.path.join(p, f"part_id={victim}"))
    assert len(_rows(spark, p)) == 40 - doomed.count()


def test_versioned_upsert_latest_wins_under_out_of_order_replay(
    spark, tmp_path
):
    e = _mk(spark).withColumn(LAYOUT_VERSION_COL, F.lit(-1).cast("long"))
    p = str(tmp_path / "layout")
    hash_layout_save(e, p, "vec_id", 8)
    u_old = spark.createDataFrame([(1, 111)], "vec_id long, x long")
    u_new = spark.createDataFrame([(1, 222)], "vec_id long, x long")
    hash_layout_upsert(spark, p, u_old, version=0)
    hash_layout_upsert(spark, p, u_new, version=1)
    want = _rows(spark, p)
    assert dict(want)[1] == 222
    # replay of the OLD version after the new one landed: no regression,
    # layout byte-stable in content terms
    hash_layout_upsert(spark, p, u_old, version=0)
    assert _rows(spark, p) == want
    # immediate replay of the newest version: idempotent
    hash_layout_upsert(spark, p, u_new, version=1)
    assert _rows(spark, p) == want


def test_upsert_mode_and_key_guards(spark, tmp_path):
    e = _mk(spark, 20)
    plain = str(tmp_path / "plain")
    versioned = str(tmp_path / "versioned")
    hash_layout_save(e, plain, "vec_id", 4)
    hash_layout_save(
        e.withColumn(LAYOUT_VERSION_COL, F.lit(-1).cast("long")),
        versioned,
        "vec_id",
        4,
    )
    ups = spark.createDataFrame([(1, 9)], "vec_id long, x long")
    with pytest.raises(ValueError, match="no _layout_version"):
        hash_layout_upsert(spark, plain, ups, version=3)
    with pytest.raises(ValueError, match="is versioned"):
        hash_layout_upsert(spark, versioned, ups)
    with pytest.raises(ValueError, match="no defined version semantics"):
        hash_layout_upsert(
            spark,
            versioned,
            ups,
            deletes=ups.select("vec_id"),
            version=3,
        )
    null_ups = spark.createDataFrame([(None, 9)], "vec_id long, x long")
    with pytest.raises(ValueError, match="NULL or do not cast"):
        hash_layout_upsert(spark, plain, null_ups)


def test_column_layout_roundtrip_and_cell_type_restored(spark, tmp_path):
    e = spark.range(0, 30).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        (F.col("id") * 3).alias("x"),
    )
    p = str(tmp_path / "cells")
    column_layout_save(e, p, "label")
    meta = layout_meta(spark, p)
    assert meta["kind"] == "column" and meta["part_col"] == "label"
    assert meta["part_ddl"] == "int"
    back = layout_read(spark, p)
    # directory names erase the declared type; the manifest restores it
    assert back.schema["label"].dataType.simpleString() == "int"
    assert back.count() == 30
    assert layout_pruned_read(spark, p, [1, 3]).count() == e.filter(
        F.col("label").isin([1, 3])
    ).count()
    withnull = e.withColumn(
        "label", F.when(F.col("vec_id") == 0, None).otherwise(F.col("label"))
    )
    with pytest.raises(ValueError, match="NULL label"):
        column_layout_save(withnull, str(tmp_path / "bad"), "label")


def test_column_layout_upsert_touches_only_named_cells(spark, tmp_path):
    """The IVF-tier corpus maintenance path: only the cell directories
    the upsert/delete rows name are rewritten; untouched cells' files
    keep their mtimes; an emptied cell's directory drops; a moved row
    (upsert new cell + delete old cell) leaves no stale duplicate."""
    from cinegraph_spark.operators.maintenance import column_layout_upsert

    e = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        (F.col("id") * 2).alias("x"),
    )
    p = str(tmp_path / "cells")
    column_layout_save(e, p, "label")

    def mtimes(skip_cells):
        out = {}
        skip = {f"label={c}" for c in skip_cells}
        for root, _dirs, names in os.walk(p):
            if os.path.basename(root) in skip:
                continue
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                f = os.path.join(root, n)
                out[os.path.relpath(f, p)] = os.stat(f).st_mtime_ns
        return out

    # update key 1 within its cell (1 % 4 == 1) and move key 2 from
    # cell 2 to cell 3 (upsert in 3, delete from 2) — cell 0 untouched
    ups = spark.createDataFrame(
        [(1, 1, 999), (2, 3, 888)], "vec_id long, label int, x long"
    )
    dels = spark.createDataFrame([(2, 2)], "vec_id long, label int")
    before = mtimes(skip_cells={1, 2, 3})
    res = column_layout_upsert(spark, p, ups, "vec_id", deletes=dels)
    assert set(res["touched_cells"]) == {1, 2, 3}
    assert mtimes(skip_cells={1, 2, 3}) == before  # cell 0 untouched
    rows = {
        r["vec_id"]: (r["label"], r["x"])
        for r in layout_read(spark, p).collect()
    }
    assert rows[1] == (1, 999)
    assert rows[2] == (3, 888)  # moved, exactly one copy
    assert len(rows) == 40

    # empty a whole cell: every key with label == 0 deleted
    doomed = e.filter(F.col("label") == 0).select("vec_id", "label")
    res = column_layout_upsert(
        spark,
        p,
        e.filter("vec_id < 0").select("vec_id", "label", "x"),
        "vec_id",
        deletes=doomed,
    )
    assert res["dropped_cells"] == [0]
    assert not os.path.exists(os.path.join(p, "label=0"))

    # string cells whose names carry path metacharacters live under
    # Hive-escaped directory names; emptying them must drop exactly those
    s = str(tmp_path / "strcells")
    cells = ["a=b/c", "x y%", "plain"]
    column_layout_save(
        spark.createDataFrame(
            [(i, cells[i % 3]) for i in range(9)], "vec_id long, cell string"
        ),
        s,
        "cell",
    )
    escaped = {"a=b/c": "cell=a%3Db%2Fc", "x y%": "cell=x y%25"}
    assert all(os.path.isdir(os.path.join(s, d)) for d in escaped.values())
    res = column_layout_upsert(
        spark,
        s,
        spark.createDataFrame([], "vec_id long, cell string"),
        "vec_id",
        deletes=spark.createDataFrame(
            [(i, cells[i % 3]) for i in range(9) if i % 3 != 2],
            "vec_id long, cell string",
        ),
    )
    assert sorted(res["dropped_cells"]) == sorted(escaped)
    assert not any(
        os.path.exists(os.path.join(s, d)) for d in escaped.values()
    )
    kept = [r["cell"] for r in layout_read(spark, s).collect()]
    assert kept == ["plain"] * 3


def test_column_layout_upsert_guards(spark, tmp_path):
    from cinegraph_spark.operators.maintenance import column_layout_upsert

    e = spark.range(0, 12).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("label"),
    )
    p = str(tmp_path / "cells")
    column_layout_save(e, p, "label")
    null_cell = spark.createDataFrame(
        [(1, None)], "vec_id long, label int"
    )
    with pytest.raises(ValueError, match="NULL or int-uncastable label"):
        column_layout_upsert(spark, p, null_cell, "vec_id")
    null_key = spark.createDataFrame(
        [(None, 1)], "vec_id long, label int"
    )
    with pytest.raises(
        ValueError, match="NULL or bigint-uncastable vec_id"
    ):
        column_layout_upsert(spark, p, null_key, "vec_id")
    # wrong layout kind
    h = str(tmp_path / "hashlay")
    hash_layout_save(e, h, "vec_id", 4)
    with pytest.raises(ValueError, match="not a column layout"):
        column_layout_upsert(spark, h, e.limit(1), "vec_id")


def test_upsert_refuses_duplicate_keys_both_tiers(spark, tmp_path):
    """One call, two rows for one key: no defined winner (versioned mode
    would pick nondeterministically among equal versions, unversioned
    mode would write the key twice) — refused up front at both tiers;
    duplicate DELETE keys stay harmless."""
    import pytest

    from cinegraph_spark.operators.maintenance import (
        column_layout_save,
        column_layout_upsert,
        hash_layout_save,
        hash_layout_upsert,
    )

    e = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(9)],
        "vec_id long, label int, x long",
    )
    h = str(tmp_path / "h")
    hash_layout_save(e, h, "vec_id", 4)
    dup = spark.createDataFrame(
        [(1, 0, 111), (1, 0, 222)], "vec_id long, label int, x long"
    )
    with pytest.raises(ValueError, match="duplicate upsert vec_id"):
        hash_layout_upsert(spark, h, dup)
    # duplicate deletes: fine (distinct-ed)
    deldup = spark.createDataFrame([(2,), (2,)], "vec_id long")
    out = hash_layout_upsert(
        spark,
        h,
        spark.createDataFrame([], "vec_id long, label int, x long"),
        deletes=deldup,
    )
    assert 8 == spark.read.parquet(h).count()
    assert out["touched_partitions"]

    c = str(tmp_path / "c")
    column_layout_save(e, c, "label")
    with pytest.raises(ValueError, match="duplicate upsert vec_id"):
        column_layout_upsert(spark, c, dup, "vec_id")


def test_version_column_detection_is_name_exact(spark, tmp_path):
    """A data column whose NAME merely contains '_layout_version'
    (e.g. old_layout_version) must not flip the layout into versioned
    mode — detection parses field names, never substring-matches the
    DDL."""
    from cinegraph_spark.operators.maintenance import (
        hash_layout_save,
        hash_layout_upsert,
    )

    e = spark.createDataFrame(
        [(i, i) for i in range(6)],
        "vec_id long, old_layout_version long",
    )
    p = str(tmp_path / "lay")
    hash_layout_save(e, p, "vec_id", 3)
    # unversioned upsert must WORK (the substring bug raised
    # "layout is versioned; pass version=")
    up = spark.createDataFrame(
        [(1, 99)], "vec_id long, old_layout_version long"
    )
    hash_layout_upsert(spark, p, up)
    got = {
        (r["vec_id"], r["old_layout_version"])
        for r in spark.read.parquet(p).collect()
    }
    assert (1, 99) in got and len(got) == 6


def test_write_side_expectations(spark, tmp_path):
    """Write-side data contracts (r15): `expect` rides the save's own
    Observation — a violated expectation refuses the publish, deletes
    the staged state, and leaves any previous live layout untouched."""
    from cinegraph_spark.operators.maintenance import DV_DIR  # noqa: F401

    good = _mk(spark)  # vec_id 0..99, x = 2*vec_id
    p = str(tmp_path / "layout")
    hash_layout_save(
        good, p, "vec_id", 4,
        expect={"x_even": "x % 2 = 0", "x_bounded": "x < 1000"},
    )
    assert len(_rows(spark, p)) == 100

    # a violating re-save refuses by name and keeps the live state
    bad = good.withColumn(
        "x", F.when(F.col("vec_id") == 7, F.lit(1001)).otherwise(F.col("x"))
    )
    with pytest.raises(ValueError, match="x_bounded.*1 row"):
        hash_layout_save(
            bad, p, "vec_id", 4,
            expect={"x_even": "x % 2 = 0", "x_bounded": "x < 1000"},
        )
    assert len(_rows(spark, p)) == 100  # live layout untouched

    # NULL evaluates as a violation (CHECK-constraint convention)
    nullish = good.withColumn(
        "x", F.when(F.col("vec_id") == 3, F.lit(None)).otherwise(F.col("x"))
    )
    with pytest.raises(ValueError, match="x_even.*1 row"):
        hash_layout_save(
            nullish, str(tmp_path / "n"), "vec_id", 4,
            expect={"x_even": "x % 2 = 0"},
        )

    # column layouts share the machinery
    with pytest.raises(ValueError, match="never_negative"):
        column_layout_save(
            _mk(spark).withColumn("cell", F.col("vec_id") % 3 - 1),
            str(tmp_path / "c"),
            "cell",
            expect={"never_negative": "cell >= 0"},
        )
