"""``session.local_df`` contract: metadata-scale frames are built on the
driver (a ``LocalTableScan`` over an Arrow table), so an action over one
runs no Python worker and ``collect()`` runs no Spark job, while schema,
nullability, rows and row refusal stay those of ``createDataFrame``'s row
path."""

from __future__ import annotations

import pytest

from cinegraph_spark.session import local_df

#: every column type the engine passes to local_df, NULLs included
DDL = (
    "a long, b int, c string, d double, e array<double>, "
    "f array<array<double>>, g binary"
)
ROWS = [
    (1, 2, "x", 1.5, [1.0, None, -0.0], [[1.0], [2.0, 3.0]], bytearray(b"ab")),
    (None, None, None, None, None, None, None),
    (-(2**63), -(2**31), "", -0.0, [], [[], None], bytearray()),
]
CASES = [
    (ROWS, DDL),
    ([(int(b),) for b in (3, 1, 2)], "batch_id long"),
    ([("en", 20), ("es", None)], "lang string, q int"),
    ([(0.25,), (0.5,)], "q double"),
    ([], "qid long, nid long, cos_sim double, rnk long"),
]


def _row_path(spark, rows, ddl):
    """The frame ``createDataFrame`` builds over a one-slice RDD."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ddl)


@pytest.mark.parametrize("rows,ddl", CASES, ids=[c[1] for c in CASES])
def test_local_df_matches_row_path_without_a_job(
    spark, spark_work, rows, ddl
):
    got = local_df(spark, rows, ddl)
    ref = _row_path(spark, rows, ddl)
    assert got.schema == ref.schema  # names, types and nullability
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    out: list = []
    jobs, _, _ = spark_work(lambda: out.extend(got.collect()))
    assert jobs == 0
    assert out == ref.collect()
    # the probe sees jobs when there are some: the row path runs one
    assert spark_work(ref.collect)[0] > 0


def test_local_df_accepts_a_struct_type_and_dict_rows(spark):
    from cinegraph_spark.schemas import GRAPH

    row = (0, "root", "root", "root", 0)
    assert local_df(spark, [row], GRAPH).collect() == _row_path(
        spark, [row], GRAPH
    ).collect()
    got = local_df(spark, [{"b": "x", "a": 1}], "a long, b string")
    assert [tuple(r) for r in got.collect()] == [(1, "x")]


def test_empty_local_df_survives_a_parquet_round_trip(spark, tmp_path):
    ddl = "part_id int, n_vectors long, v array<double>, blob binary"
    empty = local_df(spark, [], ddl)
    path = str(tmp_path / "empty")
    empty.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema == empty.schema
    assert back.count() == 0


@pytest.mark.parametrize(
    "rows,ddl,field",
    [
        ([(1.5,)], "a long", "a"),
        ([(1, 2)], "a long, b double", "b"),
        ([("x", [1])], "a string, v array<double>", "v"),
        ([(1,)], "a long, b string", None),
    ],
)
def test_local_df_refuses_bad_rows_by_name(spark, rows, ddl, field):
    with pytest.raises((TypeError, ValueError)) as err:
        local_df(spark, rows, ddl)
    if field is not None:
        assert f"field {field}" in str(err.value)


def test_local_df_needs_a_struct_schema(spark):
    from pyspark.sql.types import LongType

    with pytest.raises(TypeError, match="struct schema"):
        local_df(spark, [(1,)], LongType())
