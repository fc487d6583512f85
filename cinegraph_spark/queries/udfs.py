"""The two pandas_udf forms SURVEY §2.10 declares that no other module
exercises: SCALAR (vectorized per-batch column function) and GROUPED_AGG
(whole-group reduction to one value). Everything else on the UDF surface —
mapInPandas (M3 scoring), grouped-map applyInPandas (arc smoothing),
cogrouped applyInPandas (merge_asof), UDTF (sentence split),
applyInPandasWithState / transformWithStateInPandas (streaming) — lives in
its own query family already.

Both queries carry exact DuckDB oracles: the scalar UDF is pure arithmetic
(so the oracle is the same expression in SQL), and the grouped-agg UDF
implements the sorted-index Gini formula that SQL reproduces with one
window. Row-at-a-time Python UDFs stay deliberately absent — these are the
Arrow-vectorized forms, the only Python allowed near a hot path.

The ``@pandas_udf`` decorators run inside the query builders (not at module
scope): parsing the return-type DDL requires an active SparkSession, and
query modules import session-free.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type-hint resolution needs it
from pyspark.sql import functions as F

from cinegraph_spark.queries import register
from cinegraph_spark.queries.util import T, r4


#: Net revenue per return flag: the pandas scalar UDF and the Arrow map
#: forms share one result contract.
_NET_REVENUE_ORACLE = """
    SELECT l_returnflag,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS net_revenue
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag
    """


@register(
    "udf_pandas_scalar_net_revenue",
    _NET_REVENUE_ORACLE,
    tags=("udf", "pandas-udf", "scalar"),
)
def udf_pandas_scalar_net_revenue(spark, sf_dir):
    """Scalar pandas_udf: the Q1 net-revenue expression computed in an
    Arrow-vectorized Python batch function instead of JVM codegen. Catalyst
    still pushes the shipdate filter to the scan and prunes columns; only
    the three arithmetic inputs cross the Arrow boundary. (The JVM
    expression is of course faster — strfn/relational queries prove that
    path; THIS query pins that when Python math is genuinely needed, the
    engine's shape is ArrowEvalPython, never BatchEvalPython.)"""
    from pyspark.sql.functions import pandas_udf

    from cinegraph_spark.session import ensure_shipped

    ensure_shipped(spark)

    @pandas_udf("double")
    def net_revenue(
        extended: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return extended * (1.0 - discount) * (1.0 + tax)

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.withColumn(
            "net", net_revenue("l_extendedprice", "l_discount", "l_tax")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("net"), 2).alias("net_revenue"),
        )
    )


@register(
    "udf_pandas_grouped_agg_gini",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS i,
             count(*)  OVER (PARTITION BY o_orderpriority) AS n,
             sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s
      FROM orders WHERE o_totalprice IS NOT NULL
    ), g AS (
      SELECT o_orderpriority,
             round(2.0 * sum(i * o_totalprice) / (max(n) * max(s))
                   - (max(n) + 1.0) / max(n), 4) AS gini
      FROM ranked GROUP BY o_orderpriority
    ), cnt AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_orderpriority
    )
    SELECT cnt.o_orderpriority, cnt.n_orders, coalesce(g.gini, 0.0) AS gini
    FROM cnt LEFT JOIN g USING (o_orderpriority)
    """,
    tags=("udf", "pandas-udf", "grouped-agg"),
)
def udf_pandas_grouped_agg_gini(spark, sf_dir):
    """GROUPED_AGG pandas_udf: Gini concentration of order value per order
    priority — a whole-group reduction with no built-in equivalent, fed to
    `groupBy().agg()` exactly like a native aggregate. Spark shuffles each
    group's column to one Arrow batch; the oracle reproduces the sorted-
    index formula with one SQL window. (Group sizes are priority-bounded
    here; for million-row groups you'd pre-aggregate or use the windowed
    SQL form — grouped-agg UDFs hold a whole group in memory, the
    documented constraint of this API.)"""
    from pyspark.sql.functions import pandas_udf

    from cinegraph_spark.session import ensure_shipped

    ensure_shipped(spark)

    @pandas_udf("double")
    def gini(x: pd.Series) -> float:
        import numpy as np

        # dropna: Arrow hands SQL NULLs to pandas as NaN, and one NaN
        # poisons the whole group's sort+sum into NaN (r17 adversarial
        # sweep); gini is defined over the present values
        v = np.sort(x.dropna().to_numpy(dtype="float64"))
        n = v.size
        if n == 0 or v.sum() == 0:
            return 0.0
        i = np.arange(1, n + 1, dtype="float64")
        return float(2.0 * (i * v).sum() / (n * v.sum()) - (n + 1.0) / n)

    o = T(spark, sf_dir, "orders")
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — two aggs on the same key, tiny join
    g = o.groupBy("o_orderpriority").agg(r4(gini("o_totalprice")).alias("gini"))
    n = o.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))
    return n.join(g, "o_orderpriority").select(
        "o_orderpriority", "n_orders", "gini"
    )


@register(
    "udf_arrow_map_net_revenue",
    _NET_REVENUE_ORACLE,
    tags=("udf", "arrow", "mapInArrow"),
)
def udf_arrow_map_net_revenue(spark, sf_dir):
    """The same net-revenue semantics through ``mapInArrow`` — the
    lowest-level Python hook: raw ``pyarrow.RecordBatch`` in, RecordBatch
    out, no pandas materialization at all. This is the right tier when the
    Python work is itself Arrow-native (pyarrow.compute kernels, Arrow-
    backed ML featurizers): it skips the Arrow→pandas→Arrow copy that
    mapInPandas pays. Pre-aggregation happens per batch INSIDE the UDF
    (one output row per returnflag per batch), so what crosses back to the
    JVM is already tiny and the final groupBy merges batch partials — the
    map-side-combine shape, hand-held through the Arrow boundary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from cinegraph_spark.session import ensure_shipped

    ensure_shipped(spark)

    def per_batch(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            net = pc.multiply(
                pc.multiply(
                    t["l_extendedprice"],
                    pc.subtract(pa.scalar(1.0), t["l_discount"]),
                ),
                pc.add(pa.scalar(1.0), t["l_tax"]),
            )
            # count mode="all": a NULL l_tax makes net NULL, and pyarrow's
            # default count skips NULLs — n_items must match the oracle's
            # count(*), which counts every row (r17 adversarial sweep);
            # the sum correctly skips the NULL products on both engines
            grouped = (
                t.append_column("net", net)
                .group_by("l_returnflag")
                .aggregate(
                    [
                        ("net", "sum"),
                        ("net", "count", pc.CountOptions(mode="all")),
                    ]
                )
            )
            yield pa.RecordBatch.from_arrays(
                [
                    grouped["l_returnflag"].combine_chunks(),
                    grouped["net_sum"].combine_chunks(),
                    grouped["net_count"].cast(pa.int64()).combine_chunks(),
                ],
                ["l_returnflag", "part_sum", "part_n"],
            )

    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_extendedprice", "l_discount", "l_tax")
    )
    partials = li.mapInArrow(
        per_batch, "l_returnflag string, part_sum double, part_n long"
    )
    return partials.groupBy("l_returnflag").agg(
        F.sum("part_n").alias("n_items"),
        F.round(F.sum("part_sum"), 2).alias("net_revenue"),
    )
