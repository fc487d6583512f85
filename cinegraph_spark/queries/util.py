"""Shared helpers for registry query implementations."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cinegraph_spark.session import bounded_shuffle, scoped_confs  # noqa: F401
# (re-exported: query modules and tests import these from here)

#: Decimal places for float results on both engines. Cross-engine double
#: aggregation differs in the final ulp (summation order); 4 decimals is far
#: coarser than the ~1e-10 relative error while keeping results meaningful.
ROUND_DECIMALS = 4


#: Overflow-free deterministic scramble of doc_id, uniform-ish on [0, 1000):
#: Knuth multiplicative hash (golden-ratio constant 2654435761) after a
#: mod-100003 (prime) reduction so the product stays far below 2^63 in both
#: engines (DuckDB raises on BIGINT overflow rather than wrapping). Shared by
#: the sampling family and analytics' DSIR resampling — lives here because
#: query modules may only cross-import via non-registering shared modules.
SCRAMBLE_SQL = "(doc_id % 100003) * 2654435761 % 1000"


#: Each purchase with its most recent preceding click (as-of join): the
#: JVM (events) and the cogrouped-pandas (analytics) forms share one result
#: contract.
_ASOF_PURCHASE_CLICK_ORACLE = """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           c.event_id AS asof_click_id,
           c.value    AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    QUALIFY row_number() OVER (PARTITION BY p.event_id
                               ORDER BY c.ts DESC NULLS LAST,
                                        c.event_id DESC NULLS LAST) = 1
    """


#: Weekly retention cohorts: the batch (analytics) and the streaming
#: (events) forms share one result contract.
_RETENTION_COHORTS_ORACLE = """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset, count(*) AS n_users
    FROM activity GROUP BY 1, 2
    """


def scramble(col: Column) -> Column:
    """Spark twin of :data:`SCRAMBLE_SQL`."""
    return (col % 100003) * F.lit(2654435761) % 1000


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table stores TIMESTAMP(NANOS) parquet, which Spark's
    vectorized reader rejects. Read nanos as long (the legacy flag is
    scoped: its effect is captured in the analyzed plan, verified by
    tests/test_conf_hygiene.py) and rebuild the timestamp at microsecond
    precision with exact integer division (``div``, not double `/` —
    ns-since-2024 exceeds double's 53-bit integer range). DuckDB truncates
    ns→µs the same way, so both engines see identical instants.

    ``ts`` is produced as TIMESTAMP_NTZ holding the UTC wall clock — the
    session-tz-independent type that matches DuckDB's naive timestamps
    directly, so no query needs the session time zone pinned (the
    ``convert_timezone('UTC', ltz)`` round-trip through the session zone
    cancels it out)."""
    with scoped_confs(spark, **{"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) file read as long
            df = df.withColumn(
                "ts",
                F.expr("convert_timezone('UTC', timestamp_micros(ts div 1000))"),
            )
        elif ts_type == "timestamp":
            # instant (isAdjustedToUTC / LTZ) — project its UTC wall clock
            df = df.withColumn(
                "ts", F.convert_timezone(None, F.lit("UTC"), F.col("ts"))
            )
        # timestamp_ntz (MICROS, naive — the round-6 testdata): already the
        # session-tz-independent wall clock DuckDB sees; leave as-is.
        df.schema  # force analysis while the read flag is in scope
    return df


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a JUST-SCANNED input across the session's default
    parallelism when the scan yielded fewer splits than cores (guide
    §2.5 input skew): the fixture tables are single parquet files under
    ``maxPartitionBytes``, so every regex / shingle / bigram-explode
    chain otherwise runs its entire per-row compute on ONE task at any
    core count. Shuffling the (tiny) scan output buys a fully parallel
    compute stage.

    Determinism: ``keys`` are REQUIRED and the repartition is
    hash-by-key, so each key's rows stay whole in one task in input
    order — per-key aggregation fold order (and therefore every float
    rounding) is bit-identical to the unspread plan, and there is no
    round-robin retry hazard (SPARK-38388) and no sort-before-
    repartition cost. At 100 TB a scan already has ≥ parallelism splits
    and this is a no-op."""
    assert keys, "spread() requires explicit partition keys"
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def ntz(col: Column) -> Column:
    """Instant (TIMESTAMP) → its UTC wall clock as TIMESTAMP_NTZ,
    independent of the session time zone: the implicit LTZ→NTZ cast (in the
    session zone) cancels against convert_timezone's default source zone
    (also the session zone), leaving a pure instant→UTC mapping."""
    return F.convert_timezone(None, F.lit("UTC"), col)


def r4(col: Column) -> Column:
    """Round a double aggregate for hash-stable cross-engine comparison."""
    return F.round(col, ROUND_DECIMALS)


def dstr(col: Column) -> Column:
    """Project a timestamp as 'yyyy-MM-dd' string (tz/encoding-proof)."""
    return F.date_format(col, "yyyy-MM-dd")


def tstr(col: Column) -> Column:
    """Project a timestamp as 'yyyy-MM-dd HH:mm:ss' string."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


#: portable-HLL geometry shared by the sketch queries and the mergeable
#: incremental-MV measure (`operators/incremental.py::merge_agg_state`
#: hll_regs): m = 64 registers (p = 6 index bits) over the 32-bit
#: md5-prefix hash — identical constants to `queries/analytics.py`'s
#: sketch_hll_distinct_users, so the two surfaces share one oracle recipe.
HLL_M = 64
HLL_P = 6
HLL_RANK_BITS = 32 - HLL_P
HLL_ALPHA = 0.709


def hll_dense_registers(
    df: DataFrame, keys: list[str], col: str, n_col: str | None = None
) -> DataFrame:
    """Per-``keys`` DENSE portable-HLL register vector over ``col``:
    one ``array<int>`` of length :data:`HLL_M` per group, entry i = max
    leading-zero rank among the group's values hashing into register i
    (0 = empty register). The dense fixed-position representation is
    what makes the sketch a MERGEABLE PARTIAL: element-wise max of two
    vectors equals the vector over the union of their inputs (max is
    associative and commutative), so `merge_agg_state` can fold deltas
    into a persisted distinct-count view without ever seeing raw keys —
    and because the hash is the portable md5 prefix, a DuckDB oracle
    reproduces every register bit-for-bit. One map-side-combinable agg;
    state per group is 64 small ints regardless of corpus size.

    ``n_col`` (r19) additionally emits the group's row count under that
    name in the SAME aggregation — the ranked projection is one row per
    input row, so the count equals ``df.groupBy(keys).count()`` and the
    caller saves a second corpus scan plus the counts↔regs join."""
    h = (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h")
    )
    ranked = df.select(*keys, h).select(
        *keys,
        (F.col("h") % HLL_M).alias("reg"),
        F.shiftright("h", HLL_P).alias("w"),
    )
    rho = F.when(
        F.shiftright("w", HLL_RANK_BITS - 1).bitwiseAND(F.lit(1)) == 1, 1
    )
    for k in range(1, HLL_RANK_BITS):
        rho = rho.when(
            F.shiftright("w", HLL_RANK_BITS - 1 - k).bitwiseAND(F.lit(1))
            == 1,
            k + 1,
        )
    rho = rho.otherwise(HLL_RANK_BITS + 1)
    # array-of-aggregates: 64 tiny max-aggregates collapse into one dense
    # vector per group in a single combinable pass
    aggs = [
        F.array(
            *[
                F.coalesce(
                    F.max(F.when(F.col("reg") == i, F.col("rho"))), F.lit(0)
                ).cast("int")
                for i in range(HLL_M)
            ]
        ).alias(f"{col}_regs")
    ]
    if n_col is not None:
        aggs.append(F.count(F.lit(1)).alias(n_col))
    return (
        ranked.select(*keys, "reg", rho.alias("rho"))
        .groupBy(*keys)
        .agg(*aggs)
    )


def hll_estimate(regs: Column) -> Column:
    """Distinct-count estimate from a dense register vector — the
    standard alpha_m * m^2 / sum(2^-M_j) harmonic mean with the
    linear-counting small-range correction (same formula and rounding
    territory as sketch_hll_distinct_users' fold, expressed as array
    folds over the dense vector)."""
    v_empty = F.size(F.filter(regs, lambda r: r == 0))
    z = (
        F.aggregate(
            F.filter(regs, lambda r: r > 0),
            F.lit(0.0),
            lambda acc, r: acc + F.pow(F.lit(2.0), -r),
        )
        + v_empty
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / z
    return F.when(
        (e_raw <= 2.5 * HLL_M) & (v_empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_empty),
    ).otherwise(e_raw)
