"""Skew-mitigation operators: salted two-phase aggregation and salted
replicated joins.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
`session.ENGINE_CONFS`) handles sort-merge skew automatically; these
operators cover the cases AQE can't: hot-key *aggregation* skew (a single
reducer owning one giant key) and broadcast-ineligible skewed joins. At
100 TB a handful of hot keys (the empty-string document, the null user, a
viral event type) will stall a stage without one of these shapes.

Both are algebraic rewrites — results are bit-identical to the unsalted
plan, which is how `tests/test_skew.py` and the registered oracle query
verify them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase sum/count per ``keys`` → (keys..., total, n_rows).

    Phase 1 aggregates by (keys, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the ≤ salt_buckets partials
    per key. The salt is a deterministic hash of the whole row set's
    high-cardinality remainder (xxhash64 over all columns), so re-runs
    produce identical partials — no ``rand()`` nondeterminism under task
    retry, which matters for exactly-once sinks.

    Sum and count are algebraic (partials combine losslessly); avg derives
    as total/n_rows. Non-algebraic aggs (median, exact distinct) need
    different shapes (sketches), not salting.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.sum(value).alias("_ptotal"), F.count("*").alias("_pn"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("_ptotal").alias("total"), F.sum("_pn").alias("n_rows")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Equi-join where ``left`` is large and skewed on ``on`` and ``right``
    is too big to broadcast: salt the left side, replicate the right side
    ``salt_buckets``× so every (key, salt) pair finds its match.

    The hot key's rows land on ``salt_buckets`` different reducers instead
    of one. Cost: right side is shuffled ``salt_buckets``× — use the
    smallest bucket count that flattens the skew (AQE's post-shuffle stats
    tell you). Supports inner/left joins (the replicated side must be the
    non-preserved side).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets))
    left_s = left.withColumn("_salt", salt)
    right_s = right.crossJoin(
        left.sparkSession.range(salt_buckets).select(
            F.col("id").cast("int").alias("_salt")
        )
    ).withColumn("_salt", F.col("_salt").cast(left_s.schema["_salt"].dataType))
    return left_s.join(right_s, on + ["_salt"], how).drop("_salt")
