"""As-of (point-in-time) join — the operator Spark lacks natively.

Semantics: for each left row, attach the most recent right row with the same
key and ``right.ts <= left.ts`` (ties broken by largest ``right`` id).

Implementation is the *union + running last* algorithm, not a join:
tag both sides, union them, and take ``last(right-row STRUCT) ignoring
nulls`` over a per-key window ordered by (ts, side, id) — the struct keeps
the matched id and its payload atomic (per-column lasts would let a NULL
payload on the winning row steal an older row's value). This is the
scalable form —
one shuffle on the key, no range-join explosion, no per-left-row scan of the
right side; skew in the key only affects the window sort, which AQE-split
partitions handle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    right_id: str,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """Attach the latest right row at-or-before each left row's timestamp.

    Returns the left columns plus ``asof_<right_id>`` and
    ``asof_<c>`` for each payload column (NULL when no right row precedes).
    """
    payload = right_payload or []
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),  # left sorts after right at equal ts
        F.col(left_id).alias("_lid"),
        F.lit(None).cast(right.schema[right_id].dataType).alias("_rid"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}") for c in payload],
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(left.schema[left_id].dataType).alias("_lid"),
        F.col(right_id).alias("_rid"),
        *[F.col(c).alias(f"_p_{c}") for c in payload],
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", F.coalesce("_rid", "_lid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the matched right row as ONE struct (NULL on left rows), not
    # as independent last(col, ignorenulls) per column: independent lasts
    # let a NULL payload on the winning right row steal the value of an
    # OLDER right row — the id and its payload then describe different
    # rows (r17 adversarial sweep, NULL click values)
    r_row = F.when(
        F.col("_side") == 0,
        F.struct(
            F.col("_rid").alias("rid"),
            *[F.col(f"_p_{c}").alias(f"p_{c}") for c in payload],
        ),
    )
    last_r = F.last(r_row, ignorenulls=True).over(w)
    enriched = unioned.select(
        "*",
        last_r["rid"].alias(f"asof_{right_id}"),
        *[last_r[f"p_{c}"].alias(f"asof_{c}") for c in payload],
    )
    out = enriched.filter(F.col("_side") == 1).select(
        F.col("_k").alias(key),
        F.col("_ts").alias(ts),
        F.col("_lid").alias(left_id),
        f"asof_{right_id}",
        *[f"asof_{c}" for c in payload],
    )
    return out


def asof_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    right_id: str,
    tolerance_us: int,
) -> DataFrame:
    """Nearest-match as-of join (pandas ``merge_asof(direction='nearest')``
    semantics with a tolerance): for each left row, the right row with the
    same key whose timestamp is closest, within ``tolerance_us``
    microseconds either side. Ties (equidistant before/after) prefer the
    backward match; equal-timestamp rights count as backward with distance 0.

    Same scalable shape as :func:`asof_join` — tag, union, ONE shuffle on
    the key, then two per-key RUNNING windows: ``last`` ignoring nulls
    looking back (latest right at-or-before; ties on ts take the largest
    right id), and the forward pick (earliest right strictly after; ties
    take the smallest id) as ``last`` ignoring nulls over the REVERSED total
    order — the same running (incremental, O(rows)) frame, costing one
    extra in-partition sort. The naive spelling, ``first`` over
    ``rowsBetween(currentRow, unboundedFollowing)``, makes Spark's
    ``UnboundedFollowingWindowFunctionFrame`` rescan from the current row
    to the partition end for EVERY row — O(rows²) per key, invisible on
    flat keys but ~2.5B frame scans for one Zipf-hot user at sf1 (139 s →
    seconds; r19). Row selection is identical: the reversed order is the
    exact mirror (asc NULLS FIRST ↔ desc NULLS LAST), so last-over-reversed
    = first-over-forward. No range join, no per-left scan of the right
    side; the candidate choice is a map-side comparison.

    Returns left (key, ts, left_id) plus ``nearest_<right_id>``,
    ``diff_us`` (absolute, microseconds), and ``direction``
    ('backward'/'forward'); left rows with no right row in tolerance are
    dropped.
    """
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),  # left sorts after right at equal ts
        F.col(left_id).alias("_lid"),
        F.lit(None).cast(right.schema[right_id].dataType).alias("_rid"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(left.schema[left_id].dataType).alias("_lid"),
        F.col(right_id).alias("_rid"),
    )
    unioned = l_tag.unionByName(r_tag)
    order = [F.col("_ts"), F.col("_side"), F.coalesce("_rid", "_lid")]
    back = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward frame [currentRow, unboundedFollowing] is evaluated by a
    # full rescan-to-partition-end PER ROW (O(rows²) per key) — mirror it
    # as a running frame over the reversed total order instead; asc NULLS
    # FIRST reverses to desc NULLS LAST, so the frames hold the same row
    # sets and last-ignoring-nulls picks the same (order-minimal) right row
    fwd = (
        Window.partitionBy("_k")
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rts = F.when(F.col("_side") == 0, F.col("_ts"))
    enriched = unioned.select(
        "*",
        F.last("_rid", ignorenulls=True).over(back).alias("_bid"),
        F.last(rts, ignorenulls=True).over(back).alias("_bts"),
        F.last("_rid", ignorenulls=True).over(fwd).alias("_fid"),
        F.last(rts, ignorenulls=True).over(fwd).alias("_fts"),
    )
    bdiff = F.expr("timestampdiff(MICROSECOND, _bts, _ts)")
    fdiff = F.expr("timestampdiff(MICROSECOND, _ts, _fts)")
    use_back = F.col("_bid").isNotNull() & (
        F.col("_fid").isNull() | (bdiff <= fdiff)
    )
    chosen = (
        enriched.filter(F.col("_side") == 1)
        .select(
            F.col("_k").alias(key),
            F.col("_ts").alias(ts),
            F.col("_lid").alias(left_id),
            F.when(use_back, F.col("_bid")).otherwise(F.col("_fid")).alias(
                f"nearest_{right_id}"
            ),
            F.when(use_back, bdiff).otherwise(fdiff).alias("diff_us"),
            F.when(use_back, F.lit("backward"))
            .otherwise(F.lit("forward"))
            .alias("direction"),
        )
    )
    return chosen.filter(
        F.col(f"nearest_{right_id}").isNotNull()
        & (F.col("diff_us") <= F.lit(tolerance_us))
    )
