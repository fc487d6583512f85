"""Stream-stream joins with watermark-bounded state.

The missing third leg of the streaming surface (windowed aggs in
``windows.py``, custom state in ``stateful.py``): joining two live streams.
Spark buffers both sides in the state store; the join's time-range
predicate plus both watermarks bound how long a row can wait for a match,
which is what keeps state finite on an unbounded stream — without the range
condition the state grows forever and the query is rejected in append mode.

The batch twin (same predicate on static DataFrames) is what
``tests/test_streaming.py`` compares against; the reference analog is the
as-of purchase↔click attribution (`queries/events.py::
events_asof_purchase_click`) upgraded from batch to continuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Spark's spellings of the three supported join forms (case- and
#: underscore-insensitive), normalized before any form-dependent choice.
_HOW_ALIASES = {
    "inner": "inner",
    "left": "left_outer",
    "leftouter": "left_outer",
    "full": "full_outer",
    "outer": "full_outer",
    "fullouter": "full_outer",
}


#: How far before a purchase a click still counts toward it.
ATTRIBUTION_WINDOW = "INTERVAL 30 MINUTES"


def purchases_with_recent_clicks(
    events: DataFrame,
    watermark: str = "2 hours",
    how: str = "inner",
    bucketed: bool | None = None,
) -> DataFrame:
    """Attribution join: each purchase matched to the same user's clicks in
    the preceding ``ATTRIBUTION_WINDOW``.

    Both sides derive from one source here (self-split), but the plan is a
    genuine stream-stream inner join: state holds clicks until
    ``purchase_ts - ATTRIBUTION_WINDOW`` passes their watermark, then
    evicts. Output: (user_id, purchase_id, purchase_ts, click_id, click_ts).

    ``how="left_outer"`` is the unmatched-detection form: a purchase with
    no click in its window is emitted with NULL click columns — but only
    once the watermark passes its eviction time, because until then a
    matching click could still arrive. That timing is the load-bearing
    semantic difference from a batch left join: null rows are emitted by
    STATE EVICTION in a later micro-batch, not by the batch that saw the
    purchase, and state still buffered when the stream stops is never
    emitted at all. Callers who need every verdict finalized must advance
    the watermark past the data before the drain ends (the registered
    query `stream_join_left_outer_attribution` stages sentinel batches
    for exactly that; its oracle is then the plain batch LEFT JOIN).

    ``how="full_outer"`` completes the surface: unmatched rows on BOTH
    sides finalize by eviction — a never-attributed click (no purchase
    followed within the window) surfaces with NULL purchase columns once
    the watermark passes ``click_ts + ATTRIBUTION_WINDOW`` (the last
    instant a matching purchase could still arrive), under the same
    eviction timing as the purchase side. The output ``user_id`` is
    coalesced across the two sides, since either may be the NULL one.

    Per-key skew (``bucketed``, r19): a streaming symmetric-hash join
    scans EVERY buffered match-side row of a key per input row of that
    key, serially inside the key's one state partition — measured 842 s
    (inner) / 718 s (left-outer) at sf1, 80% of it one Zipf-hot user.
    With ``bucketed`` the inner and left-outer forms join on
    ``(user, time-bucket)`` instead of the bare user: bucket width = the
    attribution window, and the window ``[p.ts − W, p.ts]`` spans at most
    two buckets, so one side is duplicated into both candidate buckets
    (purchases for ``inner`` — smaller state; clicks for ``left_outer`` —
    an exploded purchase would emit its eviction NULL twice, an exploded
    unmatched click emits nothing). Each matching (purchase, click) pair
    agrees on exactly ONE bucket value, so the joined row multiset is
    IDENTICAL to the bare-key join (pinned in tests/test_streaming.py and
    oracle-exact at sf0.001/0.01) — a state-layout change, not a
    semantics knob — while per-probe state scans shrink from all of a
    user's history to its ±one bucket: sf1 measured 842 → 4.3 s inner,
    718 → 5.3 s left-outer. The bucket derives deterministically from the
    row's event time (replay/retry-safe, guide §2.5) by Spark's ``div``
    of epoch-µs, which truncates toward zero: bucket 0 spans (−W, W), 2W
    wide, and every other bucket is W wide. The buckets stay monotone in
    time with boundaries at least W apart, so a W-long window crosses at
    most one boundary whatever the sign of the epoch.
    ``full_outer`` never buckets: duplicating EITHER side would duplicate
    that side's eviction NULLs.

    ``bucketed=None`` (default) reads ``$CINEGRAPH_ATTRIBUTION_BUCKET``
    (unset = off): the duplicated side doubles state-store rows and
    commits, which costs ~1.5× on a test-sized drain where per-batch
    fixed cost dominates and the per-key scan does not — a deployment
    whose key×window state exceeds per-task comfort turns it on; it is a
    scale knob with identical output either way.
    """
    import os

    how = _HOW_ALIASES.get(how.lower().replace("_", ""), how)
    full = how == "full_outer"
    if bucketed is None:
        bucketed = os.environ.get(
            "CINEGRAPH_ATTRIBUTION_BUCKET", ""
        ).lower() in ("1", "true", "yes", "on")
    left = bucketed and how == "left_outer"
    inner = bucketed and how == "inner"
    # bucket width in µs == the attribution window, as a constant-folded
    # catalyst expression (no interval-string parsing on the driver)
    w_us = f"unix_micros(timestamp_micros(0) + {ATTRIBUTION_WINDOW})"

    def _ts_us(col: str, df: DataFrame) -> str:
        # µs since epoch as a LONG, for both event-time types the callers
        # feed in (streams carry TIMESTAMP; the batch twins read NTZ):
        # timestampdiff from the matching epoch literal is tz-free in
        # either case — never a session-zone conversion, which would
        # shift rows by DST-dependent offsets and break the ≤1-boundary
        # bucket-span property
        ntz = df.schema[col].dataType.typeName() == "timestamp_ntz"
        epoch = (
            "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
            if ntz
            else "timestamp_micros(0)"
        )
        return f"timestampdiff(MICROSECOND, {epoch}, {col})"
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(ATTRIBUTION_WINDOW)
        )
    )
    if inner:
        # purchases replicate into their window's two candidate buckets;
        # a click's own bucket equals exactly one replica's
        pb = F.expr(f"{_ts_us('purchase_ts', purchases)} div ({w_us})")
        purchases = purchases.withColumn(
            "_pb", F.explode(F.array(pb, pb - F.lit(1)))
        )
        clicks = clicks.withColumn(
            "_cb", F.expr(f"{_ts_us('click_ts', clicks)} div ({w_us})")
        )
        cond = cond & (F.col("_pb") == F.col("_cb"))
    elif left:
        # clicks replicate into the two bucket values whose purchases they
        # can serve; a purchase's own bucket equals exactly one replica's
        cb = F.expr(f"{_ts_us('click_ts', clicks)} div ({w_us})")
        clicks = clicks.withColumn(
            "_cb", F.explode(F.array(cb, cb + F.lit(1)))
        )
        purchases = purchases.withColumn(
            "_pb", F.expr(f"{_ts_us('purchase_ts', purchases)} div ({w_us})")
        )
        cond = cond & (F.col("_pb") == F.col("_cb"))
    return purchases.join(
        clicks,
        cond,
        how,
    ).select(
        (
            F.coalesce("user_id", "click_user") if full else F.col("user_id")
        ).alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
    )


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Stream-static enrichment of the purchase events — the third join
    shape of the streaming surface (windowed aggs join batch twins;
    stream-stream above; this one joins a live stream against a
    slowly-changing dimension).

    The static side is broadcast: no state store is involved at all (the
    dimension is re-resolved per micro-batch, which is also what gives
    'slowly-changing' semantics — a dim update is picked up by the next
    batch). At 100 TB/day the stream side never shuffles for this join;
    dimension size is the only constraint, exactly as in the batch star
    schema. Returns the enriched streaming DataFrame; callers pick sink.
    """
    return stream.filter(F.col("event_type") == "purchase").join(
        F.broadcast(dim), on, "inner"
    )
