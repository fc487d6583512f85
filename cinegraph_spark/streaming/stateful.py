"""Custom stateful streaming operators — ``applyInPandasWithState``.

The built-in streaming operators (windowed aggs, ``session_window``,
``dropDuplicates``) cover SURVEY §2.10's declared surface; this module is
the escape hatch for semantics they can't express: arbitrary per-key state
maintained across micro-batches. The reference analog is the serving-side
"running" structures (per-movie window sequences, `model.py:171-179`)
generalized to unbounded streams.

Scale notes: state lives in the state store keyed by the group key — one
entry per key, size bounded by the operator's own cap (top-k keeps k
values, the retention tracker the weeks it has seen). Shuffle is one hash
exchange on the key, identical to a streaming aggregation; RocksDB state
store is the knob when key cardinality is large.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def stateful_topk_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user running top-k ``value``s, re-emitted each micro-batch.

    A streaming top-k is NOT expressible with built-in streaming aggs
    (``collect_list``+slice isn't allowed on streams, and a windowed
    ``row_number`` needs a finished window); per-key state holds exactly the
    current k largest values, merged with each batch's arrivals.

    After draining all input, each user's rows equal the batch top-k — which
    is how ``tests/test_streaming.py`` verifies it against the DataFrame
    twin.
    """

    def merge_topk(key, pdf_iter, state):
        vals: list[float] = list(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            vals.extend(float(v) for v in pdf["value"].dropna())
            vals = sorted(vals, reverse=True)[:k]
        state.update((vals,))
        # Explicit dtypes: a group whose every value was null yields empty
        # lists -> object-dtype columns; relying on Arrow's lenient
        # empty-column cast against the long/int/double output schema is
        # version-fragile (same hazard note as stateful_retention_offsets).
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(vals),
                "rnk": list(range(1, len(vals) + 1)),
                "value": vals,
            }
        ).astype({"user_id": "int64", "rnk": "int32", "value": "float64"})

    return events.groupBy("user_id").applyInPandasWithState(
        merge_topk,
        outputStructType="user_id long, rnk int, value double",
        stateStructType="vals array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_topk_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user running top-k via **transformWithStateInPandas** — Spark 4's
    successor to ``applyInPandasWithState`` (same semantics as
    :func:`stateful_topk_per_user`, new API surface: a StatefulProcessor
    class with typed state handles instead of a GroupState tuple).

    State is a single ValueState holding the current top-k array; each
    micro-batch merges arrivals and re-emits the group's top-k (update-ish
    output). Scale shape identical to the old API: one hash exchange on the
    key, state-store entry bounded at k doubles per user; the new runtime
    adds typed column-family state and timers (unused here).

    **Env-gated in this container**: the transformWithState runtime needs
    ``google.protobuf`` (its state-server protocol), which is not
    installed here — the operator is complete and the test suite runs it
    when protobuf is available (tests/test_streaming.py skips otherwise).
    The registered driver queries use the applyInPandasWithState twin."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("vals", "vals array<double>")

        def handleInputRows(self, key, rows, timerValues):
            vals = list(self._state.get()[0]) if self._state.exists() else []
            for pdf in rows:
                vals.extend(float(v) for v in pdf["value"].dropna())
                vals = sorted(vals, reverse=True)[:k]
            self._state.update((vals,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(vals),
                    "rnk": list(range(1, len(vals) + 1)),
                    "value": vals,
                }
            ).astype(
                {"user_id": "int64", "rnk": "int32", "value": "float64"}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        TopKProcessor(),
        outputStructType="user_id long, rnk int, value double",
        outputMode="Update",
        timeMode="None",
    )


def _merge_retention(
    first_us: int | None, seen: set[int], new_weeks: set[int]
) -> tuple[int, list[int], list[int]]:
    """Pure state-merge for the retention tracker: fold a batch's activity
    weeks into (first-seen, seen-set) state. Returns ``(first_us,
    sorted_seen, emit)`` where ``emit`` is the full seen set on a cohort
    re-base (an earlier week arrived after later ones — all prior
    emissions carried the wrong cohort and must be superseded) and only
    the newly-seen weeks otherwise. Kept module-level so the cross-batch
    disorder path is unit-testable without a streaming drain
    (tests/test_streaming.py::test_retention_merge_rebase)."""
    prev_first = first_us
    first_us = (
        min(new_weeks) if prev_first is None else min(prev_first, min(new_weeks))
    )
    rebase = prev_first is not None and first_us < prev_first
    fresh = new_weeks - seen
    seen = seen | new_weeks
    emit = sorted(seen) if rebase else sorted(fresh)
    return first_us, sorted(seen), emit


def stateful_retention_offsets(events: DataFrame) -> DataFrame:
    """Streaming cohort-retention tracker: per-user state holds the
    first-seen week and the set of activity weeks; each micro-batch emits
    the user's NEWLY-seen ``(cohort_week, week)`` pairs, so the drained
    append union is exactly the distinct activity set the batch retention
    query aggregates (``queries/analytics.py::events_retention_cohorts``).

    Correct under arbitrary micro-batch splits: if a later batch delivers
    an EARLIER event (cross-batch disorder), the cohort re-bases and the
    operator re-emits the user's full week set under the new cohort —
    post-processing keeps each user's minimal-cohort rows, so stale
    emissions from before the re-base are dropped, never double-counted.

    Week truncation runs JVM-side BEFORE the stateful operator, as pure
    instant arithmetic: Monday-aligned integer floor over
    ``unix_micros(ts)`` (anchor: Monday 1969-12-29 00:00 UTC). NOT
    ``date_trunc('week', ...)`` — that expression bakes the session
    timezone in at ANALYSIS time, and this frame is built before the
    drain harness scopes the session to UTC, so a hostile caller zone
    would leak into the cohort weeks (caught by the round-7 hostile-tz
    sweep). The integer form is timezone-independent at analysis AND
    runtime, and matches DuckDB's ``date_trunc('week')`` on the naive
    (UTC-wall) oracle timestamps. The Python worker then receives two
    long columns instead of full event rows and the state function is
    pure integer set arithmetic — measured at sf0.1 this halves the
    drain cost vs shipping raw events into pandas. State per user is the
    first week (long) plus one long per distinct activity week — bounded
    by the corpus time span, far smaller than the per-user stream."""

    _WEEK_US = 7 * 86400 * 1_000_000
    _MON0_US = -3 * 86400 * 1_000_000  # Monday 1969-12-29 00:00:00 UTC
    weeks = events.select(
        "user_id",
        F.expr(
            f"((unix_micros(ts) - {_MON0_US}) DIV {_WEEK_US}) "
            f"* {_WEEK_US} + {_MON0_US}"
        ).alias("week_us"),
    )

    def track(key, pdf_iter, state):
        if state.exists:
            first_us, seen_list = state.get
            seen = set(seen_list)
        else:
            first_us, seen = None, set()
        new_weeks: set[int] = set()
        for pdf in pdf_iter:
            new_weeks.update(int(x) for x in pdf["week_us"].dropna())
        if not new_weeks:
            yield pd.DataFrame(
                {"user_id": [], "cohort_us": [], "week_us": []}
            ).astype({"user_id": "int64", "cohort_us": "int64", "week_us": "int64"})
            return
        first_us, seen_sorted, emit = _merge_retention(
            first_us, seen, new_weeks
        )
        state.update((first_us, seen_sorted))
        # Explicit int64 cast: when emit == [] (all weeks already seen, no
        # re-base) the frame is built from empty Python lists and would get
        # object dtype — relying on Arrow's lenient empty-column cast against
        # the 'long' output schema is version-fragile.
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(emit),
                "cohort_us": [first_us] * len(emit),
                "week_us": emit,
            }
        ).astype(
            {"user_id": "int64", "cohort_us": "int64", "week_us": "int64"}
        )

    return weeks.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, cohort_us long, week_us long",
        stateStructType="first_us long, seen array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

