"""A1-A5 — per-movie feature aggregation (``clustering/graph_creator.py:60-115``).

Turns the per-window emotion frame into the 24-dim clustering features:
per-act means of each emotion (acts = ``np.array_split`` thirds of the
window sequence, A1/A2), per-movie sample std (ddof=1, A3), then global
standard scaling (population std, ddof=0 — note the deliberate ddof
asymmetry, SURVEY §7 risk register) and the global centroid (A5).

``np.array_split(seq, k)`` parity (A1): with ``n = len(seq)``, the first
``n % k`` chunks have ``n//k + 1`` elements. For window ordinal ``w``
(0-based) that inverts to::

    q, r = n // k, n % k
    act(w) = w // (q+1)                 if w < r*(q+1)
           = r + (w - r*(q+1)) // q     otherwise

All closed-form column arithmetic — the whole feature build is two hash
aggregations (movie×act, then movie) plus one tiny broadcast of global
moments; no Python, no driver loop, scales linearly in windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cinegraph_spark.schemas import EMOTIONS, NUM_ACTS


def act_assign(window_id: Column, n_windows: Column) -> Column:
    """0-based act index (of ``NUM_ACTS``) for a window, matching
    np.array_split chunking."""
    q = F.floor(n_windows / NUM_ACTS)
    r = n_windows % NUM_ACTS
    cut = r * (q + 1)
    return F.when(window_id < cut, F.floor(window_id / (q + 1))).otherwise(
        r + F.floor((window_id - cut) / q)
    )


def act_assign_sql(w: str, n: str) -> str:
    """DuckDB expression mirroring :func:`act_assign` (oracle parity)."""
    q = f"({n} // {NUM_ACTS})"
    r = f"({n} % {NUM_ACTS})"
    cut = f"({r} * ({q} + 1))"
    return (
        f"(CASE WHEN {w} < {cut} THEN {w} // ({q} + 1) "
        f"ELSE {r} + ({w} - {cut}) // {q} END)"
    )


def movie_features(
    windows: DataFrame,
    key_col: str = "movie_id",
    round_to: int | None = None,
) -> DataFrame:
    """Per-window emotion frame → 24-dim feature row per movie.

    Drops movies with fewer than ``NUM_ACTS`` windows (P2,
    ``graph_creator.py:88-89``). Output columns: ``key_col``,
    ``{emotion}_act{1..3}`` (act means), ``{emotion}_std`` (sample std).
    """
    counts = windows.groupBy(key_col).agg(
        F.count("*").alias("_n_windows"),
        *[F.stddev_samp(e).alias(f"{e}_std") for e in EMOTIONS],
    )
    eligible = counts.filter(F.col("_n_windows") >= NUM_ACTS)

    with_act = windows.join(
        eligible.select(key_col, "_n_windows"), key_col
    ).withColumn("_act", act_assign(F.col("window_id"), F.col("_n_windows")))

    per_act = with_act.groupBy(key_col, "_act").agg(
        *[F.avg(e).alias(e) for e in EMOTIONS]
    )
    # pivot acts into {emotion}_act{i} columns (graph_creator.py:63-65 naming)
    pivoted = (
        per_act.groupBy(key_col)
        .pivot("_act", list(range(NUM_ACTS)))
        .agg(*[F.first(e).alias(e) for e in EMOTIONS])
    )
    # pivot names columns "<act>_<emotion>"; rename to "{emotion}_act{act+1}"
    renamed = pivoted
    for a in range(NUM_ACTS):
        for e in EMOTIONS:
            renamed = renamed.withColumnRenamed(f"{a}_{e}", f"{e}_act{a + 1}")

    out = renamed.join(eligible.drop("_n_windows"), key_col)
    cols = [key_col] + [
        f"{e}_act{a}" for a in range(1, NUM_ACTS + 1) for e in EMOTIONS
    ] + [f"{e}_std" for e in EMOTIONS]
    result = out.select(*cols)
    if round_to is not None:
        result = result.select(
            key_col,
            *[F.round(c, round_to).alias(c) for c in cols if c != key_col],
        )
    return result


def standard_scale(df: DataFrame, key_col: str, feature_cols: list[str]) -> DataFrame:
    """A4 — global (x - mean) / stddev_pop per feature column
    (sklearn StandardScaler semantics, ``graph_creator.py:114``).

    One tiny global aggregate (1 row × 2k values) cross-joined back —
    Spark broadcasts it; the scan stays map-only."""
    stats = df.agg(
        *[F.avg(c).alias(f"_mu_{c}") for c in feature_cols],
        *[F.stddev_pop(c).alias(f"_sd_{c}") for c in feature_cols],
    )
    scaled = df.crossJoin(F.broadcast(stats)).select(
        key_col,
        *[
            (
                (F.col(c) - F.col(f"_mu_{c}"))
                / F.when(F.col(f"_sd_{c}") != 0, F.col(f"_sd_{c}")).otherwise(
                    F.lit(1.0)
                )
            ).alias(c)
            for c in feature_cols
        ],
    )
    return scaled


def centroid(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """A5/A6 — mean vector over (a group of) feature rows."""
    return df.agg(*[F.avg(c).alias(c) for c in feature_cols])
