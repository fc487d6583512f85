"""M2 — sliding token windows (``emotion_analysis/model.py:89-105``).

Reference semantics: over a token sequence of length ``n``, emit windows of
``window_size`` tokens every ``stride`` tokens while ``start < n`` — i.e.
``ceil(n / stride)`` windows; the last windows may be short. Bookkeeping per
window (``model.py:174-177``): ``window_id`` = ordinal, ``window_start`` =
``window_id * stride``, ``window_end = min(start + window_size, n)``.

Spark-first: this is *array* windowing, not SQL ``Window`` — generate the
start offsets with ``sequence`` and ``posexplode`` them, then ``slice`` the
token array. Pure JVM expressions: at 100 TB this is a map-only stage whose
output is ~``n/stride`` rows per document, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cinegraph_spark.schemas import STRIDE, WINDOW_SIZE


def tokenize_whitespace(text: Column) -> Column:
    """Whitespace tokenization (the deterministic test-path tokenizer; the
    HF tokenizer rides the pandas-UDF scorer instead, SURVEY §2.4 M1)."""
    # explicit whitespace class, NOT \s: Java's \s includes vertical tab
    # (\x0B) while DuckDB/RE2's does not, so every md5/hash-compared
    # oracle downstream of tokenization would diverge on such input
    # (r16 ADVICE; same class in every oracle CTE that re-tokenizes)
    trimmed = F.regexp_replace(text, r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "")
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"[ \t\n\r\f]+")
    )


def windowize(
    df: DataFrame,
    key_col: str,
    window_size: int = WINDOW_SIZE,
    stride: int = STRIDE,
    keep_tokens: bool = True,
) -> DataFrame:
    """Explode each row's ``tokens`` array into sliding windows.

    Output columns: ``key_col, window_id, window_start, window_end`` and
    (optionally) ``window_tokens``. Empty token arrays produce no windows,
    matching the reference's ``while start < n`` loop.
    """
    n = F.size(F.col("tokens"))
    # ceil(n/stride) start offsets; empty token array -> no windows (the
    # reference's `while start < n` loop body never runs).
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    exploded = df.select(
        F.col(key_col),
        F.col("tokens"),
        n.alias("_n"),
        F.posexplode(starts).alias("window_id", "window_start"),
    )
    out = exploded.select(
        F.col(key_col),
        F.col("window_id").cast("int").alias("window_id"),
        F.col("window_start").cast("int").alias("window_start"),
        F.least(F.col("window_start") + window_size, F.col("_n"))
        .cast("int")
        .alias("window_end"),
        *(
            [
                F.slice(
                    F.col("tokens"), F.col("window_start") + 1, window_size
                ).alias("window_tokens")
            ]
            if keep_tokens
            else []
        ),
    )
    return out
