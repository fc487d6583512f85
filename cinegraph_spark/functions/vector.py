"""Vector math over ``array<float/double>`` columns — pure SQL expressions.

Re-expresses the reference's vector ops (SURVEY §2.8):

- V2 euclidean distance ``np.linalg.norm(x - c)`` (``graph_creator.py:351``)
- cosine similarity — the declared pgvector HNSW capability
  (``db/models/embedding.py:15-17``) re-expressed exactly; ANN variants live
  in ``operators/similarity.py``.

All functions use ``zip_with``/``aggregate`` higher-order functions: they run
inside the JVM on the array values with no Python crossing, so a 100 TB scan
computing cosine against a broadcast query vector is a map-only codegen
stage.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_lit(values: list, ddl: str) -> Column:
    """A nested list of doubles as ONE JVM literal of type ``ddl`` (e.g.
    ``array<array<double>>``): the list travels as a JSON string and
    ``from_json`` parses it, which the optimizer folds to a constant. On
    pyspark 4.1 ``F.lit(list)`` is ``array(*[lit(x) ...])``, one py4j
    round trip per element (a 16×256×4 PQ codebook took ~10 s to build
    that way); this costs a handful of calls at any size. JSON carries
    each double as its shortest round-trip repr, so the values are
    bit-identical."""
    return F.from_json(F.lit(json.dumps(values)), ddl)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm of a numeric array."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance ``sum((a_i-b_i)^2)``, summed left to
    right from 0.0."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def euclidean(a: Column, b: Column) -> Column:
    """V2 — ``sqrt(sum((a_i-b_i)^2))`` (``graph_creator.py:351``)."""
    return F.sqrt(sqdist(a, b))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors — a zero-norm side
    yields NULL (ranked last under ``desc`` ordering) instead of an ANSI
    DIVIDE_BY_ZERO crash. Spark 4 defaults ``spark.sql.ansi.enabled=true``,
    where plain ``0.0/0.0`` RAISES rather than returning NULL, so the
    denominator must be nulled explicitly: one all-zero embedding (the
    typical encoder output for empty text) would otherwise kill every ANN
    top-k query it appears in."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def scale(a: Column, s: Column | float) -> Column:
    """Multiply every element by a scalar."""
    s_col = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(a, lambda x: x * s_col)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x + y)


def sub(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x - y)
