"""Banded range joins — the scale path for interval/band theta joins.

Spark executes a non-equi join (``a.x BETWEEN b.y - w AND b.y + w``) as a
broadcast-nested-loop: every streamed partition scans the ENTIRE
broadcast side, O(n*m) comparisons with parallelism limited to the
streamed side's input splits — at sf1 the 200k-row part table arrives as
ONE ~6 MB split, so the whole n^2 grind lands on a single task (r18 sf1
sweep: the naive plan ran 20+ minutes without finishing; the banded plan
below answers in seconds). The standard fix (DuckDB's IEJoin and every
lakehouse range-join hint do the equivalent) is to discretize the join
key into buckets of the band width and turn the theta join into an
EQUI-join on the bucket id:

- a row at value v lands in bucket ``floor(v / w)``;
- a band partner within ±w can only lie in the SAME or an ADJACENT
  bucket, so one side is replicated to its three candidate buckets
  (explode of a 3-element array — bounded, not data-dependent fan-out)
  and the join becomes ``p.bucket == q.candidate_bucket`` plus the exact
  band predicate as a post-filter;
- each qualifying pair meets EXACTLY once (p keeps its single home
  bucket; q's three candidate buckets are distinct), so no dedup pass.

Catalyst then plans a plain shuffled hash/sort-merge join keyed on the
bucket id: parallelism = bucket spread, comparisons = band-local pairs
only, and AQE's skew-join split applies if one bucket is hot (a zipf key
would otherwise concentrate; salting composes on top the same way it
does for any equi-join). Reference scope: the CineGraph reference has no
joins at all (SURVEY §2.10) — this operator exists for the engine's own
100 TB contract, where a BNL range join is wrong even when it is
*correct*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    band: float,
) -> DataFrame:
    """Join ``left`` and ``right`` on ``abs(left[left_on] - right[right_on])
    <= band`` via band-width bucketing (module docstring). Rows with a
    NULL band key never match —
    same as the theta form. Column sets must be disjoint; the result
    carries both sides' columns."""
    if band <= 0:
        raise ValueError(f"banded_range_join: band must be > 0, got {band}")
    bucket_l = F.floor(F.col(left_on) / F.lit(band))
    bucket_r = F.floor(F.col(right_on) / F.lit(band))
    # repartition the probe side BY BUCKET with an EXPLICIT partition
    # count: band-pair generation is the dominant cost, and without the
    # exchange the parallelism is whatever the upstream SPLIT COUNT
    # happens to be — Catalyst gladly broadcasts the small build side and
    # then runs the whole pair grind inside the probe side's single
    # 6 MB-file task (the exact pathology the naive BNL plan had). The
    # count must be explicit because AQE coalesces a column-only
    # repartition by MAP-OUTPUT bytes — a few MB of keys — and cannot
    # see the join-output blow-up it would serialize; a user-specified
    # number is honored. Sized to the session's shuffle parallelism.
    n_parts = int(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    lb = left.withColumn("_band_bucket", bucket_l).repartition(
        n_parts, F.col("_band_bucket")
    )
    rb = right.withColumn(
        "_band_bucket",
        F.explode(
            F.array(bucket_r - 1, bucket_r, bucket_r + 1)
        ),
    )
    # the exact predicate uses the BETWEEN shape (right >= left - band AND
    # right <= left + band) rather than abs(diff) <= band: it is the form
    # every SQL oracle writes, and the two disagree on ulp-edge doubles
    # (a - band and a + band round once; abs(a - b) rounds differently).
    # The bucket prefilter is provably complete for the REAL-arithmetic
    # band; a value within one ulp of the band edge that the fp BETWEEN
    # admits could in principle land two buckets away, but that needs the
    # pair to sit within ~1e-13 of the edge — impossible for the
    # cent-granular fixture prices and negligible generally (widening to
    # five candidate buckets would close it at +66% shuffle).
    cond = (F.col(right_on) >= F.col(left_on) - F.lit(band)) & (
        F.col(right_on) <= F.col(left_on) + F.lit(band)
    )
    return (
        lb.join(rb, "_band_bucket")
        .filter(cond)
        .drop("_band_bucket")
    )
