"""S1 paginated-listing Python Data Source (`sources/listing.py`):
partition planning (one split per page), determinism, and option handling.
The value-level check rides the oracle-parity suite via
`src_paginated_listing_decades`.
"""

from __future__ import annotations

from cinegraph_spark.sources.listing import read_listing


def test_one_partition_per_page(spark):
    df = read_listing(spark, pages=7, per_page=5)
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 35


def test_rows_deterministic_and_page_local(spark):
    df = read_listing(spark, pages=3, per_page=4)
    rows = {(r["page"], r["rank"]): r["raw_title"] for r in df.collect()}
    assert len(rows) == 12
    # item 3 (page 0, rank 3) is the 7k+3 missing-year case
    assert rows[(0, 3)] == "Untitled Project 3"
    # item 5 = page 1, rank 1 -> year 1900 + (5*37) % 126 = 1900 + 59
    assert rows[(1, 1)] == "Movie 5 (1959)"
    # re-read is identical (no state between reads)
    again = {(r["page"], r["rank"]): r["raw_title"] for r in df.collect()}
    assert again == rows


def test_stream_reader_offset_contract():
    """The streaming listing's offset is the next page: read() advances by
    pages_per_batch, sticks at the end, and readBetweenOffsets replays a
    committed range identically (the exactly-once requirement)."""
    from cinegraph_spark.sources.listing import ListingStreamReader

    r = ListingStreamReader(
        {"pages": "5", "per_page": "4", "pages_per_batch": "2"}
    )
    assert r.initialOffset() == {"page": 0}
    rows1, o1 = r.read({"page": 0})
    assert o1 == {"page": 2} and len(rows1) == 8
    rows2, o2 = r.read(o1)
    assert o2 == {"page": 4} and len(rows2) == 8
    rows3, o3 = r.read(o2)
    assert o3 == {"page": 5} and len(rows3) == 4
    # exhausted: empty batch, offset does not advance. The no-advance
    # result must be an ITERATOR (the engine probes it with next();
    # a plain list raises TypeError in add_result_to_cache)
    rows4, o4 = r.read(o3)
    assert list(rows4) == [] and o4 == {"page": 5}
    rows5, _ = r.read(o3)
    try:
        next(rows5)
        raise AssertionError("exhausted read() should yield nothing")
    except StopIteration:
        pass
    # replay of the first committed range is bit-identical
    assert r.readBetweenOffsets({"page": 0}, {"page": 2}) == rows1
    # full replay equals the concatenated batches
    assert r.readBetweenOffsets({"page": 0}, {"page": 5}) == (
        rows1 + rows2 + rows3
    )


def test_stream_drain_matches_batch_read(spark):
    """availableNow drain of the streaming source yields exactly the batch
    source's rows (same synthesizer, offset walk covers every page)."""
    import uuid

    from cinegraph_spark.sources.listing import (
        read_listing,
        read_listing_stream,
    )
    from cinegraph_spark.streaming.windows import run_availablenow_to_memory

    batch = {
        (r["page"], r["rank"]): r["raw_title"]
        for r in read_listing(spark, pages=4, per_page=6).collect()
    }
    stream = read_listing_stream(spark, pages=4, per_page=6)
    name = f"t_srcstream_{uuid.uuid4().hex[:6]}"
    out = run_availablenow_to_memory(spark, stream, name, output_mode="append")
    streamed = {
        (r["page"], r["rank"]): r["raw_title"] for r in out.collect()
    }
    assert streamed == batch


def test_bounded_batches_drain_resumes(spark, tmp_path):
    """The bounded-prefetch contract (see ListingStreamReader docstring):
    with pages_per_batch set, ONE availableNow run consumes exactly one
    read() batch — and repeated runs against the same checkpoint resume
    from the committed page offset until the listing is exhausted, ending
    with exactly the unbounded one-batch drain's rows (exactly-once: no
    page duplicated or dropped across restarts)."""
    from cinegraph_spark.sources.listing import (
        read_listing,
        read_listing_stream,
    )
    from cinegraph_spark.streaming.windows import drain

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    counts = []
    for _ in range(6):  # 4 pages / 2 per batch -> expect exactly 2 runs
        s = read_listing_stream(spark, pages=4, per_page=6, pages_per_batch=2)
        drain(
            spark,
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            "listing drain",
        )
        n = spark.read.parquet(sink).count()
        counts.append(n)
        if len(counts) > 1 and counts[-1] == counts[-2]:
            break
    # one read() batch (2 pages x 6 rows) per availableNow run
    assert counts[0] == 12, counts
    assert counts[1] == 24, counts
    streamed = {
        (r["page"], r["rank"]): r["raw_title"]
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r["page"], r["rank"]): r["raw_title"]
        for r in read_listing(spark, pages=4, per_page=6).collect()
    }
    assert streamed == batch
