"""Structured Streaming surface tests: each streaming transformation is
drained with trigger(availableNow) into memory and compared against its
batch twin on the same input (SURVEY §5.1/§2.10 streaming semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cinegraph_spark.queries.util import T
from cinegraph_spark.streaming.windows import (
    read_events_stream,
    run_availablenow_to_memory,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def _batch_events(spark, sf_dir):
    return T(spark, sf_dir, "events")


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_availablenow_to_memory(
        spark, tumbling_counts(events_stream), "t_tumbling"
    )
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    g = {(r.window_start, r.event_type): (r.n_events, round(r.total_value, 6)) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, round(r.total_value, 6)) for r in batch.collect()}
    assert g == b


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_availablenow_to_memory(
        spark, sliding_counts(events_stream), "t_sliding"
    )
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    g = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert g == b


def test_streaming_dedup_drops_nothing_on_unique_ids(spark, sf_dir, events_stream):
    got = run_availablenow_to_memory(
        spark,
        streaming_dedup(events_stream),
        "t_dedup",
        output_mode="append",
    )
    assert got.count() == _batch_events(spark, sf_dir).count()


def test_watermark_late_row_dropped(spark, tmp_path):
    """Watermark semantics: a row older than (max_ts - watermark) arriving
    in a later micro-batch is dropped from the aggregation."""
    import os

    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")],
        "event_id long, ts_s string",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), F.lit(1.0).alias("value"), F.lit("x").alias("event_type"))
    on_time.coalesce(1).write.parquet(d + "/batch1")
    late = spark.createDataFrame(
        [(3, "2024-01-01 09:00:00")], "event_id long, ts_s string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), F.lit(1.0).alias("value"), F.lit("x").alias("event_type"))
    late.coalesce(1).write.parquet(d + "/batch2")

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.ws.hour: r.n for r in spark.table("t_late").collect()}
    # the 10:00 window closed (watermark passed) containing only event 1;
    # whether event 3's 09:00 window appears depends on arrival order vs
    # watermark advance — the invariant is the 10:00 window has exactly 1.
    assert rows.get(10) == 1


def test_tws_topk_matches_batch(spark, sf_dir, events_stream):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) running
    top-3 equals the batch windowed top-3. Skips when google.protobuf (the
    transformWithState state-server protocol dep) is absent — the operator
    is env-gated in that case, like hf_scorer."""
    pytest.importorskip("google.protobuf.descriptor")
    from cinegraph_spark.streaming.stateful import tws_topk_per_user

    got = run_availablenow_to_memory(
        spark,
        tws_topk_per_user(events_stream, k=3),
        "t_tws_topk",
        output_mode="update",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    batch = (
        _batch_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    g = {(r.user_id, r.value) for r in got.select("user_id", "value").distinct().collect()}
    b = {(r.user_id, r.value) for r in batch.select("user_id", "value").collect()}
    assert b <= g  # every final top-3 value was emitted


def test_stateful_topk_matches_batch(spark, sf_dir, events_stream):
    """applyInPandasWithState running top-3: after draining all input, each
    user's emitted top-3 equals the batch windowed top-3."""
    from cinegraph_spark.streaming.stateful import stateful_topk_per_user

    got = run_availablenow_to_memory(
        spark,
        stateful_topk_per_user(events_stream, k=3),
        "t_stateful_topk",
        output_mode="update",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    batch = (
        _batch_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    # memory sink in update mode keeps every emission; the last emission per
    # (user, rnk) is the final state — with availableNow on one file source
    # there is a single batch, so rows are already final
    g = {(r.user_id, r.rnk): round(r.value, 6) for r in got.collect()}
    b = {(r.user_id, r.rnk): round(r.value, 6) for r in batch.collect()}
    assert g == b


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream attribution join (watermark-bounded state) must equal
    the same predicate evaluated on static DataFrames."""
    from cinegraph_spark.streaming.joins import purchases_with_recent_clicks

    stream = read_events_stream(spark, sf_dir)
    got = run_availablenow_to_memory(
        spark,
        purchases_with_recent_clicks(stream),
        "t_ss_join",
        output_mode="append",
    )
    batch = purchases_with_recent_clicks(_batch_events(spark, sf_dir))
    g = {(r.purchase_id, r.click_id) for r in got.collect()}
    b = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """Exactly-once-style sink: foreachBatch + the keyed idempotent writer.
    Re-running the whole stream from a fresh checkpoint (worst-case
    reprocessing) must not duplicate a single row in the sink."""
    from cinegraph_spark.operators.incremental import append_new_keys

    path = str(tmp_path / "sink")

    def run(ck):
        stream = read_events_stream(spark, sf_dir)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch_df, _id: append_new_keys(
                    spark,
                    batch_df.select("event_id", "user_id", "value"),
                    path,
                    "event_id",
                )
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    n_events = _batch_events(spark, sf_dir).count()
    assert spark.read.parquet(path).count() == n_events
    run("ck2")  # full reprocess — the sink must dedupe everything
    assert spark.read.parquet(path).count() == n_events


def test_dynamic_gap_sessions_stream_matches_batch(spark, sf_dir):
    """session_window with a Column gap (45m after purchases, 15m
    otherwise): the streamed result must equal the same expression
    evaluated in batch, and produce at least as many sessions as the
    singleton-gap=45m spec (shorter gaps only split sessions)."""
    from cinegraph_spark.streaming.windows import session_windows_dynamic_gap

    stream = read_events_stream(spark, sf_dir)
    got = run_availablenow_to_memory(
        spark,
        session_windows_dynamic_gap(stream),
        "t_dyn_session",
    )
    batch = session_windows_dynamic_gap(_batch_events(spark, sf_dir))
    g = {
        (r.user_id, r.session_start, r.n_events, round(r.total_value or 0, 4))
        for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start, r.n_events, round(r.total_value or 0, 4))
        for r in batch.collect()
    }
    assert g == b and len(g) > 0
    wide = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "45 minutes"), "user_id")
        .count()
    )
    n_wide = run_availablenow_to_memory(spark, wide, "t_wide_session").count()
    assert len(g) >= n_wide


def test_retention_merge_rebase():
    """Cross-batch disorder contract of the streaming retention tracker
    (streaming/stateful.py::_merge_retention): an earlier week arriving
    AFTER later ones re-bases the cohort and re-emits the full seen set
    (so post-drain min-cohort filtering supersedes every stale row);
    in-order batches emit only newly-seen weeks."""
    from cinegraph_spark.streaming.stateful import _merge_retention

    W = 7 * 86400 * 1_000_000  # one week in microseconds
    # first batch: weeks 2,3 -> cohort = week 2, both emitted
    f, seen, emit = _merge_retention(None, set(), {2 * W, 3 * W})
    assert f == 2 * W and emit == [2 * W, 3 * W]
    # repeat week -> no emission, state unchanged
    f, seen, emit = _merge_retention(f, set(seen), {3 * W})
    assert f == 2 * W and emit == []
    # disorder: week 0 arrives late -> rebase + full re-emission
    f, seen, emit = _merge_retention(f, set(seen), {0})
    assert f == 0
    assert emit == [0, 2 * W, 3 * W]
    assert seen == [0, 2 * W, 3 * W]


def test_retention_stream_multibatch_disorder(spark, tmp_path):
    """End-to-end re-base: events split into 4 part files in DESCENDING
    time order and drained with maxFilesPerTrigger=1, so every user's
    earliest weeks arrive in LATER micro-batches — the cohort re-bases
    mid-stream, stale emissions carry superseded cohorts, and the
    post-drain min-cohort filter must recover exactly the batch retention
    triangle. Also exercises the ts-unit sniffer's multi-file directory
    path (events.parquet as a directory of part files)."""
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cinegraph_spark.queries import load_all
    from cinegraph_spark.streaming.stateful import stateful_retention_offsets
    from cinegraph_spark.streaming.windows import (
        read_events_stream,
        run_availablenow_to_memory,
    )

    import os

    src = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"),
        "events.parquet",
    )
    tbl = pq.read_table(src).sort_by([("ts", "descending")])
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    n = tbl.num_rows // 4 + 1
    for i in range(4):
        chunk = tbl.slice(i * n, n)
        if chunk.num_rows:
            pq.write_table(chunk, f"{outdir}/part-{i}.parquet")

    stream = read_events_stream(
        spark, str(tmp_path), max_files_per_trigger=1
    )
    name = f"t_ret_dis_{uuid.uuid4().hex[:6]}"
    out = run_availablenow_to_memory(
        spark, stateful_retention_offsets(stream), name, output_mode="update"
    )
    drained = out.localCheckpoint(eager=True)
    final = drained.groupBy(F.col("user_id").alias("f_user")).agg(
        F.min("cohort_us").alias("final_us")
    )
    act = (
        drained.join(final, drained["user_id"] == final["f_user"])
        .filter(F.col("cohort_us") == F.col("final_us"))
        .select("user_id", "cohort_us", "week_us")
        .distinct()
    )
    cohort_date = F.expr(
        "date_add(DATE'1970-01-01', CAST(cohort_us DIV 86400000000 AS INT))"
    )
    streamed = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in act.groupBy(
            F.date_format(cohort_date, "yyyy-MM-dd").alias("cohort_week"),
            ((F.col("week_us") - F.col("cohort_us")) / (7 * 86400 * 1000000))
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .collect()
    }
    batch = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in load_all()["events_retention_cohorts"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_parquet_drain_matches_memory_drain(spark, sf_dir, tmp_path):
    """run_availablenow_to_parquet is the production drain (executors write
    files; nothing lands on the driver) — it must produce exactly the rows
    the memory-sink test harness does for the same streaming plan."""
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    mem = run_availablenow_to_memory(
        spark, tumbling_counts(read_events_stream(spark, sf_dir)), "t_pqdrain_m"
    )
    pq_df = run_availablenow_to_parquet(
        spark,
        tumbling_counts(read_events_stream(spark, sf_dir)),
        str(tmp_path / "drain"),
        output_mode="complete",
    )
    key = lambda r: (r.window_start, r.event_type)
    m = {key(r): (r.n_events, round(r.total_value, 6)) for r in mem.collect()}
    p = {key(r): (r.n_events, round(r.total_value, 6)) for r in pq_df.collect()}
    assert m == p and len(p) > 0


def test_parquet_drain_empty_stream_yields_empty_frame(spark, tmp_path):
    """An input matching zero rows must drain to an EMPTY frame with the
    stream's schema (the explicit-schema read), not a schema-inference
    error on a fileless directory."""
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    empty_src = tmp_path / "src"
    empty_src.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([], type=pa.int64()),
            "user_id": pa.array([], type=pa.int64()),
            "event_type": pa.array([], type=pa.string()),
            "ts": pa.array([], type=pa.timestamp("us")),
            "value": pa.array([], type=pa.float64()),
        }
    )
    pq.write_table(tbl, f"{empty_src}/events.parquet")
    stream = read_events_stream(spark, str(empty_src))
    out = run_availablenow_to_parquet(
        spark,
        tumbling_counts(stream),
        str(tmp_path / "drain_empty"),
        output_mode="complete",
    )
    assert out.count() == 0
    assert set(out.columns) == {
        "window_start", "window_end", "event_type", "n_events", "total_value"
    }


def test_parquet_drain_complete_mode_reads_last_batch(spark, sf_dir, tmp_path):
    """Complete mode re-emits the whole result in every micro-batch, so
    the read-back is the LAST batch only: a 2-file source drained one
    file per batch must equal its batch twin, not count every row twice
    over."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    n = tbl.num_rows // 2 + 1
    for i in range(2):
        pq.write_table(tbl.slice(i * n, n), f"{outdir}/part-{i}.parquet")

    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    sink = tmp_path / "drain"
    got = run_availablenow_to_parquet(
        spark,
        stream.groupBy("event_type").agg(F.count("*").alias("n_events")),
        str(sink),
        output_mode="complete",
    )
    assert len(os.listdir(sink)) >= 2  # the drain really ran two batches
    assert dict(map(tuple, got.collect())) == Counter(
        tbl["event_type"].to_pylist()
    )


def test_drain_timeout_env_reaches_every_drain(
    spark, sf_dir, tmp_path, monkeypatch
):
    """$CINEGRAPH_DRAIN_TIMEOUT_S is the one drain timeout: at 0 a
    registered stream query and a serving maintenance drain each time
    out, and neither leaves its query running."""
    from cinegraph_spark.operators.serving_io import serving_stream_update
    from cinegraph_spark.queries.events import stream_mv_incremental_refresh

    monkeypatch.setenv("CINEGRAPH_DRAIN_TIMEOUT_S", "0")
    with pytest.raises(TimeoutError, match="stream MV refresh"):
        stream_mv_incremental_refresh(spark, sf_dir)
    assert not spark.streams.active
    with pytest.raises(TimeoutError, match="maintenance drain"):
        serving_stream_update(
            read_events_stream(spark, sf_dir),
            lambda batch_df, batch_id: None,
            str(tmp_path / "land"),
        )
    assert not spark.streams.active


def test_one_availablenow_drain_in_package():
    """`streaming/windows.py::drain` is the only place in the package that
    starts and waits on an availableNow query, so the drain contract (UTC
    scope, shuffle cap, one timeout) cannot drift per caller."""
    import ast
    import pathlib

    import cinegraph_spark

    root = pathlib.Path(cinegraph_spark.__file__).parent
    hits = {"availableNow=True": [], "awaitTermination(": []}
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        funcs = [
            f
            for f in ast.walk(ast.parse(src))
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            for needle, found in hits.items():
                if needle not in line:
                    continue
                inner = min(
                    (f for f in funcs if f.lineno <= lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno,
                    default=None,
                )
                found.extend(
                    [(path.relative_to(root).as_posix(), inner and inner.name)]
                    * line.count(needle)
                )
    for needle, found in hits.items():
        assert found == [("streaming/windows.py", "drain")], (needle, found)


def test_parquet_drain_multibatch_appends_once_per_batch(spark, tmp_path):
    """foreachBatch append across MULTIPLE micro-batches: a 4-part source
    with maxFilesPerTrigger=1 must land every input row in the parquet
    drain exactly once (no dropped or re-appended batches)."""
    import os

    import pyarrow.parquet as pq

    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    src = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"),
        "events.parquet",
    )
    tbl = pq.read_table(src)
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    n = tbl.num_rows // 4 + 1
    for i in range(4):
        chunk = tbl.slice(i * n, n)
        if chunk.num_rows:
            pq.write_table(chunk, f"{outdir}/part-{i}.parquet")

    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    drained = run_availablenow_to_parquet(
        spark,
        stream.select("event_id"),
        str(tmp_path / "drain"),
        output_mode="append",
    )
    got = sorted(r["event_id"] for r in drained.collect())
    want = sorted(tbl["event_id"].to_pylist())
    assert got == want


def test_parquet_drain_crash_recovery_exactly_once(spark, tmp_path):
    """Kill a parquet drain mid-stream and re-run: exactly-once output.

    The existing idempotence tests cover full CLEAN re-runs (at-least-once
    re-delivery); this pins the CRASH case — a drain dies partway through,
    leaving (a) fully-committed early batch directories and (b) a
    partially-written directory for the in-flight batch (part files landed
    before the job died, no commit marker). The re-run must overwrite both
    via the batch_id-keyed ``mode("overwrite")`` write so the read-back
    equals the batch ground truth exactly — the partial files must neither
    survive nor double-count.
    """
    import os

    import pyarrow.parquet as papq

    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    src = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"),
        "events.parquet",
    )
    full = papq.read_table(src)  # keep ts: the stream's unit sniffer needs it
    tbl = full.select(["event_id", "user_id", "value"])
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    n = full.num_rows // 3 + 1
    poison_ids = set()
    for i in range(3):
        chunk = full.slice(i * n, n)
        if chunk.num_rows:
            papq.write_table(chunk, f"{outdir}/part-{i}.parquet")
        if i == 2:
            poison_ids = set(chunk["event_id"].to_pylist()[:1])

    sink = str(tmp_path / "drain")

    def make_stream():
        return read_events_stream(
            spark, str(tmp_path), max_files_per_trigger=1
        ).select("event_id", "user_id", "value")

    def poison(batch_df):
        # simulated crash: the job dies when the marked batch arrives
        # (schema analysis runs this on an empty frame -> no raise there)
        if batch_df.filter(
            F.col("event_id").isin(list(poison_ids))
        ).count() > 0:
            raise RuntimeError("injected mid-drain crash")
        return batch_df

    with pytest.raises(Exception, match="injected mid-drain crash"):
        run_availablenow_to_parquet(
            spark, make_stream(), sink, output_mode="append", transform=poison
        )

    # simulate the in-flight batch's partial write: real duplicate rows
    # that landed in a batch directory before the job died. If the re-run
    # appended instead of overwriting per batch_id, recursiveFileLookup
    # would read these and double-count.
    partial = tmp_path / "drain" / "batch-00000001"
    partial.mkdir(exist_ok=True)
    papq.write_table(tbl.slice(0, 10), f"{partial}/part-00000-partial.parquet")

    recovered = run_availablenow_to_parquet(
        spark, make_stream(), sink, output_mode="append"
    )
    got = sorted(
        (r["event_id"], r["user_id"], round(r["value"], 6))
        for r in recovered.collect()
    )
    want = sorted(
        zip(
            tbl["event_id"].to_pylist(),
            tbl["user_id"].to_pylist(),
            (round(v, 6) for v in tbl["value"].to_pylist()),
        )
    )
    assert got == want
    assert not os.path.exists(f"{partial}/part-00000-partial.parquet")


def test_stateful_topk_all_null_values_group(spark, tmp_path):
    """A user whose every value is NULL emits an EMPTY frame — the
    explicit dtype cast must keep the drain alive (object-dtype empty
    columns against the long/int/double schema are version-fragile)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cinegraph_spark.streaming.stateful import stateful_topk_per_user

    tbl = pa.table(
        {
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "ts": pa.array(
                [t * 1_000_000 for t in (10, 20, 30, 40)], pa.timestamp("us")
            ),
            "value": pa.array([None, None, 5.0, 9.0], pa.float64()),
        }
    )
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    pq.write_table(tbl, f"{outdir}/part-0.parquet")
    stream = read_events_stream(spark, str(tmp_path))
    got = run_availablenow_to_memory(
        spark,
        stateful_topk_per_user(stream),
        f"t_topk_null_{uuid.uuid4().hex[:6]}",
        output_mode="update",
    ).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append((r["rnk"], r["value"]))
    assert 1 not in by_user  # all-null user: no rows, no crash
    assert sorted(by_user[2]) == [(1, 9.0), (2, 5.0)]


def _lojoin_stage(spark, tmp_path, frames):
    from cinegraph_spark.queries.events import _stage_ordered_batches

    stage = str(tmp_path / "lo_in")
    _stage_ordered_batches(frames, stage)
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _lojoin_frames(spark):
    """u1 purchase has a click 10 min before (match); u2 purchase has a
    click 2 h before (outside the 30-min window); u3 purchase has none."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:10:00", 1, "purchase"),
        (3, "2024-01-01 08:00:00", 2, "click"),
        (4, "2024-01-01 10:00:00", 2, "purchase"),
        (5, "2024-01-01 10:00:00", 3, "purchase"),
    ]
    real = spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, ts, u, t in rows],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sent = spark.createDataFrame(
        [
            (-1001, "2030-01-01 00:00:00", -1, "purchase", 0.0, "{}"),
            (-2001, "2030-01-01 00:00:00", -1, "click", 0.0, "{}"),
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return real, sent


def test_left_outer_join_nulls_come_from_eviction(spark, tmp_path):
    """The left-outer stream-stream join's defining semantic: an unmatched
    purchase is emitted with NULL click columns only once the watermark
    passes its window — WITHOUT a later batch to advance the watermark,
    the buffered state never surfaces; WITH sentinel batches advancing it
    past the data, every unmatched purchase is nulled exactly once and no
    matched purchase is double-reported."""
    from cinegraph_spark.session import scratch_dir
    from cinegraph_spark.streaming.joins import purchases_with_recent_clicks
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    real, sent = _lojoin_frames(spark)

    # one batch, no watermark advance: only the in-batch MATCH is emitted;
    # the unmatched purchases stay buffered and never surface
    out1 = run_availablenow_to_parquet(
        spark,
        purchases_with_recent_clicks(
            _lojoin_stage(spark, tmp_path / "a", [real]),
            watermark="1 hour",
            how="left_outer",
        ),
        scratch_dir("t_lojoin_one_"),
        output_mode="append",
    )
    got1 = [(r["user_id"], r["click_id"]) for r in out1.collect()]
    assert got1 == [(1, 1)]

    # sentinel batches push the watermark past the data: verdicts finalize
    out2 = run_availablenow_to_parquet(
        spark,
        purchases_with_recent_clicks(
            _lojoin_stage(spark, tmp_path / "b", [real, sent, sent]),
            watermark="1 hour",
            how="left_outer",
        ),
        scratch_dir("t_lojoin_fin_"),
        output_mode="append",
    )
    got2 = sorted(
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in out2.filter(F.col("user_id") >= 0).collect()
    )
    assert got2 == [(1, 2, 1), (2, 4, None), (3, 5, None)]


def test_full_outer_join_both_sides_evict(spark, tmp_path):
    """The full-outer form's defining semantic on top of the left-outer
    pin above: BOTH sides' buffered state finalizes by eviction — the
    never-attributed click surfaces with NULL purchase columns, the
    unmatched purchases with NULL click columns, and without a watermark
    advance neither side's buffer ever surfaces."""
    from cinegraph_spark.session import scratch_dir
    from cinegraph_spark.streaming.joins import purchases_with_recent_clicks
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    real, sent = _lojoin_frames(spark)

    # one batch: the in-batch match emits, and the drain's no-data
    # finalize batch advances the watermark to max_ts - 1h = 09:10 —
    # already past the 08:00 click's eviction time (08:30 — a click is
    # final once no purchase within the window can still arrive), so
    # THAT verdict surfaces with a NULL purchase side; the purchases
    # (eviction times ≥ 10:00, beyond the watermark) stay buffered and
    # never surface
    out1 = run_availablenow_to_parquet(
        spark,
        purchases_with_recent_clicks(
            _lojoin_stage(spark, tmp_path / "a", [real]),
            watermark="1 hour",
            how="full_outer",
        ),
        scratch_dir("t_fojoin_one_"),
        output_mode="append",
    )
    got1 = sorted(
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in out1.collect()
    )
    assert got1 == [(1, 2, 1), (2, None, 3)]

    # sentinel batches advance both watermark nodes: every verdict on
    # both sides finalizes exactly once
    out2 = run_availablenow_to_parquet(
        spark,
        purchases_with_recent_clicks(
            _lojoin_stage(spark, tmp_path / "b", [real, sent, sent]),
            watermark="1 hour",
            how="full_outer",
        ),
        scratch_dir("t_fojoin_fin_"),
        output_mode="append",
    )
    got2 = sorted(
        (
            (r["user_id"], r["purchase_id"], r["click_id"])
            for r in out2.filter(F.col("user_id") >= 0).collect()
        ),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    assert got2 == [
        (1, 2, 1),  # matched pair, once
        (2, 4, None),  # purchase whose only click is outside the window
        (2, None, 3),  # that click, never attributed: purchase side NULL
        (3, 5, None),  # purchase with no click at all
    ]


def test_no_data_batch_skip_multibatch_update_drain(spark, tmp_path):
    """final_no_data_batch=False under a REAL multi-batch drain: the
    stateful top-k (update mode, NoTimeout — emits on arrival only) over
    events split into 3 part files with maxFilesPerTrigger=1 must
    produce the same re-ranked final state with the trailing no-data
    micro-batch skipped as the batch ground truth, and the drain must
    have run exactly 3 data batches (no batch-00000003 directory)."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cinegraph_spark.streaming.stateful import stateful_topk_per_user
    from cinegraph_spark.streaming.windows import (
        read_events_stream,
        run_availablenow_to_parquet,
    )

    src = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"),
        "events.parquet",
    )
    tbl = pq.read_table(src).sort_by([("ts", "descending")])
    outdir = tmp_path / "events.parquet"
    outdir.mkdir()
    n = tbl.num_rows // 3 + 1
    for i in range(3):
        chunk = tbl.slice(i * n, n)
        if chunk.num_rows:
            pq.write_table(chunk, f"{outdir}/part-{i}.parquet")

    stream = read_events_stream(
        spark, str(tmp_path), max_files_per_trigger=1
    )
    sink = str(tmp_path / "drained")
    out = run_availablenow_to_parquet(
        spark,
        stateful_topk_per_user(stream, k=3),
        sink,
        output_mode="update",
        shuffle_partitions=4,
        final_no_data_batch=False,
    )
    batch_dirs = sorted(
        d for d in os.listdir(sink) if d.startswith("batch-")
    )
    assert batch_dirs == [f"batch-{i:08d}" for i in range(3)]
    # re-rank the accumulated update emissions (the registered query's
    # recovery rule) and compare against batch ground truth
    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    got = {
        (r["user_id"], r["rnk"], r["value"])
        for r in out.select("user_id", "value")
        .distinct()
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    ev = spark.read.parquet(str(outdir)).select(
        "user_id", F.col("value")
    )
    want = {
        (r["user_id"], r["rnk"], r["value"])
        for r in ev.distinct()
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    assert got == want


def test_no_data_batch_required_for_append_windows(spark, tmp_path):
    """The contract boundary the final_no_data_batch docstring states,
    demonstrated: an APPEND-mode windowed aggregation emits closed
    windows only when the watermark advances past them — the trailing
    no-data micro-batch is what finalizes the last windows in an
    availableNow drain, so skipping it MUST lose rows. This test is the
    tripwire against anyone flipping the flag on an eviction-dependent
    drain: if Spark ever changes the finalization semantics so nothing
    is lost, the assertion flips and the flag's docs must be revisited."""
    from pyspark.sql import functions as F

    from cinegraph_spark.streaming.windows import (
        read_events_stream,
        run_availablenow_to_parquet,
    )

    import os

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")

    def drain(final_no_data_batch: bool, sub: str) -> int:
        stream = read_events_stream(spark, sf)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count("*").alias("n"))
            .select("event_type", "n")
        )
        out = run_availablenow_to_parquet(
            spark,
            agg,
            str(tmp_path / sub),
            output_mode="append",
            final_no_data_batch=final_no_data_batch,
        )
        return out.count()

    with_final = drain(True, "with_final")
    without = drain(False, "without")
    assert with_final > 0
    assert without < with_final


def test_bucketed_attribution_matches_bare_key(spark, sf_dir, tmp_path):
    """The (user, time-bucket) join-key layout (the r19 per-key-skew
    mitigation, forced via bucketed=True — the env default is off) must be
    output-IDENTICAL to the bare-user join: the bucket width equals the
    attribution window, so each matching pair agrees on exactly one of
    the duplicated side's two bucket values. Inner is pinned as a
    MULTISET against the bare-key batch twin (a set compare would hide a
    double-matched replica); left-outer against the eviction pin's exact
    verdicts."""
    from collections import Counter

    from cinegraph_spark.session import scratch_dir
    from cinegraph_spark.streaming.joins import purchases_with_recent_clicks
    from cinegraph_spark.streaming.windows import run_availablenow_to_parquet

    stream = read_events_stream(spark, sf_dir)
    got = run_availablenow_to_memory(
        spark,
        purchases_with_recent_clicks(stream, bucketed=True),
        "t_ss_join_bucketed",
        output_mode="append",
    )
    batch = _batch_events(spark, sf_dir)
    bare = purchases_with_recent_clicks(batch)
    g = Counter((r.purchase_id, r.click_id) for r in got.collect())
    b = Counter((r.purchase_id, r.click_id) for r in bare.collect())
    assert g == b and len(g) > 0

    # Spark's aliases for the bucketed forms engage the bucket key too
    for how in ("inner", "INNER", "left", "leftouter", "left_outer"):
        plan = purchases_with_recent_clicks(
            batch, how=how, bucketed=True
        )._jdf.queryExecution().analyzed().toString()
        assert "_pb" in plan, how

    real, sent = _lojoin_frames(spark)
    out = run_availablenow_to_parquet(
        spark,
        purchases_with_recent_clicks(
            _lojoin_stage(spark, tmp_path / "bk", [real, sent, sent]),
            watermark="1 hour",
            how="left",
            bucketed=True,
        ),
        scratch_dir("t_lojoin_bk_"),
        output_mode="append",
    )
    got2 = sorted(
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in out.filter(F.col("user_id") >= 0).collect()
    )
    assert got2 == [(1, 2, 1), (2, 4, None), (3, 5, None)]
