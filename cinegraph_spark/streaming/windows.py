"""Structured Streaming surface (SURVEY §2.10 streaming).

The batch twins of these transformations live in ``queries/events.py`` and
are oracle-checked; here the SAME window specs run as real streams —
``readStream`` sources, watermarks, and streaming sinks. The reference's
token-domain sliding window (M2) is the batch cousin of these time windows.

Each builder takes a *streaming* DataFrame (``df.isStreaming``) with an
``events``-shaped schema and returns the transformed streaming DataFrame;
callers pick source and sink. :func:`drain` is the package's one
``availableNow`` drain: every stream here — the registered ``stream_*``
queries, the serving-tier maintenance sinks, the DV erasure feed — runs
all currently-available input through it and then stops, which makes
streaming output comparable to the batch twin on the same files.
``run_availablenow_to_parquet`` (executors write the emissions) and the
test harness ``run_availablenow_to_memory`` are its two sinks with a
read-back.

Scale notes: state-store growth is bounded by the watermark horizon; keys
are (window × type) / (user session) — both modest. At 100 TB/day the
shuffle partition count and ``spark.sql.streaming.statestore`` provider
(RocksDB) are the knobs; the plan shape here is already the right one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinegraph_spark.schemas import EVENTS


def default_drain_timeout_s() -> int:
    """Timeout of every availableNow drain (:func:`drain`): 120s fits
    every fixture the registered queries run on (sf<=0.1);
    CINEGRAPH_DRAIN_TIMEOUT_S raises it for bigger corpora (the r17 sf1
    trend run needed ~300s for the million-event stream-stream joins — a
    data-volume fact, not a plan regression; the timeout exists to catch
    HANGS, so it must scale with the input the caller feeds in). 0 times
    a drain out as soon as it starts."""
    return int(os.environ.get("CINEGRAPH_DRAIN_TIMEOUT_S", "120"))


def drain(
    spark: SparkSession,
    writer,
    what: str,
    shuffle_partitions: int | None = None,
    final_no_data_batch: bool = True,
) -> None:
    """The one ``availableNow`` drain: start ``writer`` (a configured
    ``DataStreamWriter`` — sink, output mode, optional checkpoint), run
    all currently-available input through it, and return once the query
    has stopped.

    The stream executes entirely inside this call, under the session
    zone scoped to UTC (so Arrow/pandas timestamp hops in stateful
    operators see deterministic wall clocks whatever the caller's zone)
    and ``spark.sql.shuffle.partitions`` capped at ``shuffle_partitions``
    — stateful streaming disables AQE, so the state-store partition count
    is exactly this number and each partition pays checkpoint-commit
    overhead per micro-batch (measured: a 200-partition stream-stream
    join drain took 47 s, seconds at 8). It defaults to
    ``$CINEGRAPH_DRAIN_SHUFFLE`` (else 8) so a deployment can size state
    parallelism to its key cardinality without touching query code. Per-
    KEY skew is not fixed by more partitions: a streaming symmetric-hash
    join scans every buffered match-side row of a key per input row of
    that key, serially within the key's one partition (measured sf1: one
    Zipf-hot user = 1.1B of 1.4B pair-scans).

    ``final_no_data_batch=False`` skips the trailing no-data micro-batch
    Spark otherwise runs to advance the watermark and flush
    eviction-driven emissions (one extra full checkpoint commit —
    measured ~1s of a ~3s local drain). ONLY safe for plans whose output
    never depends on watermark eviction: inner stream-stream joins and
    update-mode stateful operators emit on arrival/match, so they lose
    nothing. Append-mode windowed aggregations, outer-join NULL
    finalization, and session windows emit BY eviction — for those the
    default must stay True or the drain silently drops the final
    emissions.

    A drain still running after :func:`default_drain_timeout_s` is
    stopped and raises ``TimeoutError`` naming ``what``, instead of
    returning while the stream still writes; the stop happens inside the
    scoped-conf block, so the confs are never restored mid-stream."""
    from cinegraph_spark.session import bounded_shuffle, scoped_confs

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("CINEGRAPH_DRAIN_SHUFFLE", "8"))
    timeout_s = default_drain_timeout_s()
    with scoped_confs(
        spark,
        **{
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.streaming.noDataMicroBatches.enabled": str(
                bool(final_no_data_batch)
            ).lower(),
        },
    ), bounded_shuffle(spark, shuffle_partitions):
        q = writer.trigger(availableNow=True).start()
        # awaitTermination refuses a zero timeout; 0 means "already late"
        if timeout_s <= 0 or not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"{what} did not finish in {timeout_s}s")


def _events_ts_unit_divisor(sf_dir: str) -> int:
    """Per-micro to the stored unit: 1000 for TIMESTAMP(NANOS) files, 1 for
    TIMESTAMP(MICROS). One driver-side footer read — the unit is a property
    of the dataset, not of any row, so sniffing it once is cheap and safe
    at any scale. (The driver's testdata has shipped both units across
    rounds; sniffing keeps the stream correct for either.) Handles both a
    single-file ``events.parquet`` and a multi-file directory of that name
    (sniffs the first part file — the unit is dataset-wide)."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        parts = sorted(_glob.glob(f"{path}/*.parquet")) or sorted(
            _glob.glob(f"{path}/part-*")
        )
        if not parts:
            raise FileNotFoundError(
                f"no parquet part files under directory {path} — "
                "cannot sniff the events timestamp unit"
            )
        path = parts[0]
    t = pq.read_schema(path).field("ts").type
    return 1000 if getattr(t, "unit", "us") == "ns" else 1


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet, handling both
    physical shapes the testdata has shipped: a single FILE
    (``documents.parquet`` is one file at every current SF — a file path
    cannot be a FileStreamSource basePath, so stream the sf dir with a
    ``pathGlobFilter``) and a DIRECTORY of part files (stream it
    directly; the glob approach matches nothing in that layout — the
    events-reader lesson, NOTES r6)."""
    import os

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema pinned; ts read
    as long in the file's native unit — sniffed from the parquet footer —
    then rebuilt as a microsecond instant, same workaround as the batch
    reader).

    ``ts`` stays TIMESTAMP (instant) here — Spark's watermark machinery
    rejects TIMESTAMP_NTZ event time. Session-tz independence is handled at
    the edges instead: :func:`drain` pins UTC for the scope of the
    drain, and the registered stream queries convert outgoing
    timestamps to NTZ (``queries/util.py::ntz``). The nanosAsLong read flag
    stays set for the session's lifetime — unlike the batch reader it
    cannot be scoped, because the streaming source re-reads parquet per
    micro-batch long after this builder returns; it is a read-compat flag
    with no effect on any other query's semantics (and a no-op on
    MICROS-unit files)."""
    import os

    divisor = _events_ts_unit_divisor(sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    # The file source monitors a directory. Two dataset layouts exist:
    # a single-file events.parquet (the driver's testdata) — stream the sf
    # dir glob-filtered to that file — and a directory-of-part-files
    # events.parquet (any Spark-written regeneration) — stream the
    # directory itself (a glob filter naming the directory would match NO
    # part files and silently yield an empty stream).
    table_path = f"{sf_dir}/events.parquet"
    if os.path.isdir(table_path):
        stream_path = table_path
    else:
        stream_path = sf_dir
        reader = reader.option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stream_path)
    return df.withColumn("ts", F.timestamp_micros(F.expr(f"ts div {divisor}")))


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data handling:
    rows later than the watermark are dropped, closed windows emit finally
    (append mode capable)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window aggregation (each event contributes to
    window/slide overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Stateful exactly-once dedup within the watermark horizon
    (``dropDuplicates`` with event-time bound state)."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        (keys or ["event_id"]) + ["ts"]
    )


def run_availablenow_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Test harness ONLY: :func:`drain` all available input through the
    streaming plan into an in-memory table; returns the result as a batch
    DataFrame. Drained rows materialize in DRIVER memory — registered
    queries and anything benched must use ``run_availablenow_to_parquet``,
    whose executors write the emissions to files instead."""
    drain(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        f"memory drain {query_name!r}",
    )
    return spark.table(query_name)


def run_availablenow_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    path: str,
    output_mode: str = "update",
    transform=None,
    shuffle_partitions: int | None = None,
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Production drain: :func:`drain` all available input and write every
    micro-batch's emissions straight to a parquet directory via
    ``foreachBatch`` — executors write the files; NOTHING materializes on
    the driver, unlike the memory-sink twin whose drained rows all live in
    driver memory (fine for tests, a bottleneck once emissions are
    O(users × weeks) at 100×). ``foreachBatch`` rather than the file sink
    proper because the file sink is append-only and stateful operators
    here emit in update mode; the per-batch batch-DataFrame write is the
    standard Structured Streaming pattern for exactly that gap.

    Returns a batch DataFrame over the written files, read with the
    stream's own schema so an empty drain yields an empty frame instead
    of a schema-inference error. Append and update mode read back every
    batch's emissions; complete mode re-emits the whole result in every
    batch, so it reads back the LAST batch only (the union would repeat
    each row once per batch under a multi-file source).

    Idempotence + failure contract (hardened round 9): ``foreachBatch``
    is at-least-once, so each micro-batch writes to a *batch_id-keyed
    subdirectory* with ``mode("overwrite")`` — the standard idempotent-
    foreachBatch pattern; a replayed batch (driver restart from
    checkpoint) overwrites its own directory instead of double-appending.
    The read-back uses ``recursiveFileLookup`` so the subdirectories are
    plain file containers, not inferred partition columns.

    ``transform`` (optional): a batch-DataFrame → batch-DataFrame callable
    applied to each micro-batch INSIDE ``foreachBatch`` before the write —
    the hook for per-batch logic the streaming engine cannot express
    directly (multi-join + aggregation against static tables, e.g. the
    near-dup admission gate). It must be PER-ROW-INDEPENDENT or otherwise
    batch-split-safe: foreachBatch gives no cross-batch state here, so a
    transform whose result depends on which rows share a batch would be
    nondeterministic under repartitioned input. The read-back schema is
    derived by analyzing the transform against an empty frame.

    ``shuffle_partitions`` and ``final_no_data_batch`` are
    :func:`drain`'s drain-shape knobs (state-store sizing; skipping the
    trailing no-data batch on eviction-free plans)."""
    from cinegraph_spark.session import local_df

    if transform is None:
        schema = stream_df.schema
    else:
        schema = transform(local_df(spark, [], stream_df.schema)).schema
    os.makedirs(path, exist_ok=True)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch-{batch_id:08d}")
        )

    drain(
        spark,
        stream_df.writeStream.foreachBatch(_write_batch).outputMode(output_mode),
        f"parquet drain at {path}",
        shuffle_partitions,
        final_no_data_batch,
    )
    reader = spark.read.schema(schema).option("recursiveFileLookup", "true")
    if output_mode == "complete":
        batches = sorted(d for d in os.listdir(path) if d.startswith("batch-"))
        if batches:
            return reader.parquet(os.path.join(path, batches[-1]))
    return reader.parquet(path)


def session_windows_dynamic_gap(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Session windows with a per-row gap: purchases hold a session open
    45 minutes, everything else 15 — `session_window` accepts a Column gap,
    so the state machine merges windows under per-event rules no batch
    gaps-and-islands single-gap query can express."""
    gap = F.when(F.col("event_type") == "purchase", "45 minutes").otherwise(
        "15 minutes"
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
