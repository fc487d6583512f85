"""Idempotent incremental writes — the Spark-native form of the reference's
offset-based resume (SURVEY §2.9 X4: `scraper.py:232`,
`preprocessing_agent.py:388` skip an already-done prefix by count).

Offsets assume a stable input ordering; at 100 TB with retries and
speculative tasks they double- or zero-process on any reordering. The
durable contract is *keyed idempotency*: anti-join the incoming batch
against the keys already persisted, append only the new rows. Re-running a
failed batch is then a no-op for whatever already landed — the same
guarantee Structured Streaming gets from ``checkpointLocation``
(`streaming/windows.py`), here for batch jobs.

At scale the anti-join reads only the key column of the sink (column
pruning — a few % of the data), and if the sink is partitioned by an
ingest-date/batch column the scan prunes to recent partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the path's own Hadoop FileSystem — used
    instead of read-and-catch-AnalysisException for the routine
    first-write / first-refresh / no-evolution probes in this module, so
    they don't spray PATH_NOT_FOUND stacks into the listener bus and the
    bench logs (r15: the caught exception was harmless but
    indistinguishable from a real failure in the captured output)."""
    from cinegraph_spark.operators.maintenance import _hadoop_fs

    fs, jp = _hadoop_fs(spark, path)
    return fs.exists(jp)


def append_new_keys(
    spark: SparkSession, df: DataFrame, path: str, key: str
) -> int:
    """Append to the parquet dataset at ``path`` only the rows whose ``key``
    is not already present. Returns the number of rows written. Safe to
    re-run with overlapping input (idempotent per key); first call creates
    the dataset."""
    if not _dir_exists(spark, path):  # first write — nothing to dedupe against
        # Observation counts rows as the write job streams them past, so the
        # first write costs ONE scan of the (possibly expensive) input plan
        # instead of write-then-recount.
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(path)
        return int(obs.get["n"])
    existing_keys = spark.read.parquet(path).select(key)
    fresh = df.join(existing_keys, key, "left_anti")
    # localCheckpoint pins the anti-join result BEFORE the append mutates
    # the same files the plan would otherwise re-scan lazily
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def merge_agg_state(
    spark: SparkSession,
    path: str,
    delta_agg: DataFrame,
    keys: list[str],
    sums: list[str],
    batch_id: int,
    maxs: list[str] | None = None,
    mins: list[str] | None = None,
    n_col: str | None = None,
    hll_regs: list[str] | None = None,
    hist_maps: list[str] | None = None,
    keep_generations: int | None = None,
    expected_base: int | None = None,
) -> dict:
    """Incrementally refresh a persisted aggregate state (a materialized
    rollup) from a pre-aggregated delta — the MERGEABLE-PARTIALS form of
    incremental view maintenance: because every measure is an algebraic
    sum (counts ship as sums of partial counts; averages derive at read
    time as sum/count), folding a delta is ``state ∪ delta_agg`` re-summed
    per key, which costs O(|state| + |delta|) and NEVER re-reads the base
    fact table. At 100 TB the refresh therefore reads yesterday's
    state (group-cardinality-sized) plus only the new fact partitions —
    the same scan-∝-change contract as the serving-table maintenance in
    `operators/hnsw.py` / `operators/similarity.py`, at the aggregate
    tier.

    Exactly-once under at-least-once delivery: aggregate merge is
    additive, so a replayed delta would silently double-count — unlike
    the keyed sinks above, idempotency cannot come from the data itself.
    The state therefore carries an applied-``batch_id`` ledger, and a
    batch already in the ledger is a no-op (returns ``applied=False``).
    Ledger and aggregate live under ONE directory and flip through ONE
    atomic sibling-swap (`serving_io.atomic_swap_dir`), so no crash can
    commit the aggregate without its ledger row or vice versa; re-running
    a crashed refresh re-applies cleanly. The ledger grows one row per
    batch — metadata-scale against any real refresh cadence.

    Integer or decimal measures make the merged state bit-identical to a
    full recompute (associative exact addition); float measures merge to
    within summation-order ulps, the repo-wide rounding convention's
    territory.

    ``maxs`` / ``mins`` are the other mergeable-partial classes (max of
    maxes, min of mins) — valid under an INSERT-ONLY delta contract
    only: a delete or downward update cannot lower a stored max without
    rescanning the group's base facts, which is exactly the scan this
    operator exists to avoid. AVG is deliberately NOT a measure
    class — it is not mergeable; derive it from a sum and a count at
    read time. Single-writer contract as in `operators/maintenance.py` —
    relaxable on a VERSIONED view via ``expected_base`` (r15): pass the
    `serving_io.current_generation` the merge read its state from, and
    the commit becomes the same claim-token CAS `hash_layout_save` uses
    — a second refresher that raced past this one raises
    `GenerationConflictError` and its work is discarded instead of
    silently overwriting the winner's merge (each refresher's state
    would otherwise be missing the other's delta); the loser re-reads,
    re-merges, retries. The ledger cannot give this protection by
    itself: two DIFFERENT batch ids merged concurrently both pass the
    ledger check. Requires ``keep_generations``.

    ``n_col`` (r14) enables RETRACTIONS for sum-class views — the CDC
    form of incremental maintenance: a deleted fact ships as a NEGATED
    partial in the delta (count −1, measures negated; sum arithmetic
    already merges it), and ``n_col`` names the live-row-count measure
    (must be one of ``sums``) so the operator can finish the job —
    groups whose merged count reaches zero are DROPPED from the view (a
    recompute has no row for a factless group; leaving a zero-row would
    diverge), and a merged count below zero raises (more retractions
    than insertions — a corrupt or double-shipped delta must never
    silently commit). ``n_col`` with ``maxs``/``mins`` raises up front:
    max/min are not retractable partials, by the scan argument above —
    route such views through a recompute of the touched groups instead.

    ``hll_regs`` (r14) is the SKETCH measure class — incremental
    COUNT(DISTINCT), which is not algebraic, via mergeable portable-HLL
    register vectors (`queries/util.py::hll_dense_registers`): each
    column is a dense ``array<int>`` whose element-wise max across
    state and delta equals the vector over the union of their inputs
    (register max is associative), so the view's distinct estimates
    stay exact-to-the-sketch under any batch split — and because the
    registers are deterministic md5 math, a cross-engine oracle checks
    them bit-for-bit. INSERT-ONLY like max/min (a sketch cannot forget
    a key): combining with ``n_col`` raises. Vectors of unequal length
    merge positionally (``zip_with`` pads with NULL, ``greatest`` skips
    it), so the fixed-m contract is the caller's to keep.

    ``hist_maps`` (r14) is the sum-merged sketch class — incremental
    QUANTILES via sparse fixed-width histograms: each column is a
    ``map<bigint,bigint>`` of bin → count, merged by key-wise SUM
    (``map_zip_with`` unions the key sets), zero-count bins dropped
    after every merge so the state stays bit-identical to a recompute's
    histogram. Unlike HLL registers, bin counts are additive and
    therefore RETRACTABLE — ``hist_maps`` composes with ``n_col`` (a
    deleted fact ships bin → −1), and the below-zero refusal extends to
    any negative merged bin. Quantile estimates derive at read time
    from the merged bins (see
    `queries/timeseries.py::sketch_histogram_quantiles` for the
    cum-window + interpolation recipe the MV query reuses).

    ``keep_generations`` (r15) VERSIONS the view: each refresh publishes
    as a numbered generation under ``path/_gens`` (marker-commit — no
    rename, no crash window) instead of sibling-swapping the root, the
    newest ``keep_generations`` refreshes are retained, and
    :func:`read_agg_state` answers rollback / time-travel reads
    ("the view as of refresh N") from any retained generation — the
    MV-tier form of the serving-state generations
    (`operators/serving_io.py::generation_swap_dir`; a versioned reader's
    plan survives a concurrent refresh because its generation's files
    are never touched). A view is versioned or not for life: refreshing
    a versioned view without ``keep_generations`` refuses (the root swap
    would destroy every retained snapshot), as does versioning an
    existing legacy view (migrate explicitly with a rebuild). Disk cost
    is ``keep_generations`` copies of the group-cardinality-sized state —
    metadata-scale against the fact table.
    Returns ``{"applied": bool, "n_groups": int}``."""
    from cinegraph_spark.operators.serving_io import (
        _GENS_DIR,
        open_state,
        publish_dir,
    )

    if expected_base is not None and keep_generations is None:
        raise ValueError(
            "merge_agg_state: expected_base (optimistic-concurrency "
            "commit) requires keep_generations — only generation "
            "commits have the atomic token to arbitrate racing "
            "refreshers"
        )
    if n_col is not None:
        if n_col not in sums:
            raise ValueError(
                f"merge_agg_state: n_col {n_col!r} must be one of the "
                f"sum-class measures {sums} (counts ship as sums of "
                "partial counts)"
            )
        if maxs or mins or hll_regs:
            raise ValueError(
                "merge_agg_state: retractions (n_col) cannot be combined "
                "with maxs/mins/hll_regs — a retraction cannot lower a "
                "stored max/min and a sketch cannot forget a key without "
                "rescanning the group's base facts; recompute those "
                "views' touched groups instead"
            )
    declared = (
        set(keys)
        | set(sums)
        | set(maxs or [])
        | set(mins or [])
        | set(hll_regs or [])
        | set(hist_maps or [])
    )
    undeclared = sorted(set(delta_agg.columns) - declared)
    if undeclared:
        # groupBy(keys).agg(*measures) silently DROPS any delta column
        # not declared as a measure — after evolve_agg_state widened the
        # view, a merge whose sums list forgot the evolved column would
        # commit a view without it, permanently losing the measure and
        # its backfill while the evolution table still declares it (r15
        # review). Refuse by name instead.
        raise ValueError(
            f"merge_agg_state: delta column(s) {undeclared} are not "
            "declared in keys or any measure list — they would be "
            "silently dropped from the committed view; declare each "
            "measure (did an evolve_agg_state widen the view without "
            "the merge call gaining the new column?)"
        )
    # opening heals a crashed swap of a legacy root: treating its parked
    # state as "empty" would rebuild the view from this delta alone,
    # silently losing every prior batch
    try:
        state_dir = open_state(spark, path)
    except IOError:
        # generation directories exist but none carries a commit marker:
        # every prior versioned refresh crashed mid-populate. For the
        # WRITER the retry IS the fix (the reader-side IOError points
        # here); no state was ever committed, so this is still the first
        # refresh — but only a versioned retry may proceed (an
        # unversioned call on a versioned root is the mode slip below;
        # an unhealable legacy swap is no generation debris).
        if keep_generations is None or not _dir_exists(
            spark, path + "/" + _GENS_DIR
        ):
            raise
        state_dir = path
    versioned = state_dir != path
    if versioned and keep_generations is None:
        raise ValueError(
            f"merge_agg_state: the view at {path} is versioned "
            "(generations retained); refreshing it without "
            "keep_generations would sibling-swap the root and destroy "
            "every retained snapshot — pass keep_generations on every "
            "refresh of a versioned view"
        )
    agg_dir, ledger_dir = state_dir + "/agg", state_dir + "/applied"

    def _read_ledger():
        return {
            int(r["batch_id"])
            for r in spark.read.parquet(ledger_dir).collect()
        }

    if _dir_exists(spark, ledger_dir):
        applied = _read_ledger()
    elif versioned:
        # a COMMITTED generation must contain its ledger — a marker
        # without an applied table is corruption, never "fresh"
        raise IOError(
            f"merge_agg_state: committed generation at {state_dir} has "
            "no applied ledger — corrupt state; inspect the generation "
            "directory"
        )
    else:
        applied = None  # first refresh: no state yet
    if applied is not None and not versioned and keep_generations is not None:
        # the opposite mode slip: versioning an existing legacy view in
        # place would leave the stale root files shadowing the new _gens
        # (generation_swap_dir's own guard would refuse at write time,
        # but the replayed-batch no-op path below would silently skip it)
        raise ValueError(
            f"merge_agg_state: the view at {path} is a legacy "
            "(unversioned) state; versioning it in place would leave the "
            "stale root files shadowing the generations — rebuild the "
            "view with keep_generations set from its first refresh, or "
            "keep refreshing it unversioned"
        )
    if applied is not None and int(batch_id) in applied:
        # no state scan on the no-op path: a re-delivered stream replays
        # every batch, and paying a full state read per replayed batch
        # just to report a count would make replays O(state × batches)
        return {"applied": False, "n_groups": None}
    measures = (
        [F.sum(c).alias(c) for c in sums]
        + [F.max(c).alias(c) for c in (maxs or [])]
        + [F.min(c).alias(c) for c in (mins or [])]
        + [
            # element-wise max over the group's ≤2 register vectors
            # (state row ∪ delta row): fold the collected list with
            # zip_with+greatest — greatest skips the NULLs zip_with pads
            # with, so the empty-array zero is identity
            F.aggregate(
                F.collect_list(c),
                F.expr("cast(array() as array<int>)"),
                lambda acc, x: F.zip_with(
                    acc, x, lambda a, b: F.greatest(a, b)
                ),
            ).alias(c)
            for c in (hll_regs or [])
        ]
        + [
            # key-wise sum over the group's ≤2 sparse histograms; bins
            # summing to zero drop so the merged state equals a fresh
            # recompute's histogram (which never materializes empty bins)
            F.map_filter(
                F.aggregate(
                    F.collect_list(c),
                    F.expr("cast(map() as map<bigint,bigint>)"),
                    lambda acc, x: F.map_zip_with(
                        acc,
                        x,
                        lambda k, a, b: F.coalesce(a, F.lit(0))
                        + F.coalesce(b, F.lit(0)),
                    ),
                ),
                lambda k, v: v != 0,
            ).alias(c)
            for c in (hist_maps or [])
        ]
    )
    evo_dir = state_dir + "/evolution"
    evolution = None
    if applied is None:
        merged = delta_agg.groupBy(*keys).agg(*measures)
    else:
        old = spark.read.parquet(agg_dir)
        if set(old.columns) != set(delta_agg.columns):
            missing = sorted(set(old.columns) - set(delta_agg.columns))
            extra = sorted(set(delta_agg.columns) - set(old.columns))
            # a mixed-schema merge has no safe meaning: select(*old.
            # columns) would silently DROP a delta's new measure columns
            # (the widened view would under-count forever) and a delta
            # missing a stored measure would fail mid-plan with an
            # anonymous resolution error — refuse by name instead and
            # point at the evolution path (r14 verdict task 7)
            raise ValueError(
                "merge_agg_state: delta schema differs from the "
                f"persisted view at {path} (delta is missing "
                f"{missing or 'nothing'}, carries extra {extra or 'nothing'}"
                ") — widen the view first with evolve_agg_state, or fix "
                "the delta; a mixed-schema merge never commits"
            )
        if _dir_exists(spark, evo_dir):
            evolution = spark.read.parquet(evo_dir)
            epochs = [
                int(r["from_batch_id"]) for r in evolution.collect()
            ]
        else:
            evolution, epochs = None, []
        if epochs and int(batch_id) < max(epochs):
            # the evolved measure's epoch is a watermark: a NEVER-seen
            # batch below it predates the widened column's accounting
            # (its facts are not in the new measure), so merging it
            # would leave the view permanently under-counted relative
            # to the epoch contract — refuse; replays of pre-epoch
            # batches already no-op via the ledger above
            raise ValueError(
                f"merge_agg_state: batch {int(batch_id)} predates the "
                f"view's evolution epoch {max(epochs)} at {path}; facts "
                "older than the epoch are not represented in the "
                "evolved measure columns — recompute the view or "
                "re-evolve with an earlier-epoch backfill"
            )
        merged = (
            old.unionByName(delta_agg.select(*old.columns))
            .groupBy(*keys)
            .agg(*measures)
        )
    # lazy reads of the old state stay valid through the sibling write
    # (the swap renames only on context exit — serving_io documents this);
    # the checkpoint is purely an economy: count() below and the write
    # would otherwise each run the merge plan
    merged = merged.localCheckpoint(eager=True)
    # ONE aggregate over the checkpointed state covers the below-zero
    # guard, the fully-retracted count, and n_groups (r18 — the pre-merge
    # shape ran up to two separate count jobs per refresh, one per
    # micro-batch in the streaming MV sinks). The guard condition runs
    # whenever EITHER retractable measure class is present: histogram
    # bins are retractable on their own, so a hist_maps view without
    # n_col must still refuse a delta whose merged bins go negative —
    # map_filter only drops exact zeros, and a silently committed
    # negative bin corrupts the persisted view (r14 ADVICE).
    bad = F.col(n_col) < 0 if n_col is not None else F.lit(False)
    for c in hist_maps or []:
        # a retraction that subtracts a bin the view never absorbed
        # is the same corruption class as a below-zero row count
        bad = bad | F.exists(F.map_values(F.col(c)), lambda v: v < 0)
    counts = merged.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count_if(bad).alias("n_neg"),
        # count what the filter below DROPS (n != 0 also drops NULL n),
        # so the reported n_groups always matches the persisted group
        # count even if a delta ever carries a NULL n_col (r18 ADVICE)
        F.count_if(F.col(n_col).isNull() | (F.col(n_col) == 0)).alias(
            "n_zero"
        )
        if n_col is not None
        else F.lit(0).alias("n_zero"),
    ).first()
    if (n_col is not None or hist_maps) and int(counts["n_neg"]):
        # raise BEFORE any write: the live state is untouched and the
        # bad delta never commits (the ledger row would otherwise
        # make the corruption permanent — replays no-op)
        raise ValueError(
            f"merge_agg_state: {int(counts['n_neg'])} group(s) retracted "
            f"below zero ({n_col or 'n_col'} < 0, or a histogram bin "
            "went negative) — the delta retracts facts the view never "
            "absorbed (corrupt or double-shipped retraction); "
            "nothing was committed"
        )
    if n_col is not None:
        # fully-retracted groups leave the view, as a recompute would
        merged = merged.filter(F.col(n_col) != 0)
    n_groups = int(counts["n_all"]) - int(counts["n_zero"])
    from cinegraph_spark.session import local_df

    ledger = local_df(
        spark,
        [(int(b),) for b in sorted((applied or set()) | {int(batch_id)})],
        "batch_id long",
    )
    with publish_dir(spark, path, keep_generations, expected_base) as tmp:
        merged.write.parquet(tmp + "/agg")
        ledger.write.parquet(tmp + "/applied")
        if evolution is not None:
            # the evolution epochs are part of the view's identity: they
            # must survive every refresh swap or the epoch watermark
            # above would silently disarm after one merge (lazy read of
            # the old state stays valid through the sibling write)
            evolution.write.parquet(tmp + "/evolution")
    return {"applied": True, "n_groups": n_groups}


def read_agg_state(
    spark: SparkSession, path: str, generation: int | None = None
) -> DataFrame:
    """Read a :func:`merge_agg_state` view's aggregate table. For a
    versioned view (refreshed with ``keep_generations``), ``generation``
    pins a retained refresh — the rollback / time-travel read: "the view
    as of refresh N" is exactly generation N's aggregate, because every
    refresh commits the merged state and its ledger as one immutable
    generation directory that no later refresh touches. Default is the
    newest committed generation (or the root itself for a legacy
    unversioned view, where ``generation`` must be None); the state is
    opened with `serving_io.open_state`, which heals a legacy root's
    crashed swap."""
    from cinegraph_spark.operators.serving_io import open_state

    return spark.read.parquet(open_state(spark, path, generation) + "/agg")


def evolve_agg_state(
    spark: SparkSession,
    path: str,
    keys: list[str],
    from_batch_id: int,
    new_sums: dict[str, str] | None = None,
    backfill: DataFrame | None = None,
    keep_generations: int | None = None,
) -> dict:
    """SCHEMA EVOLUTION for a live :func:`merge_agg_state` view (r14
    verdict task 7): widen the persisted aggregate with new measure
    columns WITHOUT the full rebuild that adding a measure otherwise
    requires. ``new_sums`` maps column → DDL type (the retractable
    sum class). Existing groups start at the measure's additive
    identity (0) unless ``backfill`` — a frame of ``keys`` + any subset
    of the new columns, e.g. a one-off recompute over historical facts —
    provides values.

    ``from_batch_id`` is the EPOCH: the first batch id whose delta
    carries the new measures' real partials. It is recorded in the
    state's ``evolution`` table (swapped atomically with the aggregate
    and the ledger, and preserved by every later refresh), and two
    refusals enforce its meaning:

    - evolving with an epoch ≤ the newest applied batch refuses — those
      already-merged facts can never be represented in the new column,
      so the declared epoch would lie;
    - after evolution, :func:`merge_agg_state` refuses any NEVER-seen
      batch id below the newest epoch (replays of pre-epoch batches
      still no-op via the ledger) — the mixed-schema refusal catches
      deltas that were never widened at all.

    Readers interpret an evolved column as "this measure, accumulated
    from the epoch onward (plus any backfill)". Retractions of
    pre-epoch facts must ship ZERO for evolved measures — their
    contribution was never added; that is the caller's contract
    (negative sums are legitimate values). Single-writer
    contract as everywhere in this module.

    ``keep_generations``: for a view refreshed with generations, the
    widened state publishes as a NEW generation (the evolution is itself
    a rollback point) — pass it on every evolve of a versioned view, the
    same versioned-or-not-for-life rule as :func:`merge_agg_state`.
    Returns ``{"added": [...], "from_batch_id": N, "n_groups": int}``."""
    from cinegraph_spark.operators.serving_io import (
        _GENS_DIR,
        open_state,
        publish_dir,
    )

    new_sums = dict(new_sums or {})
    if not new_sums:
        raise ValueError("evolve_agg_state: nothing to add (new_sums is empty)")
    try:
        state_dir = open_state(spark, path)
    except IOError:
        # an unhealable legacy swap is no generation debris
        if not _dir_exists(spark, path + "/" + _GENS_DIR):
            raise
        # generation debris but no committed refresh: no live view exists
        raise ValueError(
            f"evolve_agg_state: no committed refresh exists at {path} — "
            "evolution widens a LIVE state; re-run the crashed first "
            "merge_agg_state refresh instead"
        )
    versioned = state_dir != path
    if versioned and keep_generations is None:
        raise ValueError(
            f"evolve_agg_state: the view at {path} is versioned; pass "
            "keep_generations on every evolve of a versioned view (the "
            "root swap would destroy every retained snapshot)"
        )
    agg_dir, ledger_dir, evo_dir = (
        state_dir + "/agg", state_dir + "/applied", state_dir + "/evolution",
    )
    if not _dir_exists(spark, ledger_dir):
        raise ValueError(
            f"evolve_agg_state: no view exists at {path} — evolution "
            "widens a LIVE state; create the view with its first "
            "merge_agg_state refresh instead"
        )
    if not versioned and keep_generations is not None:
        # checked only AFTER view existence: a nonexistent view must get
        # the no-view error above, not a claim that it is 'legacy'
        # (r15 review)
        raise ValueError(
            f"evolve_agg_state: the view at {path} is a legacy "
            "(unversioned) state; versioning it in place would leave "
            "the stale root files shadowing the generations — rebuild "
            "the view with keep_generations set from its first refresh"
        )
    applied = {
        int(r["batch_id"])
        for r in spark.read.parquet(ledger_dir).collect()
    }
    if applied and int(from_batch_id) <= max(applied):
        raise ValueError(
            f"evolve_agg_state: epoch {int(from_batch_id)} is not beyond "
            f"the newest applied batch {max(applied)} — batches already "
            "merged can never be represented in the new measure, so the "
            "declared epoch would lie; pick an epoch the ledger has not "
            "reached (or rebuild the view with a backfilled recompute)"
        )
    old = spark.read.parquet(agg_dir)
    clash = sorted(set(new_sums) & set(old.columns))
    if clash:
        raise ValueError(
            f"evolve_agg_state: column(s) {clash} already exist in the "
            f"view at {path}; evolution only ADDS measures"
        )
    defaults = {c: F.lit(0).cast(ddl) for c, ddl in new_sums.items()}
    widened = old
    if backfill is not None:
        back_cols = [c for c in backfill.columns if c not in keys]
        unknown_cols = sorted(set(back_cols) - set(defaults))
        if unknown_cols:
            raise ValueError(
                f"evolve_agg_state: backfill carries column(s) "
                f"{unknown_cols} that are not among the new measures"
            )
        # one pass covers both guards: unknown groups AND duplicate keys
        # (a duplicated backfill row would fan out the left join below,
        # and the next merge's groupBy would then SUM the duplicated old
        # measures — silently doubling the group forever; r15 review)
        stats = backfill.join(
            old.select(*keys).withColumn("_in_view", F.lit(1)),
            keys,
            "left",
        ).agg(
            F.count_if(F.col("_in_view").isNull()).alias("unknown"),
            (
                F.count(F.lit(1))
                - F.count_distinct(*[F.col(k) for k in keys])
            ).alias("dups"),
        ).first()
        if int(stats["unknown"]):
            raise ValueError(
                f"evolve_agg_state: {int(stats['unknown'])} backfill "
                "group(s) do not exist in the view — a backfill "
                "re-states history for LIVE groups only (a group with "
                "no facts has no row to widen); fix the backfill keys"
            )
        if int(stats["dups"]):
            raise ValueError(
                f"evolve_agg_state: {int(stats['dups'])} duplicate "
                "backfill key(s) — the join would fan out and the next "
                "merge would sum the duplicated rows, silently doubling "
                "those groups; dedup the backfill first"
            )
        widened = widened.join(F.broadcast(backfill), keys, "left")
        for c in back_cols:
            widened = widened.withColumn(
                c, F.coalesce(F.col(c), defaults[c])
            )
        for c in defaults:
            if c not in back_cols:
                widened = widened.withColumn(c, defaults[c])
    else:
        for c, d in defaults.items():
            widened = widened.withColumn(c, d)
    widened = widened.localCheckpoint(eager=True)
    n_groups = widened.count()
    evo_rows = [(c, "sum", int(from_batch_id)) for c in sorted(new_sums)]
    if _dir_exists(spark, evo_dir):
        prior = [
            (r["column"], r["measure_class"], int(r["from_batch_id"]))
            for r in spark.read.parquet(evo_dir).collect()
        ]
    else:
        prior = []
    from cinegraph_spark.session import local_df

    evolution = local_df(
        spark,
        prior + evo_rows,
        "column string, measure_class string, from_batch_id long",
    )
    ledger = local_df(
        spark, [(int(b),) for b in sorted(applied)], "batch_id long"
    )
    with publish_dir(spark, path, keep_generations) as tmp:
        widened.write.parquet(tmp + "/agg")
        ledger.write.parquet(tmp + "/applied")
        evolution.write.parquet(tmp + "/evolution")
    return {
        "added": sorted(defaults),
        "from_batch_id": int(from_batch_id),
        "n_groups": n_groups,
    }
