"""Shared serving-table IO: atomic sibling-swap writes.

A serving table (the HNSW blob table, the IVF centroids table) is live
state that query jobs read between maintenance runs. Spark's
``mode("overwrite")`` deletes the old table BEFORE the new one is
computed, so a driver/executor death mid-write destroys the index with
no recovery (r11 ADVICE on ``operators/hnsw.py``). Every maintenance
write therefore goes through :func:`atomic_swap_write` instead, and
every reader and maintainer opens the state through :func:`open_state`,
which resolves its generation and heals a crashed swap.

Retention contract for pinned readers (r18): a reader that resolved
generation g is guaranteed g's files only while g stays retained; a
reader that must outlive the retention window declares itself with
:func:`pin_generation`, which BOTH pruning paths (commit-time ``keep``
prune and :func:`vacuum_generations`) honor — an unpinned straggler
that loses g to retention gets a mid-scan FileNotFound (the standard
lakehouse VACUUM hazard, documented, never silent wrong rows), and a
crashed reader's stale pin ages out on the vacuum's storage clock.
"""

from __future__ import annotations

import re
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: sibling-name contract, in ONE place: <name>__old__/<name>__swap__ plus
#: a 12-hex token (matches atomic_swap_dir's uuid prefix)
_SIBLING_RE = r"__(old|swap)__([0-9a-f]{12})$"

#: zero-byte marker :func:`atomic_swap_dir` drops into the sibling AFTER
#: the caller's writes complete and BEFORE any rename — the only proof
#: that a parked ``__swap__`` is a durably-complete state rather than a
#: partial failed write (r13 ADVICE: the lone-``__swap__`` recovery path
#: could previously promote a half-written first save to the live path).
#: Leading underscore ⇒ Spark's parquet reader ignores it, like _SUCCESS.
_COMPLETE_MARKER = "_SWAP_COMPLETE"


def _parked_siblings(spark, path: str) -> dict[str, dict[str, str]]:
    """token -> {kind: full_path} for every __old__/__swap__ sibling of
    ``path`` — the single scanner behind the pre-swap sweep and
    :func:`recover_swap`."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    base = jpath(path.rstrip("/"))
    pat = re.compile(re.escape(base.getName()) + _SIBLING_RE)
    parked: dict[str, dict[str, str]] = {}
    parent = base.getParent()
    if parent is not None and fs.exists(parent):
        for st in fs.listStatus(parent):
            m = pat.match(st.getPath().getName())
            if m:
                parked.setdefault(m.group(2), {})[m.group(1)] = str(
                    st.getPath().toString()
                )
    return parked


@contextmanager
def atomic_swap_dir(spark, path: str):
    """Yield a unique sibling directory to populate (one or several
    sub-tables); on clean exit, swap it into ``path``. The multi-table
    form of :func:`atomic_swap_write` — a serving state made of several
    parquet tables (e.g. PQ codebooks + codes) must flip as ONE unit, or
    a crash between the two writes leaves a books/codes mismatch.

    Swap order (r12 review): move the old state ASIDE (one rename), move
    the new state IN (one rename), then delete the aside copy — never
    delete-then-rename, which would hold ``path`` nonexistent for the
    whole recursive delete of a potentially large table. The remaining
    window where ``path`` does not exist is the instant between the two
    renames (pure directory metadata); a reader landing exactly there
    sees path-not-found and should retry, and a crash there leaves BOTH
    copies on disk (``__old__`` aside + ``__swap__`` sibling) for manual
    recovery — nothing is ever lost mid-maintenance. A lakehouse
    deployment would flip a table-format version pointer and have no
    window at all. On an exception inside the block, ``path`` is left
    untouched (the partial sibling remains for inspection) and the
    exception propagates."""
    import uuid

    token = uuid.uuid4().hex[:12]
    tmp = path.rstrip("/") + "__swap__" + token
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    dest = jpath(path)
    fs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    # sweep SUPERSEDED aside copies before starting: a crash in the
    # post-swap window (new state live, aside not yet deleted) leaves an
    # orphan __old__ that nothing else cleans — a silent full-table disk
    # leak, and a stale token that would later make recover_swap's
    # ambiguity check misfire. Safe under the single-writer contract:
    # while ``path`` exists, every parked __old__ is by construction the
    # state some completed swap replaced. Orphan __swap__ siblings are
    # kept — they are failed write attempts documented as inspection
    # material.
    # mode-slip guard (r15 review): a root that carries a _gens container
    # is a VERSIONED state — swapping the root itself would delete every
    # retained generation (the rollback snapshots) in one call. The only
    # legitimate swap under a versioned root is of a generation
    # directory, which never contains _gens itself.
    if fs.exists(jpath(path.rstrip("/") + "/" + _GENS_DIR)):
        raise ValueError(
            f"atomic_swap_dir: {path} is a versioned state root (it has "
            f"a {_GENS_DIR} container with retained generations); "
            "replacing it wholesale would destroy every rollback "
            "snapshot — save with keep_generations instead, or vacuum "
            "the generations explicitly first"
        )
    if fs.exists(dest):
        for copies in _parked_siblings(spark, path).values():
            if "old" in copies:
                fs.delete(jpath(copies["old"]), True)
    yield tmp
    src = jpath(tmp)
    # completion marker: written only after the caller's block finished,
    # so a parked __swap__ WITH the marker is provably a complete state
    # (recover_swap's restore precondition) and one WITHOUT it is a
    # partial failed write kept for inspection only
    fs.create(jpath(tmp.rstrip("/") + "/" + _COMPLETE_MARKER), True).close()
    if _is_generation_dir(path):
        # swapping a GENERATION directory (the in-place maintenance shape
        # on a versioned root: centroid update, reshard, vacuous-index
        # degrades) must preserve its committed status — the marker goes
        # into the sibling BEFORE any rename, so no crash window can
        # leave the current generation invisible to resolve_generation
        # (r15 review: the update previously swapped the marker away and
        # readers silently fell back to the STALE previous generation)
        fs.create(jpath(tmp.rstrip("/") + "/" + _GEN_COMMITTED), True).close()
    aside = jpath(path.rstrip("/") + "__old__" + token)
    had_old = fs.exists(dest)
    if had_old and not fs.rename(dest, aside):
        raise IOError(
            f"atomic swap could not move the old state aside "
            f"({path} -> {aside}); nothing was changed and the freshly "
            f"written state is intact at {tmp}"
        )
    _swap_in_new(fs, src, dest, tmp, path, str(aside))
    if had_old:
        fs.delete(aside, True)


def _swap_in_new(fs, src, dest, tmp: str, path: str, aside: str) -> None:
    """Second rename of the swap, race-aware. With :func:`open_state` on
    every serving READ path, a reader landing in the writer's
    between-renames window may run :func:`recover_swap` and complete the
    swap on the writer's behalf (the completion marker is already in the
    sibling at that point, so the restore is legitimate). The writer's
    own rename then fails with the goal state live and correct — that
    must read as success, mirroring recover_swap's
    ``_rename_or_detect_race``, instead of failing a swap that in fact
    committed (r14 ADVICE: race handling was asymmetric). The recoverer
    also clears the aside copy; the caller's aside delete is a no-op
    then."""
    if fs.rename(src, dest):
        return
    if fs.exists(dest) and not fs.exists(src):
        return  # a recoverer won the race; the new state is live
    raise IOError(
        f"atomic swap rename {tmp} -> {path} failed; the old "
        f"state is intact at {aside} and the freshly written "
        f"state at {tmp} for manual recovery"
    )


def publish_dir(
    spark,
    path: str,
    keep_generations: int | None,
    expected_base: int | None = None,
):
    """The publish target of a full state save: :func:`atomic_swap_dir`
    over ``path``, or with ``keep_generations`` a new numbered generation
    under it (:func:`generation_swap_dir`, ``expected_base`` passed
    through for optimistic-concurrency commits). Returns the context
    manager; the block populates the yielded directory."""
    if keep_generations is None:
        return atomic_swap_dir(spark, path)
    return generation_swap_dir(
        spark, path, keep=keep_generations, expected_base=expected_base
    )


def atomic_swap_write(df: DataFrame, path: str) -> None:
    """Durably write ``df`` to a unique sibling directory, then swap it
    into ``path`` (old renamed aside, new renamed in, aside deleted —
    see :func:`atomic_swap_dir` for the exact window and crash
    recovery). The new table is fully on storage before the old
    directory is touched, so no crash can LOSE state — but a crash
    between the two renames leaves ``path`` itself empty (both copies
    parked under ``__old__``/``__swap__`` sibling names) until
    :func:`recover_swap` or a manual rename restores the live path
    (r12 ADVICE: the previous docstring overstated this as "no crash
    can destroy the live state"). Uses the Hadoop FileSystem of
    ``path`` so the same code serves file://, HDFS, and rename-capable
    object stores; a lakehouse deployment would flip a table-format
    version pointer instead.

    Reading ``path`` lazily inside ``df`` is safe: the old files persist
    until after the sibling write completes (this is what lets
    maintenance paths union carried-over rows with rebuilt ones without
    a checkpoint)."""
    with atomic_swap_dir(df.sparkSession, path) as tmp:
        df.write.parquet(tmp)


def open_state(spark, path: str, generation: int | None = None) -> str:
    """Open a serving state root: the ONE path every reader and
    maintainer takes to the directory it plans against.

    - A versioned root (saved with ``keep_generations``) resolves to the
      pinned ``generation`` or the newest committed one
      (:func:`resolve_generation`). A generation directory is never
      renamed, so it has no swap window to heal, and a plan built
      against it survives any number of later saves.
    - An unversioned root is returned as is, after the read-path heal:
      a between-renames crash window (live path missing, committed state
      parked under sibling names) is restored by :func:`recover_swap`,
      so serving heals on the next query instead of staying down until a
      maintenance run or a human intervenes. The steady-state cost is one
      ``fs.exists``. A missing path with no parked copies is not an
      error here; the caller's own read raises its usual path-not-found.
      The heal rides the swap's single-writer contract: a reader that
      lands exactly inside a LIVE writer's two-rename window may perform
      the second rename on the writer's behalf — the writer's own rename
      then fails with the state already live and intact, which the
      swap's error text documents as recoverable-by-inspection.

    Raises what :func:`resolve_generation` raises: ``ValueError`` for a
    ``generation`` that is not retained (or given for an unversioned
    root), ``IOError`` for generation directories none of which is
    committed."""
    resolved = resolve_generation(spark, path, generation)
    if resolved is not None:
        return resolved
    recover_swap(spark, path)
    return path


def recover_swap(spark, path: str) -> dict:
    """Repair the between-renames crash window of :func:`atomic_swap_dir`:
    if ``path`` is missing but parked sibling copies exist, restore a live
    table — preferring the freshly written ``__swap__`` copy (it was
    durably complete before the old state was touched; that ordering is
    the whole point of the sibling swap) and falling back to the
    ``__old__`` aside copy. Deliberately conservative: if ``path``
    exists, this touches NOTHING (an orphan ``__swap__`` next to a live
    table is a failed write attempt that :func:`atomic_swap_dir`
    documents as kept for inspection), a lone ``__swap__`` with no
    ``__old__`` partner is restored only when it carries the
    :data:`_COMPLETE_MARKER` (without it, a crashed FIRST write is
    indistinguishable from a partial failed write — raise for a human;
    r13 ADVICE), and more than one parked token — two interleaved
    crashed swaps, no well-defined winner — raises for manual
    intervention. Concurrent recoverers (every serving read path calls
    :func:`open_state`) may race the restore rename; the loser detects
    the goal state holding and reports ``restored_by_race`` instead of
    failing the query. Returns ``{"action": "none" | "restored_new" |
    "restored_old" | "restored_by_race", "token": ...}``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    dest = jpath(path)
    fs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dest):
        return {"action": "none", "token": None}
    parked = _parked_siblings(spark, path)
    if not parked:
        return {"action": "none", "token": None}
    if len(parked) > 1:
        # multiple tokens: only a token with BOTH copies is provably a
        # between-renames crash (the old state was moved aside, which
        # only happens after the sibling write completed) — a LONE
        # __swap__ may be a partial failed write and a lone __old__ an
        # earlier swap's undeleted aside, neither provably current. A
        # unique pair therefore wins; anything else needs a human.
        pairs = {
            t: c for t, c in parked.items() if "swap" in c and "old" in c
        }
        if len(pairs) == 1:
            parked = pairs
        else:
            raise IOError(
                f"recover_swap: {len(parked)} distinct crashed-swap "
                f"tokens parked next to {path} ({sorted(parked)}), "
                f"{len(pairs)} of them complete __old__+__swap__ pairs; "
                "no well-defined winner — recover manually"
            )
    token, copies = next(iter(parked.items()))
    kind = "swap" if "swap" in copies else "old"

    def _rename_or_detect_race(src: str) -> bool:
        """True if we restored; False if another recoverer beat us to it.
        With open_state on every serving READ path, concurrent readers
        of a crashed table legitimately race this rename — the loser's
        rename fails with the goal state already holding, which must
        read as healed, not as an error (r14 review)."""
        if fs.rename(jpath(src), dest):
            return True
        if fs.exists(dest):
            return False
        raise IOError(f"recover_swap: rename {src} -> {path} failed")

    if kind == "swap" and "old" not in copies:
        # lone __swap__, no aside partner: either a complete FIRST write
        # that crashed before its single rename, or a partial failed
        # write (the pair-skepticism of the multi-token branch, applied
        # here). Only the completion marker — written after the caller's
        # block finished — proves the former; never promote an unproven
        # copy to the live path.
        marker = jpath(copies["swap"].rstrip("/") + "/" + _COMPLETE_MARKER)
        if not fs.exists(marker):
            raise IOError(
                f"recover_swap: lone parked copy {copies['swap']} has no "
                f"{_COMPLETE_MARKER} marker — it may be a partial failed "
                "write, not a provably complete state; recover manually"
            )
    if not _rename_or_detect_race(copies[kind]):
        # goal state holds (the race winner also clears the aside copy)
        return {"action": "restored_by_race", "token": token}
    if kind == "swap" and "old" in copies:
        fs.delete(jpath(copies["old"]), True)
    return {
        "action": "restored_new" if kind == "swap" else "restored_old",
        "token": token,
    }


def vacuum_parked_siblings(
    spark, path: str, older_than_hours: float = 24.0, dry_run: bool = False
) -> dict:
    """Age-bounded retention cleanup for a swap-maintained serving table
    (r13 verdict task 7): delete parked ``__swap__``/``__old__`` siblings
    older than ``older_than_hours``. :func:`atomic_swap_dir` keeps failed
    write attempts next to the live table as inspection material and only
    sweeps SUPERSEDED aside copies, so on a busy writer inspected-and-
    forgotten debris otherwise accumulates forever — each piece a full
    table copy of disk.

    Safety rules, in order:

    - If ``path`` itself is missing, this touches NOTHING and raises:
      every parked copy is then potential recovery material for the
      crash window — run :func:`recover_swap` first. Vacuum only ever
      removes siblings of a LIVE table, which by the swap's ordering are
      failed/uncommitted attempts (lone ``__swap__`` without its rename)
      or already-superseded asides — never the only copy of state.
    - Age is the NEWEST modification time found in the sibling — the
      directory's own mtime or any file under it, whichever is later —
      so a write still in flight (young files) is never swept out from
      under its writer, and object stores whose "directories" carry a
      synthetic zero mtime (S3A) still age by their files' real
      timestamps. Pick a retention comfortably above the longest
      maintenance write.
    - ``dry_run`` lists without deleting.

    Returns ``{"deleted": [...], "kept": [...]}`` (full paths). The same
    single-writer contract as the swap applies: don't vacuum
    concurrently with a maintenance write whose sibling is older than
    the retention (only plausible with a retention shorter than a
    write's duration)."""
    import time

    jpath = spark._jvm.org.apache.hadoop.fs.Path
    dest = jpath(path)
    fs = dest.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(dest):
        raise IOError(
            f"vacuum_parked_siblings: live path {path} is missing — parked "
            "siblings may be the crash-window recovery material; run "
            "recover_swap first"
        )
    # derive "now" from the STORAGE clock, not the driver's: sibling
    # mtimes are stamped by the filesystem, and on HDFS/object stores a
    # skewed driver clock could mis-age a young in-flight sibling into a
    # short retention window (r14 ADVICE). A just-written probe file's
    # mtime is that same storage clock; fall back to the driver clock
    # only if the probe cannot be written (read-only mount).
    probe = jpath(path.rstrip("/") + "__vacuum_probe__")
    try:
        fs.create(probe, True).close()
        now_ms = float(fs.getFileStatus(probe).getModificationTime())
        fs.delete(probe, False)
    except Exception:
        now_ms = time.time() * 1000.0
    cutoff_ms = now_ms - older_than_hours * 3600.0 * 1000.0
    deleted: list[str] = []
    kept: list[str] = []

    def newest_mtime_ms(p: str) -> float:
        newest = fs.getFileStatus(jpath(p)).getModificationTime()
        it = fs.listFiles(jpath(p), True)
        while it.hasNext():
            newest = max(newest, it.next().getModificationTime())
        return newest

    for copies in _parked_siblings(spark, path).values():
        for p in copies.values():
            if newest_mtime_ms(p) < cutoff_ms:
                if not dry_run:
                    fs.delete(jpath(p), True)
                deleted.append(p)
            else:
                kept.append(p)
    return {"deleted": sorted(deleted), "kept": sorted(kept)}


# ---------------------------------------------------------------------------
# Versioned serving generations (r14 verdict task 4)
# ---------------------------------------------------------------------------

#: generation directory container under a versioned state root; the
#: leading underscore keeps Spark's parquet reader from treating it as
#: data when someone points a plain read at the root by mistake
_GENS_DIR = "_gens"

#: zero-byte commit marker inside a generation directory — a generation
#: EXISTS the instant this file does, never before. Commit-by-marker is
#: what removes the sibling swap's between-renames window entirely at
#: this layer: nothing is ever renamed, so a reader that resolved a
#: generation keeps a stable directory for its whole query, across any
#: number of later saves (the "reader pins a generation across a swap"
#: contract the sibling swap could not give).
_GEN_COMMITTED = "_GEN_COMMITTED"

#: informational manifest at the root: current generation + retained
#: list. Resolution NEVER trusts it (a crash between the commit marker
#: and this write would leave it one save stale); the listing of
#: committed generation directories is the single source of truth and
#: costs one listStatus. The manifest exists for humans and external
#: tooling.
GEN_MANIFEST = "_MANIFEST.json"

_GEN_RE = re.compile(r"^g(\d{8})$")

#: OCC transition tokens (optimistic concurrency, r15): `_TXN_NNNNNNNN`
#: under ``root/_gens`` claims the transition base→base+1. Claimed via
#: :func:`_exclusive_create` — a TRUE atomic arbiter on HDFS-class
#: filesystems (``fs.create(..., overwrite=False)``) and on ``file:``
#: roots (OS-level ``O_CREAT|O_EXCL``, r16 — Hadoop's LocalFileSystem
#: implements overwrite=False as a non-atomic exists-then-create, and a
#: four-thread thundering herd in tests/test_occ_commit.py demonstrated
#: same-base double-claims through it). S3A-class object stores have no
#: exclusive create at all (they need conditional puts this token
#: protocol does not issue): there two same-base racers could in
#: principle BOTH claim; the post-claim newest-committed re-check
#: narrows but does not fully close that window (r15 ADVICE). OCC mode
#: warns once per scheme on those stores —
#: see :data:`_NON_ATOMIC_CREATE_SCHEMES`.
_TXN_RE = re.compile(r"^_TXN_(\d{8})$")

#: Filesystem schemes whose exclusive create is known NOT to be atomic
#: even through :func:`_exclusive_create`: the S3 connectors translate
#: ``create(overwrite=False)`` to a HEAD-then-PUT without a conditional
#: header. ``expected_base=`` commits on these schemes keep the
#: narrowed (re-check) window, not a closed one;
#: :func:`generation_swap_dir` warns once per scheme. ``file:`` roots
#: were in this set until r16 — they now claim via ``O_CREAT|O_EXCL``,
#: which is atomic.
_NON_ATOMIC_CREATE_SCHEMES = frozenset({"s3", "s3a", "s3n"})

#: schemes already warned about in this process (warn once, not per
#: commit — OCC retry loops would otherwise spam)
_warned_occ_schemes: set[str] = set()


def _txn_name(n: int) -> str:
    return f"_TXN_{n:08d}"


#: exclusive-allocation claim files under ``root/_gens``: ``_ALLOC_gN``
#: claims generation number N via an atomic create, so concurrent
#: writers can never stage into one directory. The claim lives BESIDE
#: the directory (not inside it) because the parquet write that
#: populates the directory runs in error-if-exists mode — a pre-created
#: directory would fail every save. Dead claims (≤ newest committed)
#: sweep with the transaction tokens.
_ALLOC_RE = re.compile(r"^_ALLOC_(g\d{8})$")


def _alloc_name(dirname: str) -> str:
    return f"_ALLOC_{dirname}"


def _is_already_exists(exc: Exception) -> bool:
    """True when a Hadoop create(…, overwrite=False) failed because the
    path already exists — the ONLY failure that means another writer
    holds the claim. Any other error (transient IO, permissions) must
    propagate, not masquerade as a lost race (r15 review). The match
    walks the Java CAUSE-CHAIN CLASS NAMES, never the rendered stack
    trace — an unrelated failure whose trace happens to contain
    'already exists' somewhere must not be swallowed."""
    jc = getattr(exc, "java_exception", None)
    if jc is not None:
        hops = 0
        while jc is not None and hops < 8:
            if "AlreadyExists" in jc.getClass().getName():
                return True
            jc = jc.getCause() if hasattr(jc, "getCause") else None
            hops += 1
        return False
    first = str(exc).splitlines()[0] if str(exc) else ""
    return (
        "AlreadyExists" in type(exc).__name__
        or "already exists" in first.lower()
    )


def _exclusive_create(fs, jpath, full_path: str) -> bool:
    """Atomically create a zero-byte claim file; return True if THIS
    caller created it, False if it already existed (a racer holds the
    claim). Any other failure propagates.

    The dispatch is what makes the claim a real arbiter per filesystem:

    - ``file:`` — Hadoop's RawLocalFileSystem implements
      ``create(overwrite=False)`` as a non-atomic exists-then-create;
      under a same-base thundering herd two writers routinely BOTH pass
      it (caught by the threaded OCC test, r16). Local roots therefore
      claim with the OS's ``O_CREAT|O_EXCL`` open, which the kernel
      makes atomic.
    - everything else — the Hadoop create; atomic on HDFS-class stores,
      best-effort on S3-class ones (:data:`_NON_ATOMIC_CREATE_SCHEMES`).
    """
    import os

    scheme = (fs.getUri().getScheme() or "").lower()
    if scheme == "file":
        # resolve the local path with real URI parsing: naive prefix-
        # stripping mangles 'file://localhost/tmp/x' into
        # '/localhost/tmp/x' and leaves percent-encoding undecoded, so
        # the O_EXCL claim would land at a path other spellings of the
        # same root never see (r16 ADVICE). urlparse drops the authority
        # and unquote decodes — the authority-free local path Hadoop's
        # own Path.toUri().getPath() would return.
        if ":" in full_path.split("/", 1)[0]:
            from urllib.parse import unquote, urlparse

            local = unquote(urlparse(full_path).path)
        else:
            local = full_path
        # the Hadoop create makes parents implicitly; mirror that
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            os.close(
                os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            )
        except FileExistsError:
            return False
        return True
    try:
        fs.create(jpath(full_path), False).close()
    except Exception as e:
        if _is_already_exists(e):
            return False
        raise
    return True


class GenerationConflictError(RuntimeError):
    """Another writer committed a generation after the base this writer
    computed from — the optimistic-concurrency conflict. The state on
    disk is the OTHER writer's (intact); the loser's work was discarded.
    Recover by re-reading :func:`current_generation`, recomputing the
    update against it, and committing with the new ``expected_base``.

    Detection is exact on filesystems with an atomic exclusive create:
    HDFS-class stores, and ``file:`` roots (claimed via the kernel's
    ``O_CREAT|O_EXCL``, r16). On :data:`_NON_ATOMIC_CREATE_SCHEMES`
    (S3A-class stores) the claim degrades to exists-then-create, so two
    same-base racers whose windows interleave tightly enough may BOTH
    miss this error — a documented residual lost-update window, warned
    about at commit time (see :func:`generation_swap_dir`)."""


def current_generation(spark, root: str) -> int:
    """Newest committed generation number of a versioned state root, or
    0 when none exists yet (fresh root / no ``_gens``) — the base an
    optimistic writer records before computing, then passes as
    ``expected_base``."""
    fs, jpath = _gens_fs(spark, root)
    gens = _list_gen_dirs(fs, jpath, root, spark)
    return max((n for n, (_, ok) in gens.items() if ok), default=0)


def _gen_dirname(n: int) -> str:
    return f"g{n:08d}"


def _is_generation_dir(path: str) -> bool:
    """True when ``path`` is a generation directory (…/_gens/gNNNNNNNN) —
    the shape whose atomic swap must carry the commit marker through."""
    parts = path.rstrip("/").rsplit("/", 2)
    return (
        len(parts) == 3
        and parts[1] == _GENS_DIR
        and _GEN_RE.match(parts[2]) is not None
    )


def _gens_fs(spark, root: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


_GEN_SIBLING_RE = re.compile(r"^(g\d{8})__(old|swap)__[0-9a-f]{12}$")


def _list_gen_dirs(
    fs, jpath, root: str, spark=None
) -> dict[int, tuple[str, bool]]:
    """generation number -> (dir path, committed?) for every gNNNNNNNN
    directory under ``root/_gens`` (committed or debris). With ``spark``,
    also HEALS a crashed in-place generation swap first: an IVF-update /
    reshard swap of a generation directory that died between its renames
    leaves the generation parked under ``gNNNNNNNN__old__/__swap__``
    siblings and the directory itself missing — without recovery,
    resolution would silently fall back to the STALE previous generation
    (r15 review). The swap writes both the completion marker AND the
    commit marker into the sibling before any rename, so the recovered
    copy resolves as committed."""
    gens = jpath(root.rstrip("/") + "/" + _GENS_DIR)
    # "not versioned" is answered by fs.exists, which does not throw: a
    # listStatus of the missing directory answers it with a
    # FileNotFoundException that py4j carries to Python and pyspark
    # converts, ~100x the cost of the probe, and most states a serving
    # pass opens are unversioned. Every other error (permissions,
    # transport) still raises, from either call.
    if not fs.exists(gens):
        return {}
    statuses = list(fs.listStatus(gens))
    if spark is not None:
        crashed = set()
        present = set()
        for st in statuses:
            name = st.getPath().getName()
            if _GEN_RE.match(name):
                present.add(name)
            else:
                m = _GEN_SIBLING_RE.match(name)
                if m:
                    crashed.add(m.group(1))
        if crashed - present:
            for name in sorted(crashed - present):
                recover_swap(
                    spark, root.rstrip("/") + "/" + _GENS_DIR + "/" + name
                )
            statuses = list(fs.listStatus(gens))  # re-list after healing
    # ONE globStatus answers "which generations carry a commit marker"
    # instead of one fs.exists per generation (r19): k+2 round trips → 2
    marker_glob = fs.globStatus(
        jpath(
            root.rstrip("/")
            + "/"
            + _GENS_DIR
            + "/g[0-9]*/"
            + _GEN_COMMITTED
        )
    )
    committed_names = {
        str(st.getPath().getParent().getName())
        for st in (marker_glob if marker_glob is not None else [])
    }
    out: dict[int, tuple[str, bool]] = {}
    for st in statuses:
        name = st.getPath().getName()
        m = _GEN_RE.match(name)
        if m and st.isDirectory():
            p = str(st.getPath().toString())
            out[int(m.group(1))] = (p, name in committed_names)
    return out


def list_generations(spark, root: str) -> dict[int, str]:
    """Committed generation number -> directory, for a versioned state
    root. Empty when ``root`` is not versioned (no ``_gens``)."""
    fs, jpath = _gens_fs(spark, root)
    return {
        n: p
        for n, (p, committed) in _list_gen_dirs(
            fs, jpath, root, spark
        ).items()
        if committed
    }


def resolve_generation(spark, root: str, version: int | None = None):
    """Map a versioned state root to the concrete generation directory a
    reader should plan against: the newest committed generation, or the
    pinned ``version``. Returns ``None`` when ``root`` carries no
    ``_gens`` container — the caller's legacy single-directory layout
    (then ``version`` must also be None: pinning a version on a state
    that never kept any is a caller bug worth a loud error, not a silent
    fallback to "current")."""
    fs, jpath = _gens_fs(spark, root)
    gens = _list_gen_dirs(fs, jpath, root, spark)
    if not gens:
        if version is not None:
            raise ValueError(
                f"resolve_generation: {root} is not a versioned state "
                "(no _gens directory) — version-pinned reads need a "
                "save with keep_generations set"
            )
        return None
    committed = {n: p for n, (p, ok) in gens.items() if ok}
    if not committed:
        raise IOError(
            f"resolve_generation: {root} has generation directories but "
            "none carries a commit marker — every save crashed before "
            "completing; re-run the save (debris is kept for inspection)"
        )
    if version is None:
        return committed[max(committed)]
    if int(version) not in committed:
        raise ValueError(
            f"resolve_generation: generation {version} is not retained "
            f"at {root}; retained: {sorted(committed)} (older "
            "generations are pruned by the save's keep_generations "
            "retention)"
        )
    return committed[int(version)]


#: reader-pin marker beside the generation directories:
#: ``_PIN_<gNNNNNNNN>_<12-hex token>``. One marker per pinned reader —
#: tokens keep concurrent readers of the same generation independent.
_PIN_RE = re.compile(r"^_PIN_(g\d{8})_([0-9a-f]{12})$")


def _live_pins(fs, jpath, gens_root: str, cutoff_ms=None) -> set:
    """Generation dirnames carrying a reader pin. With ``cutoff_ms``
    (storage clock, vacuum's aging rule) a pin older than the cutoff is a
    crashed reader's leftover and does NOT count as live."""
    pins = set()
    gj = jpath(gens_root)
    if not fs.exists(gj):
        return pins
    for st in fs.listStatus(gj):
        m = _PIN_RE.match(st.getPath().getName())
        if m and (
            cutoff_ms is None
            or float(st.getModificationTime()) >= cutoff_ms
        ):
            pins.add(m.group(1))
    return pins


@contextmanager
def pin_generation(spark, root: str, version: int | None = None):
    """Resolve a generation for a long-running reader and PIN it against
    retention for the duration of the block (r18, VERDICT r17 task 6).

    The retention contract without a pin: a reader that resolved
    generation g keeps a stable directory only while g stays inside the
    save's ``keep_generations`` window — if maintenance commits enough
    newer generations (or ``vacuum_generations`` runs) while the query is
    still executing, g's files are deleted under it and the scan fails
    with a mid-read FileNotFound. That is the standard lakehouse
    VACUUM-vs-straggler hazard; this context manager closes it for
    readers that declare themselves: it drops a ``_PIN_<gen>_<token>``
    marker beside the generation directories, and BOTH pruning paths
    (the commit-time ``keep`` prune and :func:`vacuum_generations`)
    refuse to delete a pinned committed generation. The marker is one
    zero-byte file per reader — no coordination, scales to any number of
    concurrent readers. A reader that crashes without releasing leaves a
    stale pin; commit-time pruning honors it unconditionally (commits
    have no clock), and ``vacuum_generations`` ages it out by the same
    ``older_than_hours`` storage clock as other debris — so pick the
    vacuum retention longer than the longest legitimate query, exactly
    the rule the generation_swap_dir docstring already states for
    unpinned readers. Yields the pinned generation DIRECTORY (plan reads
    against it); requires a versioned root (legacy single-directory
    layouts have no retention to pin against — loud error, matching
    resolve_generation's version-on-legacy rule)."""
    import uuid

    gen_dir = resolve_generation(spark, root, version)
    if gen_dir is None:
        raise ValueError(
            f"pin_generation: {root} is not a versioned state (no _gens "
            "container) — pinning needs a save with keep_generations set"
        )
    fs, jpath = _gens_fs(spark, root)
    gens_root = root.rstrip("/") + "/" + _GENS_DIR
    gname = gen_dir.rstrip("/").rsplit("/", 1)[-1]
    marker = gens_root + "/_PIN_" + gname + "_" + uuid.uuid4().hex[:12]
    fs.create(jpath(marker), True).close()
    try:
        yield gen_dir
    finally:
        try:
            fs.delete(jpath(marker), False)
        except Exception:
            pass  # stale pin ages out via vacuum_generations


@contextmanager
def generation_swap_dir(
    spark, root: str, keep: int = 2, expected_base: int | None = None
):
    """Versioned counterpart of :func:`atomic_swap_dir`: yield a brand-new
    generation directory to populate; on clean exit drop the commit
    marker (the atomic publish — a single small-file create, no renames),
    refresh the root manifest, and prune committed generations beyond the
    newest ``keep``.

    ``expected_base`` (r15) turns the commit into an OPTIMISTIC-
    CONCURRENCY compare-and-swap — the lakehouse commit protocol that
    relaxes this module's one-writer contract to "concurrent writers
    race safely; losers retry". The writer records
    :func:`current_generation` before computing, passes it here, and the
    commit then (1) claims the transition token ``_TXN_<base+1>`` via
    :func:`_exclusive_create` — atomic on HDFS-class filesystems AND on
    ``file:`` roots (OS-level ``O_CREAT|O_EXCL``, r16), so exactly ONE
    of two same-base writers wins — and (2) verifies the newest
    committed generation still equals the base (which catches non-OCC
    writers and any commit the token cannot see). On filesystems with
    no atomic exclusive create at all (S3A-class object stores —
    :data:`_NON_ATOMIC_CREATE_SCHEMES`) the arbiter degrades to
    best-effort: the step-(2) re-check catches every race that has
    already committed, but two same-base racers whose claim AND commit
    windows interleave could in principle both pass — a residual
    lost-update window this protocol cannot close without store-side
    conditional puts. OCC mode warns once per scheme on those stores;
    on a real deployment put the generation root on HDFS (or a store
    with conditional-put semantics wired into the Hadoop create path).

    When either claim-and-verify step fails — the step-(1) token claim
    loses, or the step-(2) base re-check sees a newer committed
    generation — the populated directory is deleted
    (it was computed from a stale base — known-stale work, not
    inspection material; the winner's state is untouched) and
    :class:`GenerationConflictError` asks the caller to recompute
    against the new current. Tokens at or below the newest committed
    generation are swept opportunistically on each successful OCC
    commit; a claimant that crashed between claim and commit leaves its
    token blocking same-base OCC commits until
    :func:`vacuum_generations`'s storage-clock age sweep clears it —
    the standard lease-less-lock trade-off, bounded by the vacuum
    cadence.

    What this buys over the sibling swap, and what it costs:

    - No crash window at all: the live state is never renamed or deleted
      on the publish path, so there is nothing for :func:`open_state` to
      heal — a crash mid-populate just leaves an uncommitted directory
      (inspection material, same policy as the swap's orphan
      ``__swap__``), invisible to every reader.
    - Reader pinning for free: a reader that resolved generation N plans
      and executes against a directory whose files no later save will
      touch, for as long as N stays inside the retention. Under the
      sibling swap, a reader overlapping a maintenance write could lose
      its planned files to the aside-delete.
    - Rollback/debugging: :func:`resolve_generation` answers version-
      pinned reads from any retained generation.
    - The cost is disk: ``keep`` full copies of the state, the standard
      lakehouse retention trade-off. Pick ``keep`` per state size, and
      pick retention longer than the longest query that might pin an
      old generation (pruning a generation a straggler reader still has
      open is the same hazard as any lakehouse VACUUM).

    Generation numbers allocate by EXCLUSIVE claim (`_ALLOC_gN` atomic
    create under ``_gens``, starting from max(existing)+1), so even
    concurrent writers can never stage into one directory — debris
    never collides because allocation counts it, and racing allocators
    serialize on the claim files (r15 review; the claim lives beside
    the directory because the populate write runs error-if-exists).
    Claims clear once their directory exists; a dir-less crashed claim
    ages out via vacuum_generations."""
    fs, jpath = _gens_fs(spark, root)
    if expected_base is not None:
        scheme = (fs.getUri().getScheme() or "").lower()
        if (
            scheme in _NON_ATOMIC_CREATE_SCHEMES
            and scheme not in _warned_occ_schemes
        ):
            _warned_occ_schemes.add(scheme)
            warnings.warn(
                f"generation_swap_dir: OCC commit on scheme '{scheme}' — "
                "create(overwrite=False) is not an atomic exclusive "
                "create there, so the same-base arbiter is best-effort "
                "(the newest-committed re-check narrows but cannot fully "
                "close the race). Use HDFS or a conditional-put store "
                "for contended OCC roots.",
                RuntimeWarning,
                stacklevel=3,
            )
    # mode-slip guard (r15 review): a FIRST versioned save onto an
    # existing legacy single-directory state would leave the old parquet
    # files sitting next to _gens, where a plain read of the root still
    # serves them — refuse; migrate explicitly (save the legacy content
    # as generation 1 of a fresh root, then swap the names).
    root_j = jpath(root.rstrip("/"))
    if fs.exists(root_j) and not fs.exists(
        jpath(root.rstrip("/") + "/" + _GENS_DIR)
    ):
        if any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(root_j)
        ):
            raise ValueError(
                f"generation_swap_dir: {root} holds a legacy "
                "(unversioned) state; writing generations next to it "
                "would leave the stale legacy files shadowing the root "
                "— migrate explicitly, or pick a fresh root"
            )
    existing = _list_gen_dirs(fs, jpath, root, spark)
    # staging-dir allocation must be EXCLUSIVE, not computed: two
    # concurrent writers that both list before either writes would both
    # pick max+1 and mix their part files into one directory — and the
    # OCC loser's cleanup would then delete the winner's committed
    # generation (r15 review). The _ALLOC marker's exclusive create is
    # the atomic arbiter; a loser simply takes the next number. Gaps in
    # the sequence are fine (resolution is max-committed).
    gens_root = root.rstrip("/") + "/" + _GENS_DIR
    n = max(existing, default=0)
    while True:
        n += 1
        gen_dir = gens_root + "/" + _gen_dirname(n)
        if not _exclusive_create(
            fs, jpath, gens_root + "/" + _alloc_name(_gen_dirname(n))
        ):
            continue
        # stale-listing double-check (r15 review): if the directory for
        # this number already exists (its writer's claim was swept after
        # the dir appeared, and our pre-claim listing predates it),
        # release and take the next number instead of staging into it
        if fs.exists(jpath(gen_dir)):
            fs.delete(
                jpath(gens_root + "/" + _alloc_name(_gen_dirname(n))),
                False,
            )
            continue
        break
    try:
        yield gen_dir
    except BaseException:
        # the populate failed (validation refusals delete the staged dir
        # themselves; a crash leaves debris whose number the dir listing
        # protects) — release the allocation claim either way, or every
        # bad-batch retry would leak one claim and hole the sequence
        # until the 24h vacuum (r15 review)
        fs.delete(
            jpath(gens_root + "/" + _alloc_name(_gen_dirname(n))), False
        )
        raise
    if expected_base is not None:
        base = int(expected_base)
        # exclusive create: the atomic arbiter between same-base racers
        # (exactly one claim can succeed; _exclusive_create propagates
        # transient IO errors instead of masquerading them as a conflict
        # and costing the caller its computed state — r15 review)
        claimed = _exclusive_create(
            fs, jpath, gens_root + "/" + _txn_name(base + 1)
        )
        # re-list AFTER the claim: catches a non-OCC writer (no token)
        # or any commit that advanced past the base while we computed.
        # spark is passed so the listing HEALS a crashed in-place swap
        # first — a generation parked between renames would otherwise be
        # invisible here and a stale-base commit could pass over it
        # (r15 review)
        latest = _list_gen_dirs(fs, jpath, root, spark)
        newest = max(
            (m for m, (_, ok) in latest.items() if ok), default=0
        )
        if not claimed or newest != base:
            # computed from a stale base: known-stale work, delete it
            # (the winner's committed state is untouched). A token we
            # DID claim is released — with a mistaken too-high base it
            # would otherwise squat on a future transition forever
            if claimed:
                fs.delete(
                    jpath(gens_root + "/" + _txn_name(base + 1)), False
                )
            fs.delete(jpath(gen_dir), True)
            # release the staging-number claim with the directory — a
            # permanent claim would hole the sequence until vacuumed
            fs.delete(
                jpath(gens_root + "/" + _alloc_name(_gen_dirname(n))),
                False,
            )
            raise GenerationConflictError(
                f"generation commit conflict at {root}: expected base "
                f"generation {base} but "
                + (
                    f"the current committed generation is {newest}"
                    if newest != base
                    else f"transition {base}->{base + 1} is already "
                    "claimed (a racing writer won, or a crashed "
                    "claimant's token awaits vacuum_generations)"
                )
                + " — re-read current_generation, recompute, retry"
            )
        existing = latest
    fs.create(jpath(gen_dir + "/" + _GEN_COMMITTED), True).close()
    # sweep dead claims and (in OCC mode) dead tokens — ≤ the generation
    # just published — only AFTER the commit marker exists: sweeping our
    # own transaction token earlier would let a same-base racer claim,
    # pass its newest-check, and commit a generation that silently drops
    # this writer's update — the exact lost-update OCC exists to prevent
    for st in fs.listStatus(jpath(gens_root)):
        name = st.getPath().getName()
        mt = _TXN_RE.match(name)
        ma = _ALLOC_RE.match(name)
        dead = mt and expected_base is not None and int(mt.group(1)) <= n
        if ma and not dead:
            # an allocation claim is dead only once its directory is
            # COMMITTED (not merely present — a live writer's directory
            # exists long before its last staging write, and sweeping
            # its claim would let a stale-listing allocator re-claim the
            # number; the allocator's post-claim dir double-check is the
            # second line of defense). Dir-less or uncommitted claims
            # age out via vacuum_generations.
            dead = fs.exists(
                jpath(
                    gens_root + "/" + ma.group(1) + "/" + _GEN_COMMITTED
                )
            )
        if dead:
            fs.delete(st.getPath(), False)
    committed = sorted(
        [m for m, (_, ok) in existing.items() if ok] + [n]
    )
    retained = committed[-max(1, int(keep)):]
    # never prune a generation a declared reader has pinned
    # (pin_generation) — commits have no clock, so pins are honored
    # unconditionally here; stale pins from crashed readers age out in
    # vacuum_generations
    pinned = _live_pins(fs, jpath, gens_root)
    for m in committed:
        if m not in retained and _gen_dirname(m) not in pinned:
            fs.delete(jpath(existing[m][0]), True)
    _write_gen_manifest(spark, root, n, retained)


def _write_gen_manifest(spark, root, current, retained) -> None:
    import json

    fs, jpath = _gens_fs(spark, root)
    out = fs.create(jpath(root.rstrip("/") + "/" + GEN_MANIFEST), True)
    try:
        out.write(
            bytearray(
                json.dumps(
                    {
                        "current": int(current),
                        "retained": [int(r) for r in retained],
                    },
                    sort_keys=True,
                ).encode()
            )
        )
    finally:
        out.close()


def vacuum_generations(
    spark,
    root: str,
    keep: int = 2,
    older_than_hours: float = 24.0,
    dry_run: bool = False,
) -> dict:
    """Retention cleanup for a versioned state root, the generation-layout
    sibling of :func:`vacuum_parked_siblings`: drop committed generations
    beyond the newest ``keep``, and drop UNCOMMITTED debris older than
    ``older_than_hours`` (same storage-clock aging as the sibling vacuum
    — a young uncommitted directory may be a save in flight and is never
    touched; committed generations age out by count, not by clock,
    because their order is total). The newest committed generation is
    never deleted regardless of ``keep``. Returns ``{"deleted": [...],
    "kept": [...]}``."""
    import time

    fs, jpath = _gens_fs(spark, root)
    gens = _list_gen_dirs(fs, jpath, root, spark)
    committed = sorted(n for n, (_, ok) in gens.items() if ok)
    retained = committed[-max(1, int(keep)):] if committed else []
    probe = jpath(root.rstrip("/") + "/" + GEN_MANIFEST + "__probe__")
    try:
        fs.create(probe, True).close()
        now_ms = float(fs.getFileStatus(probe).getModificationTime())
        fs.delete(probe, False)
    except Exception:
        now_ms = time.time() * 1000.0
    cutoff_ms = now_ms - older_than_hours * 3600.0 * 1000.0

    def newest_mtime_ms(p: str) -> float:
        newest = fs.getFileStatus(jpath(p)).getModificationTime()
        it = fs.listFiles(jpath(p), True)
        while it.hasNext():
            newest = max(newest, it.next().getModificationTime())
        return newest

    deleted: list[str] = []
    kept: list[str] = []
    pinned_kept: list[str] = []
    gens_root = root.rstrip("/") + "/" + _GENS_DIR
    # reader pins younger than the vacuum retention are LIVE and veto
    # deletion of their committed generation; older ones are crashed
    # readers' leftovers and are swept below with the other debris
    pins = _live_pins(fs, jpath, gens_root, cutoff_ms)
    for n, (p, ok) in sorted(gens.items()):
        if ok and n not in retained and _gen_dirname(n) in pins:
            pinned_kept.append(p)
            kept.append(p)
            continue
        drop = (
            (ok and n not in retained)
            or (not ok and newest_mtime_ms(p) < cutoff_ms)
        )
        if drop:
            if not dry_run:
                fs.delete(jpath(p), True)
            deleted.append(p)
        else:
            kept.append(p)
    # OCC transition tokens: ones at or below the newest committed
    # generation are dead history (a successful OCC commit sweeps them
    # too); a HIGHER orphan is a claimant that crashed between claim and
    # commit — it blocks same-base OCC commits, so age it out by the
    # same storage clock as uncommitted debris (a live claimant's token
    # is never older than the retention)
    newest_committed = committed[-1] if committed else 0
    gens_root = root.rstrip("/") + "/" + _GENS_DIR
    gens_j = jpath(gens_root)
    if fs.exists(gens_j):
        for st in fs.listStatus(gens_j):
            name = st.getPath().getName()
            mt = _TXN_RE.match(name)
            ma = _ALLOC_RE.match(name)
            mp = _PIN_RE.match(name)
            if not mt and not ma and not mp:
                continue
            if mp:
                # a pin older than the retention is a crashed reader's
                # leftover (a live reader's pin is never older than the
                # vacuum cadence — the documented deployment rule)
                if float(st.getModificationTime()) < cutoff_ms:
                    tp = str(st.getPath().toString())
                    if not dry_run:
                        fs.delete(st.getPath(), False)
                    deleted.append(tp)
                continue
            if mt:
                num = int(mt.group(1))
                # a token at/below the newest committed generation is
                # history; a higher orphan ages out
                dead = num <= newest_committed or (
                    float(st.getModificationTime()) < cutoff_ms
                )
            else:
                num = int(ma.group(1)[1:])
                # an allocation claim is dead once its directory is
                # COMMITTED (merely-present = possibly a live writer
                # mid-populate, same rule as the commit-time sweep) or
                # the number is below the committed frontier; otherwise
                # age it like a token
                dead = (
                    fs.exists(
                        jpath(
                            gens_root
                            + "/"
                            + ma.group(1)
                            + "/"
                            + _GEN_COMMITTED
                        )
                    )
                    or num <= newest_committed
                    or float(st.getModificationTime()) < cutoff_ms
                )
            tp = str(st.getPath().toString())
            if dead:
                if not dry_run:
                    fs.delete(st.getPath(), False)
                deleted.append(tp)
            else:
                kept.append(tp)
    if committed and not dry_run and deleted:
        _write_gen_manifest(spark, root, committed[-1], retained)
    return {
        "deleted": sorted(deleted),
        "kept": sorted(kept),
        "pinned": sorted(pinned_kept),
    }


def drain_available_now(
    spark, arrivals, sink, checkpoint_dir: str, what: str
) -> None:
    """Shared ``availableNow`` drain loop for the streaming maintenance
    drains (:func:`serving_stream_update`,
    `operators/maintenance.py::dv_stream_delete`): run the
    ``foreachBatch`` sink under the repo's standard drain scoping (UTC
    session clock so no analysis-time expression bakes a hostile zone;
    bounded shuffle so a plain driver session's 200 partitions don't
    fragment the micro-batch jobs), and raise after
    `streaming/windows.py::default_drain_timeout_s` rather than returning
    with the stream still writing. Extracted r15 — three tiers carried
    verbatim copies of this loop, and the drain contract must not drift
    per tier."""
    from cinegraph_spark.session import bounded_shuffle, scoped_confs
    from cinegraph_spark.streaming.windows import default_drain_timeout_s

    timeout_s = default_drain_timeout_s()
    with scoped_confs(
        spark, **{"spark.sql.session.timeZone": "UTC"}
    ), bounded_shuffle(spark, 8):
        q = (
            arrivals.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"{what} did not finish in {timeout_s}s")


def serving_stream_update(
    arrivals: DataFrame,
    sink,
    land_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a STREAM of embedding arrivals into a serving tier — the
    continuous form of the tier's daily update job (the reference's
    pgvector index is maintained by Postgres on every INSERT,
    `db/models/embedding.py:15-17`; this is the micro-batch equivalent).
    ``sink`` is the tier's ``foreachBatch`` sink built over the same
    ``land_dir``: `operators/hnsw.py::hnsw_stream_maintenance_sink`,
    `operators/similarity.py::ivf_stream_maintenance_sink` or
    ``pq_stream_maintenance_sink``. Each documents its per-batch
    mechanics, cost bound (∝ the directories the batch touches, never
    the corpus or the cumulative arrival history) and replay contract.

    ``checkpoint_dir`` defaults to ``land_dir + "_checkpoint"``, a
    stable path derived from the landing zone rather than a throwaway
    temp checkpoint: a crash-recovery rerun with the same ``land_dir``
    resumes from the engine's own offsets with the ORIGINAL batch ids,
    so a recovered drain can never regroup the source files into
    differently-numbered batches. No driver-local makedirs happens
    here: ``land_dir`` may live on HDFS or an object store, and the
    first batch's layout seed creates it through the path's own Hadoop
    FileSystem. Runs under :func:`drain_available_now`."""
    if checkpoint_dir is None:
        checkpoint_dir = land_dir.rstrip("/") + "_checkpoint"
    drain_available_now(
        arrivals.sparkSession, arrivals, sink, checkpoint_dir,
        f"maintenance drain into {land_dir}",
    )


def recover_landing_layout(spark, land_dir: str, what: str) -> bool:
    """Shared landing-zone probe for the streaming maintenance sinks:
    True when a clustered layout exists at ``land_dir`` (healing a
    crashed layout swap first — its committed state parks under
    ``__old__``/``__swap__`` siblings, and re-seeding over it would
    silently drop every landed arrival the stream checkpoint already
    marked consumed); False when the path is genuinely fresh and safe to
    seed; raises when the path holds non-layout content (same
    drop-consumed-arrivals hazard — the caller must migrate explicitly).
    Extracted r15 from the three tier sinks' identical blocks."""
    from cinegraph_spark.operators.maintenance import (
        _hadoop_fs,
        layout_meta,
    )

    try:
        layout_meta(spark, land_dir)  # opens the state: heals a crashed swap
        return True
    except FileNotFoundError:
        fs, jp = _hadoop_fs(spark, land_dir)
        if fs.exists(jp) and list(fs.listStatus(jp)):
            raise ValueError(
                f"{what}: {land_dir} exists and is not a clustered "
                "layout (no _LAYOUT.json) — seeding would discard its "
                "contents while the stream checkpoint blocks their "
                "replay; fold the directory into `base` (or point the "
                "drain at a fresh land_dir with a fresh checkpoint)"
            )
        return False
