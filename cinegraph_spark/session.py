"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (SURVEY §4, §7):

- **AQE on** — runtime coalescing of shuffle partitions, dynamic
  broadcast-join conversion, and skew-join splitting replace hand-tuned
  partition counts when data sizes are only known at runtime.
- **Arrow on** — every pandas_udf / mapInPandas / toPandas crossing uses
  Arrow batches instead of pickled rows (SURVEY §2.4: model inference rides
  this surface).
- **Shuffle partitions** default to the local core count for tests; on a real
  cluster this is overridden (AQE coalescing makes over-partitioning cheap).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def scoped_confs(spark: SparkSession, **confs: str):
    """Set session confs for the duration of the block, then restore each to
    its prior value (or unset if it had none). Query builders must not leak
    session-conf mutations — a cross-query surprise at best (VERDICT r1
    watch item). Only safe for confs whose effect lands while the scope is
    open: plan-analysis-captured flags (parquet read-schema options) or
    confs read by work that executes eagerly inside the block (iterative
    supersteps, streaming drains)."""
    before: dict[str, str | None] = {}
    for key, val in confs.items():
        try:
            before[key] = spark.conf.get(key)
        except Exception:
            before[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, old in before.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def bounded_shuffle(spark: SparkSession, cap: int = 16):
    """Scope ``spark.sql.shuffle.partitions`` to at most ``cap`` for eager
    small-data execution (iterative graph supersteps, stateful streaming
    drains, the cluster-tree build). A plain session defaults to 200;
    stateful streaming disables AQE so nothing coalesces those 200 state
    partitions, and a 10-superstep loop pays 200-task overhead per round.
    The cap applies only within the scope and never raises the setting."""
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        current = 200
    return scoped_confs(
        spark, **{"spark.sql.shuffle.partitions": str(min(current, cap))}
    )

#: Confs applied to every session the engine creates. All are also safe to
#: set on an externally provided session via ``spark.conf.set``.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics regardless of host timezone: the
    # driver's test parquet stores naive (NTZ-style) timestamps; pin the
    # session zone so instant-typed paths can't drift by host locale.
    "spark.sql.session.timeZone": "UTC",
    # 128 MB input splits — the parquet-scan sweet spot; small enough for
    # executor memory at 100 TB, large enough to amortize task startup.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Arrow batch size for pandas UDFs (model scoring M3 rides this).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


#: Entries in the JVM-wide LRU cache of classes compiled from generated
#: code (``spark.sql.codegen.cache.maxEntries``, Spark default 100). A static
#: conf: it is read once when the JVM starts, so ``get_spark`` sets it on
#: the builder and it cannot live in ENGINE_CONFS. The largest working
#: set measured is about 306 classes (serving set-up plus one pass of
#: every request kind); one batch pass of eight queries needs 212. At
#: 100 a repeated query recompiles its classes every time; 1000 keeps
#: them all, at about 10 MB for a full cache.
CODEGEN_CACHE_ENTRIES = 1000


def local_df(spark: SparkSession, rows, schema) -> "DataFrame":
    """A DataFrame over METADATA-SCALE local rows (ledgers, codebook
    tables, quotas, manifests, query and delta rows, empty result frames)
    built entirely on the driver.

    ``schema`` is a DDL string or a ``StructType``. Every row passes the
    verifier that ``createDataFrame`` applies under ``verifySchema=True``,
    so a bad row is refused by field name, and then the same
    ``toInternal`` conversion the row path applies (naive ``timestamp``
    values read as host-local time). The converted columns become one
    ``pyarrow.Table`` that Spark turns into a ``LocalTableScan``: an
    action over the frame launches no Python worker, ``collect()`` runs
    no job at all, and the optimizer sees the frame's real size. The
    row path (``createDataFrame`` over a list or an RDD) instead runs a
    Python task on every action over the frame, one per
    ``defaultParallelism`` slice for a plain list.

    An empty ``rows`` keeps the schema but yields zero partitions; a
    parquet write of it still leaves a readable, schema-carrying file.
    Data-sized frames must NOT use this (every row crosses the driver);
    everything here is small-side by contract."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        _make_type_verifier,
        _parse_datatype_string,
    )

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(struct, StructType):
        raise TypeError(
            f"local_df needs a struct schema, got {struct.simpleString()}"
        )
    verify = _make_type_verifier(struct)
    columns: list[list] = [[] for _ in struct.fields]
    for row in rows:
        verify(row)
        for col, value in zip(columns, struct.toInternal(row)):
            col.append(value)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the cinegraph_spark package to executor Python workers.

    mapInPandas/pandas-UDF closures reference this package by module name;
    when the host process launched from a different cwd (the driver harness
    does), workers can't import it. addPyFile distributes a zip of the
    package and prepends it to every worker's sys.path. Idempotent per
    SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_cinegraph_shipped", False):
        return
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # Key the zip name by a content digest: a bare name cached the FIRST
    # build forever, so workers kept importing a stale package snapshot
    # (round 9: a round-old zip without operators/hnsw.py broke the HNSW
    # mapInPandas closures in any fresh-cwd process). Hashing ~600 KB of
    # source is microseconds next to the addPyFile RPC.
    files = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.md5()
    for p in files:
        h.update(str(p.relative_to(pkg_dir)).encode())
        h.update(p.read_bytes())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"cinegraph_spark_pkg_{os.getuid()}_{h.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(zpath):
        # Content-hash keys accumulate one zip per package edit on a
        # long-lived box — drop stale siblings before writing the new one
        # (best-effort: another live session may still hold one open;
        # addPyFile copies the zip into Spark's own tempdir immediately,
        # so unlinking a sibling only ever breaks a session mid-addPyFile,
        # which the try/except below tolerates).
        import contextlib
        import glob

        for old in glob.glob(
            os.path.join(
                tempfile.gettempdir(),
                f"cinegraph_spark_pkg_{os.getuid()}_*.zip",
            )
        ):
            with contextlib.suppress(OSError):
                os.unlink(old)
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in files:
                z.write(p, "cinegraph_spark/" + str(p.relative_to(pkg_dir)))
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._cinegraph_shipped = True


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    The driver harness hands us its own SparkSession; this applies every
    conf that is still settable post-startup (all of ENGINE_CONFS are).
    Static confs cannot change on a live session, so a session the host
    created keeps the host's own size for the generated-code cache
    (``CODEGEN_CACHE_ENTRIES`` applies only to sessions ``get_spark``
    starts).
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf locked by the host session — keep going; none of these
            # affect correctness, only performance/decoding behavior.
            pass
    return spark


#: Lazily created per-process scratch root for streaming-drain parquet
#: output; removed at interpreter exit. Before round 9 every drain query
#: invocation leaked a bare tempfile.mkdtemp full of parquet (harmless per
#: run, accumulating across driver/bench rounds on a long-lived box —
#: ADVICE r8).
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory under a per-process root that is removed
    via ``atexit`` when the interpreter exits. Used by the streaming drain
    queries for their parquet sink output: the returned frame is fully
    consumed (or localCheckpointed) before the process ends, so
    exit-time removal is safe. On a real cluster the drains would target
    durable object-store paths instead; this is the local-run hygiene
    path."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="cinegraph_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def get_spark(
    app_name: str = "cinegraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster, pass ``master=None``
    with a pre-set spark.master, or use ``tune`` on the provided session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config(
        "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
    )
    return builder.getOrCreate()
