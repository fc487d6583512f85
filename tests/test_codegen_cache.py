"""The JVM's generated-code cache: where its size is set and what it buys.

Spark keeps compiled classes in one JVM-wide LRU cache whose size is the
static conf ``spark.sql.codegen.cache.maxEntries`` (default 100). A
static conf can only be set when the session starts, so ``get_spark``
sets it on the builder and ``tune`` (which applies ENGINE_CONFS to a live
session) must not be relied on for it."""

from __future__ import annotations

from pyspark.sql import functions as F

from cinegraph_spark.session import CODEGEN_CACHE_ENTRIES, ENGINE_CONFS

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


def test_engine_confs_are_all_runtime_settable(spark):
    """``tune`` applies ENGINE_CONFS to a live session and drops a conf it
    cannot set, so every key there must be settable at run time."""
    static = [k for k in ENGINE_CONFS if not spark.conf.isModifiable(k)]
    assert static == []


def test_codegen_cache_size_is_static_and_set_by_get_spark(spark):
    assert CACHE_KEY not in ENGINE_CONFS
    assert not spark.conf.isModifiable(CACHE_KEY)
    assert spark.conf.get(CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES)


def test_warm_rerun_compiles_nothing(spark, codegen_compiles):
    """A plan rerun after more than 100 other plans finds its classes in
    the cache. Each filler plan inlines a different long literal, so each
    compiles classes of its own; at the default size of 100 they evict
    the first plan's classes and the rerun compiles them again."""

    def plan(i):
        return spark.range(1).select(F.col("id") + F.lit(i)).collect

    first = plan(10**12)
    assert codegen_compiles(first) > 0
    fillers = sum(codegen_compiles(plan(10**12 + i)) for i in range(1, 121))
    assert fillers > 100, "filler plans must outnumber the default cache"
    assert codegen_compiles(first) == 0
