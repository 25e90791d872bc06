"""Parquet table loading (the engine's scan layer).

``spark.read.parquet`` gives us the vectorized columnar reader with
predicate pushdown / column pruning for free — callers express filters and
projections declaratively and Catalyst pushes them into the scan
(verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_pubsub_spark.registry import TABLES

# Scan-plan memo: ``spark.read.parquet`` costs ~160 ms of py4j + footer
# schema inference per call, and the registry issues hundreds of them.
# DataFrames are immutable logical plans, so one per (session, table file)
# serves every consumer. Keyed by the live session OBJECT (kept strongly,
# so id() can't be recycled onto a new session) and by the file's path,
# mtime and size: a fixture rewritten in place misses instead of handing
# out a plan whose file index is stale. Each session keeps its
# _MEMO_PER_SESSION most recently used plans, so a caller that loads from
# many short-lived dirs (one per changefeed flush) cannot grow it forever.
_DF_CACHE: dict[int, tuple[SparkSession, OrderedDict[tuple, DataFrame]]] = {}
_DF_LOCK = threading.Lock()
_MEMO_PER_SESSION = 64


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime confs every query depends on.

    The driver (and any embedding application) may hand us a
    SparkSession built without our session.py factory; these four are
    correctness-critical and all runtime-settable:
    - nanosAsLong: events.parquet is TIMESTAMP(NANOS); without this every
      events scan throws PARQUET_TYPE_ILLEGAL.
    - UTC session tz: timestamp results must match the tz-naive DuckDB
      oracle regardless of host timezone.
    - AQE + Arrow: performance posture assumed by the operator docstrings.
    - InferFiltersFromGenerate excluded: the rule duplicates the
      generator expression into a pre-Generate filter, where
      CollapseProject re-inlines any hoisted subexpression (e.g. the
      shingle transform's split(text) — re-evaluated per element, per
      filter conjunct: O(doc²) work per row, measured 5× on
      text_contamination at sf0.1) for a predicate with zero selectivity
      on non-null, always-nonempty arrays.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
        # The 100 TB state backend (SURVEY §7 risk 4): a driver-passed
        # bare session would otherwise run every stateful streaming op
        # on the HDFS-backed in-heap store. providerClass is read at
        # stream START, so setting it here (before any op builds its
        # query) puts driver-run streams on RocksDB exactly like
        # session.py's factory; tests/test_streaming.py asserts the
        # provider actually engages (rocksdb custom metrics) with
        # oracle equality.
        (
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ),
        (
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some environments; best effort


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Self-heal the correctness-critical confs on EVERY call (cache hit
    # included): an embedding application may mutate e.g. the session
    # timezone between queries, and this repair is the documented
    # contract. ~1 ms per call.
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # let the reader raise its own missing-path error
    if key is not None:
        with _DF_LOCK:
            entry = _DF_CACHE.get(id(spark))
            if entry is not None and entry[0] is spark and key in entry[1]:
                entry[1].move_to_end(key)
                return entry[1][key]
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) read as long (see session.py); convert to a real
        # timestamp at microsecond precision. Integer division truncates,
        # exactly like DuckDB's ns->us cast, so oracles stay bit-identical.
        # `div` = integral division. A double division here would be wrong:
        # epoch-nanos (~1.7e18) exceed 2^53, so float math loses the low
        # bits and the truncation lands ±1 µs off DuckDB's ns→us cast.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if key is not None:
        with _DF_LOCK:
            entry = _DF_CACHE.get(id(spark))
            if entry is None or entry[0] is not spark:
                if len(_DF_CACHE) >= 8:
                    # Sessions are held strongly (so id() keys stay
                    # valid), which pins their JVM-side plans — bound the
                    # sessions too, so a host that creates/stops sessions
                    # repeatedly can't leak one session's plans forever.
                    _DF_CACHE.clear()
                entry = _DF_CACHE[id(spark)] = (spark, OrderedDict())
            entry[1][key] = df
            if len(entry[1]) > _MEMO_PER_SESSION:
                entry[1].popitem(last=False)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


# Test hook (tests/test_plans.py): when True, finalize_cached returns the
# LAZY result so plan pins can inspect the op's real operator shapes.
LAZY_PLAN_MODE = False


def release_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Free a localCheckpoint()ed DataFrame's materialized blocks.

    DataFrame.unpersist() consults only the CacheManager, which never
    tracks checkpoint RDDs, so it is a silent NO-OP on a checkpointed
    frame (verified live: the block survives getRDDStorageInfo). The
    blocks must be released on the LogicalRDD's own RDD. Safe no-op on
    any non-LogicalRDD plan."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass  # best-effort cleanup must never fail the query


def finalize_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a small final result, then unpersist its cached inputs.

    Use it only where a cache is measured to pay for its jobs:
    - a persisted frame feeds branches that exchange reuse cannot share.
      Spark reuses an exchange only when the whole subtree below it is
      identical, so costly row-local work (hashing, explode) that feeds
      several DIFFERENT shuffles runs once per branch without a cache;
    - or an action (count, collect) reads the frame while the plan is
      built.
    Everywhere else an op returns its lazy plan: an identical subtree
    inside one plan is already shared through exchange and AQE stage
    reuse, and the persist + count + localCheckpoint here cost two or
    more jobs that save nothing. An op whose action reads a cache, but
    whose result does not need it, unpersists the cache after that
    action and returns the lazy plan.

    localCheckpoint(eager=True) materializes the RESULT (a small
    aggregate) and truncates its lineage, so the cached inputs can be
    dropped at once instead of leaking blocks for the session's
    lifetime; the try/finally guarantees the unpersist even when
    materialization throws. Blocking=False: block removal is async
    cleanup, not on the query's critical path.

    When LAZY_PLAN_MODE is set (tests/test_plans.py), the lazy result is
    returned with its caches released immediately: plan pins must assert
    the op's TRUE operator shapes, and a localCheckpoint would collapse
    the explain output to a Scan ExistingRDD leaf. Unpersisting up front
    merely forfeits the cache reuse (each consumer recomputes — fine at
    fixture scale); the analyzed plan is identical.
    """
    if LAZY_PLAN_MODE:  # test hook — see module constant above
        for df in cached:
            df.unpersist(blocking=False)
        return result
    try:
        # r15: materialize through the normal AQE query path FIRST
        # (persist + count), then checkpoint off the in-memory blocks.
        # localCheckpoint(eager) alone compiles the plan through the
        # non-adaptive RDD conversion path — no AQE broadcast/coalesce,
        # static 32-partition SMJ cascades — which measured 6-8 s of
        # pure re-execution overhead on join-heavy finals
        # (text_rouge_pairs 8.0 s -> 1.7 s end-to-end from this change
        # alone). With the result persisted, the checkpoint's RDD scan
        # is an InMemoryTableScan over already-computed batches, so the
        # lineage truncation (which is what lets the caller unpersist
        # the data-sized inputs) keeps its original purpose at ~zero
        # added cost.
        result = result.persist()
        result.count()
        return result.localCheckpoint(eager=True)
    finally:
        result.unpersist(blocking=False)
        for df in cached:
            df.unpersist(blocking=False)
