"""SparkSession construction for the engine.

The reference binds its runtime config at import time (env -> boto3 S3
client + SQLAlchemy engine, /root/reference/etl_elb_log_to_mysql.py:17-38).
We instead build an explicit, tuned SparkSession once and pass it around.

Scale posture (local[N] here, 1000-executor cluster in production):
- AQE on: runtime coalescing of shuffle partitions, skew-join split.
- Batch shuffles start at DEFAULT_SHUFFLE_PARTITIONS (32) and AQE
  coalesces them at runtime, so a high initial value is safe on any
  box. Streams get no AQE: `run_stream_to_batch` starts each stream
  at one shuffle partition per core instead.
- The master defaults to local[<cores>] ($SPARK_GRAFT_CPUS, else the
  cores this process may run on).
- Arrow enabled so the few Pandas UDFs batch via Arrow, never per-row.
- The generated-code cache holds the engine's working set
  (CODEGEN_CACHE_ENTRIES): every executor JVM keeps its own copy and
  compiles per partition, so a cache smaller than one pass's recurring
  classes recompiles on every executor for every repeated plan or
  micro-batch.
- Session timezone pinned to UTC: all timestamp->string rendering is
  deterministic and independent of the host TZ (the reference instead
  depends on pytz conversion at parse time, etl:41,76-77 — we convert
  explicitly per-column with from_utc_timestamp).
- ANSI off: the engine is permissive-by-contract (the reference's
  parse layer coerces bad values instead of failing, etl:43-50); we
  additionally use try_-style expressions so the plans stay correct
  even under a caller-provided ANSI session.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Initial partitions of a batch shuffle; AQE coalesces them at runtime.
# Kept fixed rather than sized from the cores: at local[4], setting it
# to 4 sped up the streams but slowed the batch operators
# (corpus_pipeline 3.4 -> 4.1 s, slower in 4/4 interleaved pairs), so
# only streams follow the core count (streaming/windows.py).
DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries in the JVM-wide cache of compiled whole-stage/expression
# classes (spark.sql.codegen.cache.maxEntries, a static conf: it must
# go on the builder, tune_session cannot set it). Spark keeps 100; one
# warm perfbench corpus_dedup pass cycles ~250 recurring classes, so
# the LRU evicted each before its next use and every warm pass
# recompiled 252 of them (192 at 200 entries, 0-8 from 300 up). A
# sweep of all 232 registry entries at sf0.001 compiles 3,754 distinct
# classes, hence 4096: a second sweep in the same session then
# recompiles 364. Metaspace used after a full GC on the corpus run:
# 178.4 MB at 100 entries, 178.8 MB at 4096 (local[4]).
CODEGEN_CACHE_ENTRIES = 4096

# Stateful-streaming state lives off-heap/on-disk by default: the
# in-heap HDFSBacked provider holds every maintained state version in
# the executor heap and OOMs long before the data stops fitting the
# cluster (measured: 1.6M LSH bucket groups killed an 8 GiB local JVM
# at the 20x probe scale — SCALE.md round-10; RocksDB ran the same
# workload flat). Provider choice is semantics-neutral (same state,
# different storage), so defaulting it costs correctness nothing and
# removes the one config a 100 TB streaming deployment must not forget.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# RocksDB commit tuning (r15, guide §1/§5 — measured on
# stream_near_dedup's stateful stage at sf0.1 with 32 state partitions,
# under the per-bucket Python state layout the stream-stream band
# join has since replaced; both reasons below are properties of the
# provider, not of that layout):
# - changelog checkpointing: commit uploads the per-batch changelog
#   instead of a full SST snapshot per partition per micro-batch.
#   Measured commitTimeMs (summed) 12-18 s -> 2-4 s, stream wall
#   15.8 -> ~9 s. This is the production posture at large state too —
#   full-snapshot upload scales with TOTAL state size, changelog with
#   the batch's delta; snapshots still happen in the background at
#   `minDeltasForSnapshot` cadence, and exactly-once recovery is
#   unchanged (restart replays the changelog onto the last snapshot).
# - trackTotalNumberOfRows=false: skips the extra per-update get()
#   RocksDB does to maintain the numRowsTotal metric (pure telemetry;
#   reported as -1). Per-update cost drops proportionally to update
#   volume — the right trade whenever the metric is not consumed, as
#   here (audits recompute counts from data, never from state metrics).
ROCKSDB_TUNING = (
    ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"),
    ("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false"),
)

# The engine's runtime SQL confs, set by build_session and by
# tune_session on a caller's session: deterministic UTC rendering,
# permissive casts, adaptive execution, the streaming state store.
ENGINE_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.ansi.enabled", "false"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # picked up per streaming query at start; see ROCKSDB_STATE_STORE
    ("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE),
    *ROCKSDB_TUNING,
)


def host_cpus() -> int:
    """Cores this process may run on: the default local[N] width."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def build_session(
    app_name: str = "elb-log-to-mysql-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (*ENGINE_CONF, *(extra_conf or {}).items()):
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session SQL conf for a block and restore the caller's
    value (or unset) on exit.

    SQL confs are session-global mutable state; any operator that
    needs a non-default conf (dynamic partition overwrite, legacy
    parquet modes) must not leak it into unrelated queries on the
    same long-lived session.
    """
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_SCAN_PARTITIONS_CACHE: dict[tuple, int] = {}


def ensure_min_partitions(df):
    """Spread a narrow input across the cluster for compute-dense
    derivations (hashing, shingling, vector math).

    A small parquet file arrives as ONE input split, so every
    downstream expression runs on one core no matter how wide the
    cluster is. Repartition ONLY when the scan is narrower than the
    session's `defaultParallelism`: at real scale the source already
    has thousands of splits and this is a no-op — it never adds a
    shuffle to a big read.

    The partition-count probe (`df.rdd`) forces plan analysis + RDD
    conversion, so its result is memoized by the scan's file set
    (`inputFiles()` — analysis only, no RDD): repeated calls over the
    same table pay the probe once per session. Sound because every
    caller passes a narrow plan (scan + project/filter), whose
    partitioning is exactly the file scan's.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # Keyed by (app id, file set): a new session/JVM or an
        # overwritten table path must never reuse a stale probe.
        files = tuple(sorted(df.inputFiles()))
        key = (sc.applicationId, files) if files else None
    except Exception:
        key = None
    n = _SCAN_PARTITIONS_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _SCAN_PARTITIONS_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df


def unpersist_on_gc(result, *cached):
    """Release `cached` DataFrames' storage when `result` is
    garbage-collected.

    Operators that persist an intermediate (reused across several legs
    of one returned plan) cannot unpersist before the caller
    materializes the lazy result — and Spark's CacheManager holds
    cached plans forever, so a long-lived session would accumulate
    blocks until LRU pressure. Tying the unpersist to the result's GC
    gives the common call-materialize-discard pattern a bounded cache
    lifetime; callers that hold the result keep the caches (and the
    speedup) until they drop it.
    """
    import weakref

    jdfs = [c._jdf for c in cached]

    def _release():
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass  # session/JVM already gone — nothing to release

    weakref.finalize(result, _release)
    return result


def carry_caches(child, *parents):
    """Extend GC-scoped caches' lifetime to a derived DataFrame.

    A PySpark DataFrame derived from an `unpersist_on_gc` result holds
    no Python reference to its parent, so dropping the parent handle
    fires the finalizer while the derived (still-lazy) plan is alive —
    the cache vanishes before the plan that was meant to reuse it ever
    executes. Pinning the parents on the child ties their finalizers
    to the child's lifetime instead: the caches survive until the
    caller drops the derived result (normally after materialization).
    """
    child._graft_keepalive = tuple(parents) + tuple(
        getattr(child, "_graft_keepalive", ())
    )
    return child


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL conf to a caller-provided session.

    The driver harness constructs its own SparkSession; these confs are
    runtime-settable and define the engine's semantic contract
    (deterministic UTC rendering, permissive casts, adaptive exec).

    Static confs are not applied: a session the caller owns (the
    driver contract's own session in `__spark_entry__.py`) keeps
    Spark's 100-entry generated-code cache unless its own builder sets
    `spark.sql.codegen.cache.maxEntries` (see CODEGEN_CACHE_ENTRIES).
    """
    for k, v in ENGINE_CONF:
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down by caller — plans still valid
            pass
    return spark
