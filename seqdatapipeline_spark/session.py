"""SparkSession builder and table loaders.

The reference hand-schedules everything (semaphores of 10/6 workers,
32-thread tool invocations, 20 GB sort caps — BASELINE.md). Here the
equivalent knobs are Spark configs: AQE re-plans shuffles at runtime,
``spark.sql.shuffle.partitions`` bounds reducer fan-out, and broadcast
thresholds replace the reference's shared-memory genome index
(reference tools.py:412 ``--genomeLoad LoadAndRemove``).
"""

from __future__ import annotations

import hashlib
import logging
import os
import threading
from collections import OrderedDict
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "seqdatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Scale notes: ``master`` is only set when explicitly requested or
    when no cluster manager is configured (so ``spark-submit --master``
    always wins on a real cluster). Size ``shuffle_partitions`` to
    ~2-3x total cores there; AQE coalesces small post-shuffle
    partitions and splits skewed ones at runtime, so a generous static
    number is safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # broadcast-join demotion/promotion by observed sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / applyInPandas / toPandas round-trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scan: pushdown + pruning (on by default; pinned for clarity).
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) columns (events.ts) read as long instead of
        # erroring; registry._events rebuilds a proper timestamp at
        # micros precision, matching DuckDB's truncating reader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Conservative auto-broadcast; known dim tables get explicit
        # broadcast() hints instead (a 64 MB global limit risks driver
        # OOM when a "small" side grows at 100x scale).
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if master is not None or (
        "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_SUBMIT")
    ):
        # Local/dev default only; never override an externally-set master.
        builder = builder.master(master or f"local[{cpus}]")
        # In local mode the driver JVM is the whole cluster; Spark's 1g
        # default heap starves broadcast builds and shuffle buffers long
        # before the machine does. Only set here — on a real cluster
        # spark-submit's --driver-memory/--executor-memory govern.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df: DataFrame, *cols: str, min_partitions: int | None = None) -> DataFrame:
    """Raise scan parallelism before per-row-expensive compute
    (shingling, hashing, vector math).

    Small dimension files often arrive as a single input split, which
    pins every downstream narrow operator to one core; a 100 TB table
    already has thousands of splits, so this is a no-op there (the
    partition check avoids an unconditional shuffle). Pass key columns
    to hash-partition by them (keeps a later groupBy on the same keys
    shuffle-free)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


# no_aqe serialization: sections hold the RLock across their body so
# concurrent no_aqe callers queue instead of interleaving restores;
# a thread-local {id(session): depth} map makes same-thread,
# same-session nesting a no-op below the outermost block while still
# disabling AQE per-session when sessions nest.
_NO_AQE_LOCK = threading.RLock()
_NO_AQE_STATE = threading.local()


@contextmanager
def no_aqe(spark):
    """Temporarily disable adaptive query execution around the
    materialization of an iterative sub-plan whose partitioning and
    stats are already known. AQE materializes EVERY shuffle stage as
    a separate job to re-plan with runtime statistics — for a
    fixed-round matvec whose join sides are co-partitioned by
    construction that re-planning can change nothing, but its
    per-stage barrier costs ~0.15-0.2s each on local[32] (measured
    within-session A/B: pagerank_iter sf0.1 2.42s -> 1.82s with 3
    rounds ≈ 7 stages). Restore is in a finally. Scope this ONLY to
    plans with known-uniform keys — anything that might be skewed at
    100 TB should keep AQE's runtime skew-splitting.

    CONCURRENCY CONTRACT: this toggles the session-global
    ``spark.sql.adaptive.enabled`` conf. Two hazards and how each is
    handled:

    * **Nested / concurrent no_aqe sections** are handled HERE:
      sections serialize on a process-wide re-entrant lock and a
      per-(thread, session) depth counter makes SAME-SESSION nesting
      a no-op below the outermost block, so the pre-entry conf value
      is always the one restored (out-of-order restores cannot
      happen). Nesting a DIFFERENT session's section is not a no-op —
      each session's conf gets its own save/disable/restore.
    * **A concurrent UNRELATED query on the same SparkSession** would
      still plan with AQE off — including its skew handling — and
      this function cannot see it. That is the engine's documented
      single-threaded-driver-per-session invariant (true for the
      registry/bench/driver paths); a multi-threaded caller must run
      such queries on separate sessions (`spark.newSession()` gives
      an isolated conf while sharing the SparkContext and cache).
    """
    with _NO_AQE_LOCK:
        # Depth is keyed per (thread, session): nesting no_aqe(sessionB)
        # inside no_aqe(sessionA) on one thread must disable AQE on B's
        # conf too, not silently no-op because A already holds depth>0
        # (ADVICE r10) — multi-session nesting is exactly the pattern
        # the concurrency contract above recommends.
        depths = getattr(_NO_AQE_STATE, "depths", None)
        if depths is None:
            depths = _NO_AQE_STATE.depths = {}
        key = id(spark)
        depths[key] = depths.get(key, 0) + 1
        outermost = depths[key] == 1
        if outermost:
            prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            depths[key] -= 1
            if depths[key] == 0:
                del depths[key]
            if outermost:
                spark.conf.set("spark.sql.adaptive.enabled", prev)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, name: str = "lineitem") -> DataFrame:
    """Load one synthetic table (TESTDATA.md) as a DataFrame.

    No driver-side existence check: ``spark.read.parquet`` raises a
    clear AnalysisException for missing paths and works on any Hadoop
    filesystem (local/S3/HDFS), unlike ``os.path.exists``.
    """
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load all synthetic tables and register them as temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(table_path(sf_dir, name))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def plan_fingerprint(df: DataFrame) -> str | None:
    """Canonicalized-plan identity for prepared-plan/statistics memo
    keys, or None when the plan has no durable data identity.

    The canonicalized analyzed plan alone is NOT a data identity: on
    Spark 4.x a parquet relation canonicalizes as
    ``Relation [none#0L,...] parquet`` with the path elided, so two
    different datasets with the same schema print identically. The key
    therefore combines the plan string with a hash of the sorted
    ``df.inputFiles()`` listing — equal keys mean equal plan over the
    same concrete files (up to in-place file mutation, the same
    staleness contract as Spark's own plan cache). A file-backed plan
    that reports no input files, and driver-built inputs
    (createDataFrame -> LogicalRDD / LocalRelation / LocalTableScan,
    which canonicalize WITHOUT their rows), have no durable identity —
    refuse (return None) rather than risk serving one dataset's
    result for another."""
    try:
        s = df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:
        return None  # connect mode / plan-access failure
    if "LogicalRDD" in s or "LocalRelation" in s or "LocalTableScan" in s:
        return None
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]
    return f"{h}:{s}"


class Memo:
    """One session-reuse memo: a bounded FIFO of ``key -> value`` plus
    the persisted frames each entry holds, behind a lock. Result memos
    (interval stats + built plan, PageRank ranks, duplication factors)
    and the persist ring are all instances, so ``clear_memos()``
    releases every one of them in one call.

    Spark's CacheManager holds SQL cache entries until explicitly
    released — the blocks are LRU-evictable but the ENTRIES are never
    GC-reclaimed — so evicting or clearing an entry unpersists the
    frames stored with it and logs one INFO line naming the memo. A
    live plan that still references a released frame is correct: it
    recomputes that subtree on next use, which is the recompute cliff
    the log line makes diagnosable. ``key=None`` (no durable data
    identity, see memo_key) is never stored and never hits."""

    def __init__(self, name: str, cap: int):
        self.name, self.cap = name, cap
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        _MEMOS.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key):
        if key is None:
            return None
        with self._lock:
            hit = self._entries.get(key)
        return None if hit is None else hit[0]

    def put(self, key, value, *frames: DataFrame) -> None:
        """Store ``value``; ``frames`` are unpersisted on release."""
        if key is None:
            return
        evicted = []
        with self._lock:
            self._entries[key] = (value, frames)
            while len(self._entries) > self.cap:
                evicted.append(self._entries.popitem(last=False)[1])
        self._release(evicted, f"eviction (cap {self.cap})")

    def clear(self) -> None:
        with self._lock:
            drained = list(self._entries.values())
            self._entries.clear()
        self._release(drained, "clear")

    def _release(self, entries, why: str) -> None:
        for _, frames in entries:
            _memo_log.info(
                "memo %s %s: unpersisting %d frame(s)", self.name, why, len(frames)
            )
            for f in frames:
                try:
                    f.unpersist()
                except Exception:
                    pass  # owning session already stopped


_MEMOS: "list[Memo]" = []
_memo_log = logging.getLogger("seqdatapipeline_spark.memo")


def memo_key(frames, *params):
    """The one memo key: session id + plan_fingerprint of every input
    frame + the call's parameters, or None (do not memoize) when any
    frame has no durable data identity. The session id keeps a result
    built on one session from being served to another (its frames
    would run on the wrong session, or on a stopped SparkContext); the
    fingerprints cover the input files, so a rewritten directory is a
    new key."""
    fps = [plan_fingerprint(f) for f in frames]
    if None in fps:
        return None
    return (frames[0].sparkSession._jsparkSession.sessionUUID(), *fps, *params)


def clear_memos() -> None:
    """Release every Memo instance (bench/test hook: a warm timing
    must measure the operator, not a memo hit)."""
    for m in _MEMOS:
        m.clear()


# Library-internal persists: a frame persisted per call over varying
# inputs would otherwise hold a CacheManager entry for the session
# lifetime. Process-global and shared by batch AND streaming
# consumers (ADVICE r8): a long-lived streaming query whose plan
# references an evicted persist recomputes that subtree per
# micro-batch — the eviction log line names this memo.
_RING = Memo("persist-ring", 16)
ring_clear = _RING.clear


def ring_persist(df: DataFrame) -> DataFrame:
    """persist() with a bounded lifetime: the frame is held by the
    cap-16 persist-ring memo and unpersisted when it is evicted or
    cleared."""
    out = df.persist()
    _RING.put(id(out), out, out)
    return out


# persist_for_rescan's gate: an input whose size estimate reaches this
# many bytes is persisted rather than re-scanned (tests patch it).
RESCAN_PERSIST_BYTES = 256 * 1024 * 1024


def size_estimate(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df`` in bytes: driver-side, zero
    jobs (file statistics for a scan). A plan without statistics, such
    as an RDD-backed frame, reads as Long.MaxValue; None when the
    estimate cannot be read at all, so each caller keeps its own
    conservative choice."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Py4JError:
        return None


def persist_for_rescan(df: DataFrame, gate: "DataFrame | None" = None) -> DataFrame:
    """Size-adaptive persist for a derived projection that downstream
    plan branches re-evaluate several times (Spark shares no common
    subtrees across join/union arms): persist it — bounded, via
    ring_persist — when the subtree it re-derives is big enough that
    re-scanning beats the cache barrier, and leave the plan untouched
    otherwise.

    The dispatch compares the size estimate of ``gate`` (the expensive
    input being re-scanned; defaults to ``df``) with
    ``RESCAN_PERSIST_BYTES`` (256 MB). Below the threshold a re-scan
    costs less than the persist's extra AQE stage-materialization
    barriers (measured on quality_percentile_by_source at sf0.1:
    persist = +3 driver jobs for a wall within noise); above it each
    avoided re-evaluation saves a full scan+compute pass of the gated
    subtree, which at 100 TB dominates any cache cost — the same
    size-tiered reasoning as Catalyst's broadcast threshold. An
    unavailable estimate keeps the untouched plan.

    GATE SEMANTICS (ADVICE r12): the threshold is compared against the
    estimate of the RE-SCANNED INPUT (``gate``), not of the persisted
    projection ``df`` — the dispatch asks "is re-deriving this worth
    avoiding", and the cost of re-deriving is a pass over the gate
    subtree. A wide gate feeding a narrow derived table therefore
    fires conservatively-early (the cache is cheaper than the estimate
    suggests), never late."""
    est = size_estimate(gate if gate is not None else df)
    return ring_persist(df) if est is not None and est >= RESCAN_PERSIST_BYTES else df
