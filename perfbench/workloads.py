"""Workload definitions: what each workload runs, and which library
layer every step is attributed to.

A *layer* is a module of ``seqdatapipeline_spark``; each query or batch
step is attributed to the module whose public function it calls. The
per-layer metrics of a traced run are sums over the steps of a layer,
so this map is the single place that decides attribution.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

LAYERS = (
    "session",
    "io.layout",
    "ops.joins",
    "ops.aggregates",
    "ops.windows",
    "pipelines.presets",
    "extensions.dedup",
    "extensions.graph",
    "extensions.similarity",
    "streaming.neardup",
)

# Batch mixes: (registry query, layer). One pass runs every query once,
# each forced end to end with the noop sink.
BATCH_MIXES = {
    "genomics_batch": [
        ("pipeline_rna", "pipelines.presets"),
        ("feature_interval_join", "ops.joins"),
        ("pe_mate_join", "ops.joins"),
        ("dedup_alignments", "ops.aggregates"),
        ("coverage_bin_count", "ops.aggregates"),
        ("peak_call", "ops.windows"),
    ],
    "corpus_curation": [
        ("dedup_minhash_lsh", "extensions.dedup"),
        ("ann_topk_cosine", "extensions.similarity"),
        ("pagerank_iter", "extensions.graph"),
    ],
}

# ingest_stream steps per batch, with their layers. The serving read
# is the registry's dedup_alignments, which reads the curated copy of
# the alignment table when one is registered (io.layout
# curated_or_parquet) and dedups it with ops.aggregates.
INGEST_STEPS = {
    "merge_band_store": "streaming.neardup",
    "merge_span_store": "streaming.neardup",
    "append_curated_bucketed": "io.layout",
    "serving_read": "ops.aggregates",
    "compact_curated": "io.layout",
    "write_curated_bucketed": "io.layout",
}
INGEST_COMPACT_EVERY = 2  # batches per compaction cycle; compact_curated ends a cycle
INGEST_BUCKETS = 8
SETUP_LAYER = "session"

WORKLOADS = ("genomics_batch", "corpus_curation", "ingest_stream")
# Fewest warm passes a run measures, whatever --seconds says (an
# ingest_stream pass is one compaction cycle of INGEST_COMPACT_EVERY
# batches).
MIN_PASSES = {"genomics_batch": 4, "corpus_curation": 3, "ingest_stream": 2}

# Which end-to-end metric each per-layer metric should move, and where
# it should stay flat (a per-layer change that moves a "flat" workload
# is a regression signal of its own). The launch-bound share of a mix
# is stamped by every traced run as trace.jobs_x_lambda_share.
LAYER_METRIC_MAP = [
    {"layer_metrics": ["*.jobs", "*.sched_wait_s", "session.lambda_ms_t1",
                       "session.lambda_ms_t4"],
     "moves": ["pass_wall_s", "batch_latency_p50_s"],
     "on": ["corpus_curation", "ingest_stream", "genomics_batch"], "flat_on": [],
     "note": "genomics_batch is not flat under launch latency at its size: "
             "21 jobs per 3-5 s pass, jobs x lambda measured 0.10-0.16 of the "
             "pass at lambda 19-41 ms, so a lambda change moves its pass_wall_s "
             "by about that share (corpus_curation 0.07-0.12, ingest_stream 0.13-0.23)"},
    {"layer_metrics": ["ops.*.exec_s", "ops.*.shuffle_mb", "ops.*.spill_mb",
                       "pipelines.presets.exec_s"],
     "moves": ["pass_wall_s", "cold_pass_s"],
     "on": ["genomics_batch"], "flat_on": ["corpus_curation"]},
    {"layer_metrics": ["extensions.dedup.build_s", "extensions.dedup.jobs",
                       "extensions.dedup.candidate_precision"],
     "moves": ["pass_wall_s"], "on": ["corpus_curation"], "flat_on": ["genomics_batch"]},
    {"layer_metrics": ["extensions.graph.build_s", "extensions.similarity.exec_s"],
     "moves": ["pass_wall_s"], "on": ["corpus_curation"],
     "flat_on": ["genomics_batch", "ingest_stream"]},
    {"layer_metrics": ["streaming.neardup.*", "io.layout.append_s",
                       "io.layout.files_per_bucket"],
     "moves": ["batch_latency_tail_s", "ingest_rows_per_s"], "on": ["ingest_stream"],
     "flat_on": ["genomics_batch", "corpus_curation"]},
    {"layer_metrics": ["io.layout.curate_s"], "moves": ["setup_s"],
     "on": ["ingest_stream"], "flat_on": []},
]


def clear_memos(spark) -> None:
    """Measurement-integrity clear between timed passes: the library's
    memo families (curated-detection/plain-reader, interval stats,
    pagerank ranks, LSH duplication stats), its persist ring, and every
    persisted RDD, so no warm pass measures a memo hit or a cached
    shuffle. A renamed hook fails the import instead of silently
    leaving its memo warm."""
    from seqdatapipeline_spark.extensions.dedup import _dup_stats_clear
    from seqdatapipeline_spark.extensions.graph import _rank_memo_clear
    from seqdatapipeline_spark.io.layout import detect_cache_clear
    from seqdatapipeline_spark.ops.joins import _adaptive_stats_clear
    from seqdatapipeline_spark.session import ring_clear

    detect_cache_clear()
    _adaptive_stats_clear()
    _rank_memo_clear()
    _dup_stats_clear()
    ring_clear()
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = persisted.values().iterator()
    while it.hasNext():
        it.next().unpersist(True)


def input_rows(sf_dir: str, tables: list[str]) -> int:
    """Row count of the given generated tables (parquet footers only)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in tables
    )


# Tables each batch mix reads, for its rows/s figure.
BATCH_TABLES = {
    "genomics_batch": ["lineitem", "part", "events"],
    "corpus_curation": ["documents", "embeddings", "lineitem"],
}


class IngestLoop:
    """Closed-loop ingest of the generated increments: batch i+1 is
    handed over only after batch i's pairs, span dedup, curated append
    and serving read are all done (the last batch of a compaction cycle
    also compacts the curated table). State (band store, span store, curated table) lives
    under ``state_dir`` and grows for the session's lifetime."""

    def __init__(self, spark, sf_dir: str, state_dir: str, queries, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.state_dir = state_dir
        self.queries = queries
        self.tracer = tracer
        self.next_batch = 0
        self.appended_rows = 0
        self.base_rows = 0
        self.pairs: set[tuple[int, int]] = set()
        self.files_per_bucket: list[float] = []
        from seqdatapipeline_spark.io import layout

        self.layout = layout
        self.table = layout.bucketed_table_name(sf_dir, "lineitem", "l_orderkey")

    def curate_base(self) -> None:
        """Set-up: the curated alignment table the batches append into."""
        base = self.spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
        with self.tracer.step("write_curated_bucketed", "build"):
            self.layout.write_curated_bucketed(
                base, self.table, "l_orderkey", INGEST_BUCKETS
            )
        self.base_rows = input_rows(self.sf_dir, ["lineitem"])

    def batches_available(self) -> int:
        return len(os.listdir(os.path.join(self.sf_dir, "batches")))

    def run_batch(self, compact: bool):
        """Process the next increment: pairs, span dedup, curated append
        and serving read, then compaction when ``compact`` (the last
        batch of a cycle). Returns the batch's materialized near-dup
        pairs for ``account``."""
        from seqdatapipeline_spark.streaming import neardup

        spark, step = self.spark, self.tracer.step
        bdir = self._batch_dir(self.next_batch)
        # Reading an increment (a footer-read job each) is part of the
        # step that first consumes it.
        with step("merge_band_store", "build"):
            docs = spark.read.parquet(os.path.join(bdir, "documents.parquet"))
            pairs = neardup.merge_band_store(docs, os.path.join(self.state_dir, "bands"))
        with step("merge_span_store", "build"):
            neardup.merge_span_store(docs, os.path.join(self.state_dir, "spans"))
        with step("append_curated_bucketed", "build"):
            align = spark.read.parquet(os.path.join(bdir, "lineitem.parquet"))
            self.layout.append_curated_bucketed(
                align, self.table, "l_orderkey", INGEST_BUCKETS
            )
        with step("serving_read", "build"):
            served = self.queries["dedup_alignments"](spark, self.sf_dir)
        with step("serving_read", "exec"):
            noop(served)
        self.next_batch += 1
        if compact:
            with step("compact_curated", "build"):
                self.layout.compact_curated(spark, self.table)
        return pairs

    def account(self, pairs) -> int:
        """Bookkeeping outside the batch latency: keep the batch's pairs
        for the end-of-run check, sample the curated table's files per
        bucket; returns the rows the batch absorbed."""
        self.pairs.update((r[0], r[1]) for r in pairs.collect())
        self.sample_files_per_bucket()
        bdir = self._batch_dir(self.next_batch - 1)
        n_align = input_rows(bdir, ["lineitem"])
        self.appended_rows += n_align
        return n_align + input_rows(bdir, ["documents"])

    def _batch_dir(self, b: int) -> str:
        return os.path.join(self.sf_dir, "batches", f"{b:03d}")

    def sample_files_per_bucket(self) -> None:
        from seqdatapipeline_spark.io.sinks import resolve_table_location

        loc = resolve_table_location(self.spark, self.table)
        loc = loc[len("file:"):] if loc.startswith("file:") else loc
        files = [f for f in os.listdir(loc) if f.startswith("part-")]
        self.files_per_bucket.append(len(files) / INGEST_BUCKETS)

    def store_mb(self) -> float:
        total = 0
        for sub in ("bands", "spans"):
            for dirpath, _, files in os.walk(os.path.join(self.state_dir, sub)):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total / 1e6

    def docs_ingested(self) -> list[str]:
        return [
            os.path.join(self._batch_dir(b), "documents.parquet")
            for b in range(self.next_batch)
        ]

    def curated_rows(self) -> int:
        return self.spark.table(self.table).count()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor stole between two
    ``cpu_steal`` readings."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def least_disturbed(samples: list) -> list:
    """The half (rounded up) of timed samples ``(wall, steal share, ...)``
    during which the hypervisor stole the least CPU time; ties go to the
    later (warmer) samples. Steal on this kind of shared
    host comes in bursts of seconds that add their length to whatever
    runs on the stalled core, so a statistic over every sample follows
    the bursts; over the least-stolen half it follows them much less."""
    keep = (len(samples) + 1) // 2
    return sorted(reversed(samples), key=lambda s: s[1])[:keep]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def lambda_probe(spark, tasks: int, n: int = 5) -> float:
    """Median wall (ms) of a trivial one-job, ``tasks``-task noop write:
    the per-job launch latency a job of that width pays."""
    import statistics
    import time

    df = spark.range(0, tasks * 100, 1, tasks).select(F.col("id") + 1)
    noop(df)  # codegen warm
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        noop(df)
        walls.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(walls)
