"""Incremental near-dup detection — the streaming half of the
MinHash-LSH story (`dedup_minhash_lsh` is the batch half).

New documents arrive in micro-batches; a persistent **band store**
(doc_id, band_key — the LSH bucket incidence) accumulates one row per
band per doc. Each batch:

1. signatures + band keys for the NEW docs only (the expensive
   shingle/hash pipeline runs once per doc, ever);
2. candidate pairs = in-batch band collisions ∪ (new × stored) band
   collisions — an equi-join of the batch's keys against the store,
   never a rescan of the corpus text;
3. the new keys APPEND to the store (append-only parquet — no
   read-modify-overwrite race, unlike mutable-state sinks).

Two tiers, chosen per batch from the optimizer's size estimate of the
batch (driver-side, zero jobs) against ``LOCAL_MAX_BYTES``:

- **driver-local** (small increments): the keys are computed by the
  same Spark expressions and collected once with ``toArrow``; the
  in-batch pairing (or span first-occurrence) runs in Python; the
  store is probed by ONE join against a local relation of the batch
  keys (a LocalRelation, so it broadcasts) and appended from a local
  relation. The result comes back as a local relation too. Per store
  and batch that is one collect, one probe and one append, where the
  distributed plan pays eager checkpoints and AQE stage jobs for an
  increment of a few hundred rows.
- **distributed** (large increments, or a batch without a size
  estimate such as an RDD-backed frame): self-join / groupBy-min plus
  a store join, the result materialized by ``localCheckpoint``.

Both tiers emit the same rows with the same schema, and both read the
store with its known schema (no footer-read job) after one existence
check through the path's Hadoop FileSystem, so URI state paths
(``file://``, ``hdfs://``, ``s3a://``) work and a damaged store raises
instead of reading as empty.

The union of emitted pairs across batches is EXACTLY the batch LSH
result on the full corpus: a shared band between a and b surfaces
in-batch when they arrive together, or cross-batch when the later one
joins the store (which already holds the earlier one). That identity
is what the SQL oracle checks, and it is the scale story too — a
100 TB corpus is deduped against incrementally at the cost of each
day's increment, with the store hash-partitioned on band_key so the
probe join shuffles only the batch.

Reference analog: the scanner's 12-hour poll feeding per-batch
processing (scanner.sh:3-11, pipelineParser.py:82-84), with the
dedup semantics swapped in.
"""

from __future__ import annotations

import os
from collections import defaultdict
from itertools import combinations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..extensions.dedup import lsh_band_incidence, minhash_signature
from ..session import size_estimate

# Default cutover of both stores: a batch whose optimizer size estimate
# is at most this many bytes takes the driver-local tier. Measured
# crossover on generator text, 4 cores: the local tier wins at 1,000
# docs (116 KB) and loses at 2,500 (276 KB) (SCALING.md, "Ingest tier
# crossover").
LOCAL_MAX_BYTES = 192 * 1024


def _local_tier(batch_docs: DataFrame) -> bool:
    """Whether the batch takes the driver-local tier. A batch without a
    readable estimate, or without statistics (an RDD-backed frame reads
    as Long.MaxValue), takes the distributed one."""
    est = size_estimate(batch_docs)
    return est is not None and est <= LOCAL_MAX_BYTES


def _read_store(spark: SparkSession, path: str, schema: StructType) -> DataFrame | None:
    """The store at ``path`` read with its known schema (no footer-read
    job), or None before its first append. Existence is asked of the
    path's own Hadoop FileSystem, so URI paths work; any read error
    raises."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hp):
        return None
    return spark.read.schema(schema).parquet(path)


def merge_band_store(
    batch_docs: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """Fold one batch of documents into the band store; return the
    near-dup candidate pairs this batch surfaces (as canonical
    doc_a < doc_b rows, already distinct). The returned DataFrame is
    materialized BEFORE the store append (a local relation on the
    driver-local tier, a localCheckpoint on the distributed one), so
    a caller draining batches sees stable results regardless of when
    the store files land."""
    spark = batch_docs.sparkSession
    sig = minhash_signature(batch_docs, id_col, text_col, num_hashes)
    keyed = lsh_band_incidence(sig, id_col, num_hashes, band_size)
    id_field = keyed.schema[id_col]
    store = _read_store(
        spark, state_path, StructType([id_field, StructField("band_key", StringType())])
    )
    if _local_tier(batch_docs):
        return _local_band_pairs(keyed, id_field, store, state_path)
    keyed = keyed.localCheckpoint(eager=True)
    lo, hi = F.least("a", "b").alias("doc_a"), F.greatest("a", "b").alias("doc_b")
    pairs = (
        keyed.alias("x")
        .join(keyed.alias("y"), "band_key")
        .select(
            F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .select(lo, hi)
    )
    if store is not None:
        cross = (
            keyed.join(store.withColumnRenamed(id_col, "__stored"), "band_key")
            .select(F.col(id_col).alias("a"), F.col("__stored").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(lo, hi)
        )
        pairs = pairs.unionByName(cross)
    pairs = pairs.distinct().localCheckpoint(eager=True)
    keyed.write.mode("append").parquet(state_path)
    return pairs


def _local_band_pairs(
    keyed: DataFrame, id_field: StructField, store: DataFrame | None, state_path: str
) -> DataFrame:
    """merge_band_store's driver-local tier: one collect of the band
    keys, the in-batch pairing in Python, one probe join of a local
    relation of the keys against the store, and the append from that
    relation."""
    spark, id_col = keyed.sparkSession, id_field.name
    keys = keyed.toArrow()
    buckets = defaultdict(set)
    for doc, key in zip(keys.column(id_col).to_pylist(), keys.column("band_key").to_pylist()):
        if doc is not None:
            buckets[key].add(doc)
    pairs = {p for ids in buckets.values() for p in combinations(sorted(ids), 2)}
    batch = spark.createDataFrame(keys)
    if keys.num_rows:
        if store is not None:
            # the batch side is below the cutover by construction, so
            # broadcasting it is right however large the store grows
            cross = (
                F.broadcast(batch)
                .join(store.withColumnRenamed(id_col, "__stored"), "band_key")
                .select(id_col, "__stored")
                .filter(F.col(id_col) != F.col("__stored"))
                .toArrow()
            )
            pairs.update(
                (min(a, b), max(a, b))
                for a, b in zip(cross.column(0).to_pylist(), cross.column(1).to_pylist())
            )
        # one file per batch: the collected keys arrive as one Arrow
        # chunk per task, which would otherwise write one file each
        batch.coalesce(1).write.mode("append").parquet(state_path)
    # the distributed tier's union with the store-read side is nullable
    nullable = id_field.nullable or store is not None
    schema = StructType(
        [StructField(c, id_field.dataType, nullable) for c in ("doc_a", "doc_b")]
    )
    typ = keys.schema.field(id_col).type
    a, b = zip(*sorted(pairs)) if pairs else ((), ())
    return spark.createDataFrame(
        pa.table({"doc_a": pa.array(a, typ), "doc_b": pa.array(b, typ)}), schema
    )


def replay_batched(
    docs: DataFrame,
    state_root: str,
    n_batches: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic batch-mode replay of the incremental pipeline:
    split the corpus into ``n_batches`` by id hash, drain them in
    order through merge_band_store, and return the union of surfaced
    pairs — the DataFrame the oracle compares against the one-shot
    batch LSH result. Each batch's pairs are already materialized, so
    the returned union is a cheap in-memory concat."""
    state = os.path.join(state_root, "bands")
    out: DataFrame | None = None
    for i in range(n_batches):
        batch = docs.filter(F.pmod(F.col(id_col), F.lit(n_batches)) == i)
        pairs = merge_band_store(batch, state, id_col, text_col)
        out = pairs if out is None else out.unionByName(pairs)
    return out.select(F.col("doc_a"), F.col("doc_b")).distinct()


def merge_span_store(
    batch_docs: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Incremental C4 span dedup — the streaming half of
    `dedup_spans_exact`. A persistent span store holds the hash of
    every span ever kept; each batch computes its own in-batch first
    occurrences (the same skew-immune groupBy-min the batch operator
    uses), anti-joins them against the store (spans seen in ANY prior
    batch are dropped wholesale), emits per-doc (n_spans,
    n_spans_kept, clean_text), and appends its newly-first span
    hashes. Per-batch cost = the batch's spans + one equi-anti-join
    against the store — the 100 TB corpus is span-deduped at the cost
    of each day's increment, never rescanned.

    When batches drain in ascending id order, the union of emitted
    rows is EXACTLY the one-shot batch result: a duplicated span's
    keeper is the globally smallest (doc, position) whether both
    occurrences share a batch (in-batch min) or not (the earlier
    batch appended it first). That identity is the oracle contract.
    NULL-text rows are excluded, mirroring batch span_dedup (the
    identity only holds if both halves share the text-family NULL
    contract)."""
    local = _local_tier(batch_docs)
    batch_docs = batch_docs.filter(F.col(text_col).isNotNull())
    spark = batch_docs.sparkSession
    w = F.split(F.col(text_col), " ")
    n_spans_expr = F.ceil(F.size(w) / F.lit(k)).cast("int")
    span_arr = F.transform(
        F.sequence(F.lit(0), n_spans_expr - 1),
        lambda i: F.array_join(F.slice(w, i * k + 1, k), " "),
    )
    store = _read_store(spark, state_path, StructType([StructField("__h", StringType())]))
    if local:
        # one row per input doc, so a repeated id keeps its own n_spans
        docs = batch_docs.select(
            F.col(id_col), n_spans_expr.cast("long").alias("n_spans"), span_arr.alias("__s")
        ).select(id_col, "n_spans", "__s", F.transform("__s", F.md5).alias("__hs"))
        return _local_span_rows(docs, store, state_path, id_col)
    spans = batch_docs.select(
        F.col(id_col), F.posexplode(span_arr).alias("span_no", "span")
    ).withColumn("__h", F.md5(F.col("span")))
    firsts = spans.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("span_no"), F.col("span"))).alias("__f")
    )
    if store is not None:
        firsts = firsts.join(store, "__h", "left_anti")
    new_firsts = firsts.localCheckpoint(eager=True)  # stable pre-append
    kept_by_doc = (
        new_firsts.select(
            F.col(f"__f.{id_col}").alias(id_col),
            F.col("__f.span_no").alias("span_no"),
            F.col("__f.span").alias("span"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_no", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    totals = batch_docs.select(F.col(id_col), n_spans_expr.cast("long").alias("n_spans"))
    out = (
        totals.join(kept_by_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_spans",
            F.coalesce(F.col("n_spans_kept"), F.lit(0)).alias("n_spans_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .localCheckpoint(eager=True)  # materialized BEFORE the store
        # append, like merge_band_store: callers draining batches see
        # stable results regardless of when the store files land
    )
    new_firsts.select("__h").write.mode("append").parquet(state_path)
    return out


def _local_span_rows(
    docs: DataFrame, store: DataFrame | None, state_path: str, id_col: str
) -> DataFrame:
    """merge_span_store's driver-local tier. ``docs`` holds one row per
    input doc: (id, n_spans, spans, span md5s). One collect; the
    in-batch first occurrence — the smallest (doc, span_no, span), a
    NULL doc first as in Spark's struct order — in Python; one probe
    join of a local relation of the batch's hashes against the store;
    the append of the newly-first hashes from a local relation."""
    spark = docs.sparkSession
    tbl = docs.toArrow()
    ids, spans_of, hashes_of = (tbl.column(c).to_pylist() for c in (id_col, "__s", "__hs"))
    firsts: dict = {}
    for doc, spans, hashes in zip(ids, spans_of, hashes_of):
        for no, (span, h) in enumerate(zip(spans, hashes)):
            key = (doc is not None, doc, no, span)
            if h not in firsts or key < firsts[h]:
                firsts[h] = key
    if store is not None and firsts:
        # an inner join, not a semi join: a semi join can only build
        # (broadcast) its right side, which is the growing store
        probe = spark.createDataFrame(pa.table({"__h": pa.array(list(firsts), pa.string())}))
        for h in F.broadcast(probe).join(store, "__h").toArrow().column("__h").to_pylist():
            firsts.pop(h, None)
    if firsts:
        new = pa.table({"__h": pa.array(list(firsts), pa.string())})
        spark.createDataFrame(new).write.mode("append").parquet(state_path)
    kept = defaultdict(list)
    for _, doc, no, span in firsts.values():
        kept[doc].append((no, span))
    # a NULL id matches no kept group, as in the distributed tier's join
    kept = {doc: sorted(v) for doc, v in kept.items() if doc is not None}
    id_field = docs.schema[id_col]
    schema = StructType(
        [
            id_field,
            StructField("n_spans", LongType()),
            StructField("n_spans_kept", LongType(), False),
            StructField("clean_text", StringType(), False),
        ]
    )
    rows = pa.table(
        {
            id_col: tbl.column(id_col),
            "n_spans": tbl.column("n_spans"),
            "n_spans_kept": pa.array([len(kept.get(d, ())) for d in ids], pa.int64()),
            "clean_text": pa.array(
                [" ".join(s for _, s in kept.get(d, ())) for d in ids], pa.string()
            ),
        }
    )
    return spark.createDataFrame(rows, schema)


def replay_spans(
    docs: DataFrame,
    state_root: str,
    n_batches: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Deterministic replay of the incremental span dedup: drain the
    corpus in ``n_batches`` ASCENDING id ranges (range order, not hash
    — arrival order must match the batch operator's (doc, position)
    tie-break for the union≡batch identity to hold) and union the
    per-batch outputs."""
    max_id = docs.agg(F.max(id_col)).first()[0] or 0
    width = (int(max_id) // n_batches) + 1
    state = os.path.join(state_root, "spans")
    out: DataFrame | None = None
    for i in range(n_batches):
        batch = docs.filter(
            (F.col(id_col) >= i * width) & (F.col(id_col) < (i + 1) * width)
        )
        res = merge_span_store(batch, state, id_col, text_col, k)
        out = res if out is None else out.unionByName(res)
    return out
