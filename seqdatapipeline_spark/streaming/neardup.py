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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extensions.dedup import lsh_band_incidence, minhash_signature


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
    materialized (localCheckpoint) BEFORE the store append, so a
    caller draining batches sees stable results regardless of when
    the store files land."""
    spark = batch_docs.sparkSession
    sig = minhash_signature(batch_docs, id_col, text_col, num_hashes)
    keyed = lsh_band_incidence(sig, id_col, num_hashes, band_size).localCheckpoint(
        eager=True
    )
    lo, hi = F.least("a", "b").alias("doc_a"), F.greatest("a", "b").alias("doc_b")
    in_batch = (
        keyed.alias("x")
        .join(keyed.alias("y"), "band_key")
        .select(
            F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .select(lo, hi)
    )
    try:
        store = spark.read.parquet(state_path)
        cross = (
            keyed.join(store.withColumnRenamed(id_col, "__stored"), "band_key")
            .select(F.col(id_col).alias("a"), F.col("__stored").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(lo, hi)
        )
        pairs = in_batch.unionByName(cross)
    except Exception:
        pairs = in_batch
    pairs = pairs.distinct().localCheckpoint(eager=True)
    keyed.write.mode("append").parquet(state_path)
    return pairs


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
    batch_docs = batch_docs.filter(F.col(text_col).isNotNull())
    spark = batch_docs.sparkSession
    w = F.split(F.col(text_col), " ")
    n_spans_expr = F.ceil(F.size(w) / F.lit(k)).cast("int")
    spans = batch_docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans_expr - 1),
                lambda i: F.array_join(F.slice(w, i * k + 1, k), " "),
            )
        ).alias("span_no", "span"),
    ).withColumn("__h", F.md5(F.col("span")))
    firsts = spans.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("span_no"), F.col("span"))).alias("__f")
    )
    if os.path.exists(state_path):
        seen = spark.read.parquet(state_path).select("__h")
        firsts = firsts.join(seen, "__h", "left_anti")
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
