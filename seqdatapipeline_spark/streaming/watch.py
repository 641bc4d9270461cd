"""Structured Streaming surface (SURVEY.md §2.9).

The reference's only stream is a 12-hour shell poll of a job folder
(scanner.sh:3-11) with a rename-on-pickup reprocessing guard
(pipelineParser.py:82-84). Spark's file source subsumes both: the
checkpoint tracks processed files (exactly-once), and the trigger
replaces the sleep loop. Watermarked event-time windows are the
designed extension the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def dir_poll_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    fmt: str = "text",
    glob: str = "[0-9]*.txt",
) -> DataFrame:
    """Watch-folder source (reference scanner.sh:3-11: ls + grep
    ``^[0-9].*.txt$`` every 12 h). pathGlobFilter = the grep; the
    file-source checkpoint = the ``@``-rename pickup guard."""
    reader = spark.readStream.format(fmt).option("pathGlobFilter", glob)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path).withColumn("src_file", F.input_file_name())


def stream_parquet_table(
    spark: SparkSession, sf_dir: str, table: str, schema: StructType
) -> DataFrame:
    """Streaming reader for one parquet TABLE that works on BOTH
    physical layouts a table arrives in: a single ``<table>.parquet``
    FILE (the generated testdata) or a Spark-written DIRECTORY of part
    files. The naive ``pathGlobFilter=<table>.parquet`` over the
    parent matches only the file layout — against a directory layout
    it matches no part file and the stream silently reads ZERO rows
    (caught by the r11 dirty-parity sweep: three streaming queries
    returned empty on adversarial datasets, which Spark re-writes as
    directories). A directory streams directly; ``basePath must be a
    directory`` forbids the reverse shortcut, hence the probe."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(p)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hp):
        # fail LOUD: falling through to a glob that matches nothing
        # would stream zero rows forever — the silent-empty failure
        # mode this helper exists to eliminate (r11 review)
        raise ValueError(f"stream_parquet_table: no such table data at {p}")
    if fs.getFileStatus(hp).isDirectory():
        return spark.readStream.schema(schema).parquet(p)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def run_batches(stream_df: DataFrame, batch_fn, checkpoint: str):
    """foreachBatch runner: each micro-batch of job files flows into
    the batch pipeline (reference pipelineParser.py main loop). The
    stream drains the available input with ``availableNow`` and stops,
    exactly-once per batch through the checkpoint; returns the
    terminated query."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exact deduplication on content hash — the ingest-time
    dedup a training-data pipeline runs before anything else touches a
    document. First occurrence wins; later identical payloads are
    dropped across micro-batch boundaries (state lives in the
    checkpoint).

    With ``ts_col``, dedup state is bounded by the watermark
    (`dropDuplicatesWithinWatermark`): a hash seen longer than
    `watermark` ago can be emitted again, but state size stays
    proportional to the watermark window — the only form that survives
    an unbounded stream. Without it, `dropDuplicates` keeps every hash
    forever (exact, but state grows with distinct content; use only
    for bounded backfills)."""
    keys = ["content_hash"] + (extra_keys or [])
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    if ts_col is not None:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return hashed.dropDuplicates(keys)


def stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    click_ts: str = "click_ts",
    pur_ts: str = "purchase_ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream attribution join: each click matched
    to every purchase by the same key in the preceding ``within``
    horizon. Both sides carry watermarks and the join condition
    time-bounds the match window — the two requirements that let
    Structured Streaming expire buffered rows instead of holding both
    streams forever (state ∝ watermark + horizon, not stream length).

    ``withWatermark`` is a no-op on batch DataFrames, so the identical
    function serves the batch equivalence query the oracle checks and
    the streaming deployment the tests run."""
    c = clicks.withWatermark(click_ts, watermark)
    p = purchases.withWatermark(pur_ts, watermark)
    cond = (
        (c[key] == p[key])
        & (c[click_ts] >= p[pur_ts])
        & (c[click_ts] <= F.expr(f"{pur_ts} + INTERVAL {within}"))
    )
    return c.join(p, cond, "inner").drop(p[key])


def stream_into_curated(
    stream_df: DataFrame,
    table: str,
    bucket_col: str,
    checkpoint: str,
    sort_cols: "list[str] | None" = None,
    transform=None,
):
    """Streaming ingest INTO the curated bucketed store: each
    micro-batch lands via io.layout.append_curated_bucketed, so the
    exchange-free fast paths (dedup_alignments, the text-tier
    collapse, funnel windows) stay current as data arrives —
    `writeStream.bucketBy` does not exist in Spark, but foreachBatch
    makes each batch an ordinary bucketed-table insert, which hashes
    the rows with the TABLE's bucket spec and preserves the reported
    clustering. ``transform`` (optional) runs per batch before the
    append — e.g. stamping the stored content_hash on a documents
    stream. Exactly-once within a batch comes from the stream
    checkpoint: a replayed batch re-appends, so keep ingest idempotent
    upstream (dedup on a stored key) or run
    io.layout.compact_curated(table, dedup_cols=[...]) periodically,
    exactly as a production lakehouse does — the same pass folds the
    one-file-per-bucket-per-batch accumulation back to one file per
    bucket."""
    from ..io.layout import append_curated_bucketed

    # foreachBatch executes on a CLONED SparkSession whose insertInto
    # refreshes only the CLONE's relation cache — if the original
    # session ever read spark.table(name) before this batch, its
    # cached file listing would silently miss the appended files. The
    # original session is the stream's own; refresh its cache after
    # every batch so batch-side consumers always see current data.
    origin = stream_df.sparkSession

    def _sink(df: DataFrame, epoch_id: int) -> None:
        batch = transform(df) if transform is not None else df
        append_curated_bucketed(batch, table, bucket_col, sort_cols=sort_cols)
        origin.catalog.refreshTable(table)

    return run_batches(stream_df, _sink, checkpoint)
