"""Sinks (SURVEY.md §2.1) — TSV outputs, status upsert, archive move,
bucketed tables with their layout spec.

Everything is written with ``df.write`` (distributed, partitioned);
no driver-side collect in any sink path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def counts_tsv_sink(df: DataFrame, path: str, header: bool = True) -> None:
    """Per-gene counts TSV (reference tools.py:649-665 —
    ``<bam>[.feature].counts.txt`` written from htseq stdout)."""
    df.write.mode("overwrite").option("sep", "\t").option("header", header).csv(path)


def hist_tsv_sink(df: DataFrame, path: str, density_col: str = "density") -> None:
    """Fragment-length histogram TSV, header `fLength freq density`,
    density at 6 decimals (reference tools.py:304-311)."""
    out = df.withColumn(density_col, F.format_string("%.6f", F.col(density_col)))
    out.write.mode("overwrite").option("sep", "\t").option("header", True).csv(path)


def log_report_sink(df: DataFrame, path: str) -> None:
    """Tool-report text sink (reference tools.py:183-186 —
    trimming_report.txt from stdout+stderr)."""
    df.write.mode("overwrite").text(path)


def status_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str = "id",
    order_col: str = "ts",
) -> DataFrame:
    """Per-key last-write-wins upsert (reference tools.py:28-56: UPDATE
    one stage column of the wide SQLite row keyed by sample ID).
    Read-modify-overwrite; deterministic tie-break on `order_col`."""
    try:
        existing = spark.read.parquet(path)
        merged = existing.unionByName(updates, allowMissingColumns=True)
    except Exception:
        merged = updates
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    latest = merged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    _overwrite_parquet(latest, path)
    return spark.read.parquet(path)


def archive_move_sink(spark: SparkSession, src_path: str, archive_path: str) -> DataFrame:
    """Move finished data to the archive (reference tools.py:677-734:
    rsync --remove-source-files then rmdir; the 30 s interactive
    confirm is dropped — engines don't prompt). Write-then-delete with
    a read-back verification gate before the source is removed."""
    df = spark.read.parquet(src_path)
    n_src = df.count()
    df.write.mode("overwrite").parquet(archive_path)
    archived = spark.read.parquet(archive_path)
    if archived.count() != n_src:
        raise IOError(f"archive verification failed for {src_path}")
    if os.path.isdir(src_path) or "://" in src_path:
        _hadoop_delete(spark, src_path)
    return archived


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """Write a hash-bucketed (and optionally sorted) table — the
    physical layout that makes repeated joins/aggregations on
    ``bucket_cols`` shuffle-free: two tables bucketed the same way
    sort-merge-join with zero Exchange, and groupBy on the bucket key
    skips its shuffle. This is the engine's answer to the reference's
    coordinate-sorted BAM convention (tools.py:247-248): pay the
    partitioning once at write, reuse it every read.

    Bucketing requires the table catalog (``saveAsTable``); pass
    ``path`` for an external table location.

    Restart robustness: ``mode("overwrite")`` only overwrites when the
    table exists *in the catalog*. This engine deliberately uses the
    session-scoped in-memory catalog, so a NEW process re-curating
    into a warehouse directory left by a previous process would die
    with LOCATION_ALREADY_EXISTS (the production scenario is a restart
    re-running curate_corpus). Before writing we therefore drop any
    same-name catalog entry AND delete stale data at the resolved
    table location — via the Hadoop FileSystem API so the clear works
    on any storage (local/HDFS/S3), not just the local disk."""
    _clear_table_location(df.sparkSession, table, path)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
    write_table_spec(
        df.sparkSession, table, df,
        bucket_cols=bucket_cols, n_buckets=n_buckets, sort_cols=sort_cols,
    )


SPEC_FILE = "_sg_spec.json"


def resolve_table_location(spark: SparkSession, table: str) -> str:
    """The table's resolved storage location from the live catalog."""
    rows = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where("col_name = 'Location'")
        .collect()
    )
    if not rows:
        raise ValueError(f"no location in catalog for table {table}")
    return rows[0].data_type


def write_table_spec(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    bucket_cols: list[str] | None,
    n_buckets: int | None,
    sort_cols: list[str] | None,
) -> None:
    """Drop a spec manifest (`_sg_spec.json`) inside the table's own
    directory: table name, column DDL, and the bucket/sort spec. The
    engine's catalog is deliberately session-scoped (a stale warehouse
    can never shadow fresh parquet), which makes curated tables
    vanish from the catalog on process exit while their data — a
    100 TB curation investment — survives on disk. The manifest is
    what lets ``io.layout.reattach_curated`` re-register the table in
    a NEW process with the exact same bucket spec, so scans resume
    reporting the clustering (exchange-free consumers) without
    re-curating anything. Spark file listings ignore underscore-
    prefixed files, so the manifest is invisible to every scan; it is
    written through the Hadoop FileSystem of the table's own location
    (local/HDFS/S3 alike).

    The DDL comes from ``df`` — the frame just written — NOT from
    ``spark.table(table)``: reading the table here would prime this
    session's relation cache (a Spark-side file-listing snapshot that
    a streaming foreachBatch append, running on a CLONED session,
    cannot invalidate), making later reads in this session silently
    miss appended batches. Found live by
    test_stream_into_curated_keeps_fast_paths_current."""
    loc = resolve_table_location(spark, table)
    spec = {
        "table": table,
        "ddl": df._jdf.schema().toDDL(),
        "bucket_cols": bucket_cols,
        "n_buckets": n_buckets,
        "sort_cols": sort_cols,
    }
    write_spec_at(spark, loc, spec)


def write_spec_at(spark: SparkSession, location: str, spec: dict) -> None:
    """Write a spec manifest dict as `_sg_spec.json` under ``location``
    through that location's own Hadoop FileSystem.

    Staged write + rename (r11 ADVICE): the manifest is minted AFTER
    ``saveAsTable`` commits, so a crash mid-write must never leave a
    HALF manifest — corrupt JSON would poison every future
    ``reattach_curated`` of the whole warehouse, strictly worse than
    the manifest-less state (which reattach detects and reports). The
    rename is atomic on HDFS and effectively so on the local FS; the
    remaining saveAsTable→manifest gap degrades to "no manifest",
    which reattach_curated now logs loudly."""
    import json as _json

    jvm = spark._jvm
    final = jvm.org.apache.hadoop.fs.Path(location.rstrip("/") + "/" + SPEC_FILE)
    tmp = jvm.org.apache.hadoop.fs.Path(
        location.rstrip("/") + "/" + SPEC_FILE + ".__staged__"
    )
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(_json.dumps(spec).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not commit spec manifest at {final}")


def read_table_spec(spark: SparkSession, location: str) -> dict | None:
    """Parse the `_sg_spec.json` manifest at ``location``, or None if
    the directory carries none (pre-manifest stores). Driver-side read
    through the location's own Hadoop FS — NOT spark.read.text, whose
    file index silently filters underscore-prefixed files."""
    import json as _json

    jvm = spark._jvm
    spec_path = jvm.org.apache.hadoop.fs.Path(
        location.rstrip("/") + "/" + SPEC_FILE
    )
    fs = spec_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(spec_path):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(spec_path), "UTF-8")
    )
    try:
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        reader.close()
    try:
        return _json.loads("\n".join(lines))
    except ValueError:
        # a corrupt manifest must degrade to "no manifest" (logged by
        # reattach_curated), never poison the whole warehouse sweep
        import logging

        logging.getLogger(__name__).warning(
            "read_table_spec: unparseable %s at %s — treating as "
            "manifest-less; re-curate to mint a fresh manifest",
            SPEC_FILE, location,
        )
        return None


def _clear_table_location(spark: SparkSession, table: str, path: str | None) -> None:
    """Make ``saveAsTable(table)`` safe across process restarts.

    Acts ONLY when the catalog does NOT know the table — the
    cross-process stale case, where a previous process's warehouse
    directory survives but the session-scoped catalog forgot the
    entry and ``CREATE TABLE`` refuses the non-empty location
    (LOCATION_ALREADY_EXISTS). Then the stale files at the resolved
    location (external ``path`` if given, else
    ``<spark.sql.warehouse.dir>[/<db>.db]/<table>``, honoring the
    session's current database — Spark lowercases managed-table
    directory names) are removed through the Hadoop FileSystem of the
    location URI (local/HDFS/S3 alike).

    A table the catalog DOES know is deliberately left alone:
    ``mode("overwrite").saveAsTable`` already handles the live case,
    and going through it preserves two Spark safety behaviors that
    deleting-first would destroy (r11 review findings): the
    cannot-overwrite-a-table-being-read guard (a self-referential
    write_bucketed fails cleanly with data intact instead of deleting
    the files out from under its own scan), and repoint-don't-delete
    semantics when an existing table is rewritten at a NEW ``path``
    (the old external location's files are not this writer's to
    destroy)."""
    if spark.catalog.tableExists(table):
        return
    if path is not None:
        loc = path
    else:
        parts = table.split(".")
        name = parts[-1].lower()
        db = (
            parts[-2].lower()
            if len(parts) > 1
            else spark.catalog.currentDatabase().lower()
        )
        # Resolve the managed location through the CATALOG's database
        # locationUri, not warehouse-dir string concat (r11 VERDICT
        # nit): a database created with a custom LOCATION would dodge
        # the concat-derived path and the stale-location crash this
        # guard exists for would return in that config. Fallback to
        # the concat derivation only when the catalog cannot answer
        # (it always can for `default`).
        try:
            base = spark.catalog.getDatabase(db).locationUri.rstrip("/")
        except Exception:
            warehouse = spark.conf.get("spark.sql.warehouse.dir")
            base = warehouse.rstrip("/")
            if db and db != "default":
                base = f"{base}/{db}.db"
        loc = f"{base}/{name}"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(loc)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _hadoop_delete(spark: SparkSession, location: str) -> None:
    """Recursive delete through the location's own Hadoop FileSystem —
    the storage-agnostic discipline every curated write path uses
    (local/HDFS/S3 alike); shutil only ever worked on the local FS."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _overwrite_parquet(df: DataFrame, path: str) -> None:
    """Safe overwrite for read-modify-write cycles: stage to a temp
    location first (Spark can't overwrite its own input in place)."""
    tmp = path.rstrip("/") + ".__tmp__"
    df.write.mode("overwrite").parquet(tmp)
    spark = df.sparkSession
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(path)
    _hadoop_delete(spark, tmp)
