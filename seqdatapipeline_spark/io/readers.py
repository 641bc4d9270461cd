"""Sources / scans (SURVEY.md §2.1).

The first-record probe, the archive fallback and the external-ingest
connector are thin path logic around ``spark.read``. The text-shaped
sources (job forms, batch lists) are parsed inside their registered
queries, ``form_scan`` and ``batch_list_scan``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fastq_probe_limit1(df: DataFrame, order_col: str) -> DataFrame:
    """First-record probe to sniff mate encoding (reference
    tools.py:739-744 gzip readline; parserTools.py:280 fastq-dump -X 1).
    Deterministic: explicit order before limit."""
    return df.orderBy(order_col).limit(1)


def archive_fallback_scan(spark: SparkSession, primary: str, archive: str) -> DataFrame:
    """Read from the primary path; fall back to the archive when the
    primary is empty/missing (reference tools.py:636-640 glob local
    ``*.bam`` else archived BAM dir)."""
    try:
        df = spark.read.parquet(primary)
        if df.limit(1).count() > 0:
            return df
    except Exception:
        pass
    return spark.read.parquet(archive)


def external_ingest(
    spark: SparkSession, landing_dir: str, run_id: str, fmt: str = "parquet"
) -> DataFrame:
    """SRA-style external-archive connector (reference
    parserTools.py:247-374: wget → fastq-dump → rename). The engine's
    shape: a driver-side fetch stages files into `landing_dir`; this
    reads the staged run and tags provenance. The network fetch itself
    is environment-specific and intentionally not implemented here."""
    path = os.path.join(landing_dir, run_id) if run_id else landing_dir
    df = spark.read.format(fmt).load(path)
    return df.withColumn("ingest_run", F.lit(run_id or "local")).withColumn(
        "ingest_file", F.input_file_name()
    )
