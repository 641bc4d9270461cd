"""Graded operator registry: every SURVEY.md §2 operator ID bound to
the driver's synthetic star schema, with a DuckDB oracle where the
semantics are SQL-expressible.

Parity rules applied throughout (Spark ↔ DuckDB):
- counts/lengths/sizes are BIGINT on both sides (Spark `size`/`length`
  return int → cast; DuckDB `sum(int)` returns HUGEINT → cast);
- `floor` is cast to BIGINT on the DuckDB side (Spark floor is long);
- any double produced by multi-row accumulation is rounded to a fixed
  number of decimals on BOTH sides;
- arrays are serialized to deterministic sorted CSV strings;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import layout as lay
from .io import readers, sinks
from .ops import aggregates as agg
from .ops import filters as flt
from .ops import joins as jn
from .ops import setops
from .ops import strings as st
from .ops import windows as win

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch") \
    if "__file__" in globals() else "/root/repo/.scratch"


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain table reader — memoized per (session, path, dir-mtime)
    via io.layout.plain_parquet: a naked spark.read.parquet costs a
    driver-side footer/schema job PER CALL, and two of those sat at
    the head of every two-table query (measured r10: jobs 1-2 of
    feature_interval_join's 6-job plan-build phase)."""
    if name == "events":
        return _events(spark, sf_dir)
    from .io.layout import plain_parquet

    return plain_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Read nanos as long (legacy conf, set here for
    sessions not built by get_spark) and truncate to microseconds —
    exactly what DuckDB's reader does — so both engines see identical
    timestamp values."""
    from .io.layout import plain_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = plain_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    from pyspark.sql.types import LongType

    if isinstance(e.schema["ts"].dataType, LongType):
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def _t_events_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events preferring a session-curated copy bucketed (and sorted)
    on (user_id, ts): per-user windows and groupBys then run with NO
    exchange, and with one file per bucket the scan also reports the
    sort order, deleting the window's SortExec — the layout a 100 TB
    behavioral store curates at ingest. The curated copy stores the
    already-converted micros timestamp, so both paths see identical
    values; plain path falls back to the nanos-as-long reader."""
    name = lay.bucketed_table_name(sf_dir, "events", "user_id")
    df = lay._cached_table_or_none(spark, name)
    if df is not None:
        return df
    return _t(spark, sf_dir, "events")


def _scratch(tag: str) -> str:
    os.makedirs(SCRATCH, exist_ok=True)
    return os.path.join(SCRATCH, f"{tag}-{uuid.uuid4().hex[:8]}")


# ---------------------------------------------------------------------------
# §2.1 Scans / sources / sinks
# ---------------------------------------------------------------------------

_FORM_RE = r"(?s)<FastQFile>(.*?)</FastQFile>"


@q(
    "form_scan",
    """
    WITH forms AS (
      SELECT c_custkey,
             c_name || chr(10) || c_mktsegment ||
             chr(10) || '<FastQFile>f' || c_custkey || '_R1.fq.gz' || chr(10) ||
             'f' || c_custkey || '_R2.fq.gz</FastQFile>' AS form
      FROM customer
    )
    SELECT c_custkey,
           string_split(form, chr(10))[1] AS contact,
           string_split(form, chr(10))[2] AS segment,
           replace(regexp_extract(form, '(?s)<FastQFile>(.*?)</FastQFile>', 1), chr(10), ',') AS fq_csv
    FROM forms
    """,
)
def q_form_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-form parsing: positional header rows + <FastQFile> block
    (reference parserTools.py:9-91). The form text is synthesized from
    customer fields, then parsed back with the same regex + positional
    split the real reader (io.readers.form_scan) uses."""
    c = _t(spark, sf_dir, "customer")
    form = F.concat(
        F.col("c_name"), F.lit("\n"), F.col("c_mktsegment"), F.lit("\n<FastQFile>f"),
        F.col("c_custkey"), F.lit("_R1.fq.gz\nf"), F.col("c_custkey"), F.lit("_R2.fq.gz</FastQFile>"),
    )
    lines = F.split(form, "\n")
    return c.select(
        "c_custkey",
        F.element_at(lines, 1).alias("contact"),
        F.element_at(lines, 2).alias("segment"),
        F.regexp_replace(F.regexp_extract(form, _FORM_RE, 1), "\n", ",").alias("fq_csv"),
    )


@q(
    "batch_list_scan",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_files,
           string_split(text, ' ')[1] AS first_file
    FROM documents
    """,
)
def q_batch_list_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-list scan: one whitespace-separated entry list per line
    (reference mainScript.py:217-225) → ArrayType, not comma-strings."""
    d = _t(spark, sf_dir, "documents")
    parts = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(parts).cast("long").alias("n_files"),
        F.element_at(parts, 1).alias("first_file"),
    )


@q(
    "fastq_probe_limit1",
    """
    SELECT doc_id, string_split(text, ' ')[1] AS first_token
    FROM documents ORDER BY doc_id LIMIT 1
    """,
)
def q_fastq_probe_limit1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-record probe (reference tools.py:739-744: read only the
    head of a gzipped FASTQ to sniff the mate encoding)."""
    d = _t(spark, sf_dir, "documents")
    probe = readers.fastq_probe_limit1(d, "doc_id")
    return probe.select(
        "doc_id", F.element_at(F.split("text", " "), 1).alias("first_token")
    )


@q(
    "sra_source",
    "SELECT 'local' AS ingest_run, count(*) AS n FROM events",
)
def q_sra_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-archive ingest connector shape (reference
    parserTools.py:247-374): staged landing zone → tagged DataFrame.
    The network fetch is environment-specific; the connector reads the
    staged run and stamps provenance."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = readers.external_ingest(spark, os.path.join(sf_dir, "events.parquet"), "")
    return df.groupBy("ingest_run").agg(F.count("*").alias("n"))


@q(
    "dir_poll_stream",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def q_dir_poll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watch-folder micro-batch ingest (reference scanner.sh:3-11),
    run for real through Structured Streaming: file source with
    pathGlobFilter → windowless aggregate → memory sink, drained with
    availableNow (the reference's 12 h poll becomes a trigger)."""
    from .io.layout import plain_parquet
    from .streaming.watch import stream_parquet_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = plain_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = stream_parquet_table(spark, sf_dir, "events", raw_schema)
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    name = f"dirpoll_{uuid.uuid4().hex[:8]}"
    qh = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination()
    return spark.table(name)


@q(
    "archive_file_scan",
    "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def q_archive_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-then-archive fallback scan (reference tools.py:636-640):
    the primary path is empty here, so the read falls back."""
    df = readers.archive_fallback_scan(
        spark,
        primary=os.path.join(sf_dir, "__no_such_dir__"),
        archive=os.path.join(sf_dir, "lineitem.parquet"),
    )
    return df.groupBy("l_returnflag").agg(F.count("*").alias("n"))


@q(
    "software_version_scan",
    "SELECT r_regionkey, r_name FROM region WHERE r_regionkey % 2 = 0",
)
def q_software_version_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog snapshot filter (reference tools.py:859-871:
    ``WHERE status=='current'`` over the software_version catalog) —
    a dim-table predicate scan."""
    r = _t(spark, sf_dir, "region")
    return r.filter(F.col("r_regionkey") % 2 == 0).select("r_regionkey", "r_name")


@q(
    "sqlite_log_sink",
    """
    SELECT user_id, event_id AS first_event, event_type AS first_type
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
)
def q_sqlite_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OR IGNORE semantics (reference mainScript.py:336-341):
    first write per key wins; later submissions of the same sample ID
    are ignored. Deterministic arrival order = (ts, event_id)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )  # first-write-wins needs a key and an arrival order
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event"),
            F.col("event_type").alias("first_type"),
        )
    )


@q(
    "counts_tsv_sink",
    "SELECT l_partkey AS gene_id, count(*) AS n FROM lineitem GROUP BY l_partkey",
)
def q_counts_tsv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts-TSV sink round-trip (reference tools.py:649-665): grouped
    counts written as TSV, read back, returned — proves the sink."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("gene_id")).agg(F.count("*").alias("n"))
    path = _scratch("counts_tsv")
    sinks.counts_tsv_sink(counts, path)
    return (
        spark.read.option("sep", "\t").option("header", True)
        .schema("gene_id bigint, n bigint")
        .csv(path)
    )


@q(
    "hist_tsv_sink",
    """
    SELECT CAST(floor(abs(value)) AS BIGINT) AS fLength,
           count(*) AS freq,
           printf('%.6f', count(*) / (SELECT count(*) FROM events) * 1.0) AS density
    FROM events GROUP BY 1
    """,
)
def q_hist_tsv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-TSV sink round-trip with 6-decimal density formatting
    (reference tools.py:304-311, header `fLength freq density`)."""
    e = _t(spark, sf_dir, "events")
    hist = agg.fragment_length_histogram(
        e.select(F.floor(F.abs("value")).alias("tlen")), "tlen"
    )
    path = _scratch("hist_tsv")
    sinks.hist_tsv_sink(hist, path)
    return (
        spark.read.option("sep", "\t").option("header", True)
        .schema("fLength bigint, freq bigint, density string")
        .csv(path)
    )


@q(
    "archive_move_sink",
    "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def q_archive_move_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-move lifecycle (reference tools.py:677-734 rsync
    --remove-source-files): stage → move to archive with read-back
    verification → source removed. Verified by aggregating the
    archived copy."""
    li = _t(spark, sf_dir, "lineitem")
    src = _scratch("archive_src")
    dst = _scratch("archive_dst")
    li.write.mode("overwrite").parquet(src)
    archived = sinks.archive_move_sink(spark, src, dst)
    return archived.groupBy("l_returnflag").agg(F.count("*").alias("n"))


@q(
    "email_sink",
    """
    WITH done AS (SELECT DISTINCT o_custkey FROM orders)
    SELECT c.c_custkey, c.c_name,
           CASE WHEN d.o_custkey IS NOT NULL THEN 'completed' ELSE 'not_completed' END AS status,
           concat_ws(' ', c.c_name, 'sample', CAST(c.c_custkey AS VARCHAR),
                     CASE WHEN d.o_custkey IS NOT NULL THEN 'completed' ELSE 'not_completed' END) AS alert
    FROM customer c LEFT JOIN done d ON c.c_custkey = d.o_custkey
    """,
)
def q_email_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion-notice rows — the email sink reshaped as an alerts
    DataFrame (reference parserTools.py:94-176 constructEmail listing
    completed / not-completed IDs)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    done = o.select(F.col("o_custkey").alias("c_custkey")).distinct().withColumn("__done", F.lit(True))
    joined = c.join(F.broadcast(done), "c_custkey", "left")
    status = F.when(F.col("__done"), "completed").otherwise("not_completed")
    return joined.select(
        "c_custkey",
        "c_name",
        status.alias("status"),
        F.concat_ws(" ", F.col("c_name"), F.lit("sample"), F.col("c_custkey").cast("string"), status).alias("alert"),
    )


@q(
    "trim_report_sink",
    """
    SELECT 'flag ' || l_returnflag || ': ' || CAST(count(*) AS VARCHAR) || ' rows' AS value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_trim_report_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-report text sink round-trip (reference tools.py:183-186
    trimming_report.txt): report lines written with the text sink and
    read back."""
    li = _t(spark, sf_dir, "lineitem")
    report = li.groupBy("l_returnflag").agg(F.count("*").alias("n")).select(
        F.concat(F.lit("flag "), F.col("l_returnflag"), F.lit(": "), F.col("n").cast("string"), F.lit(" rows")).alias("value")
    )
    path = _scratch("trim_report")
    sinks.log_report_sink(report, path)
    return spark.read.text(path)


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@q("filter_not_chrm", "SELECT * FROM lineitem WHERE l_returnflag <> 'R'")
def q_filter_not_chrm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrM exclusion (reference tools.py:243 grep -v chrM) — a
    not-equals predicate pushed to the parquet scan."""
    return flt.filter_not_chrm(_t(spark, sf_dir, "lineitem"), "l_returnflag", "R")


@q("filter_tlen_range", "SELECT * FROM events WHERE value > -100 AND value < 100")
def q_filter_tlen_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATAC TLEN band filter (reference tools.py:244-245 awk
    ``($9>-100) && ($9<100)``)."""
    return flt.filter_tlen_range(_t(spark, sf_dir, "events"), "value", -100, 100)


@q("filter_mapped_flag", "SELECT * FROM part WHERE (p_size & 4) = 0")
def q_filter_mapped_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAG bit-4 exclusion (reference tools.py:246, samtools view -F4)."""
    return flt.filter_mapped_flag(_t(spark, sf_dir, "part"), "p_size", 4)


@q("filter_paired_flag_count", "SELECT count(*) AS n_set FROM part WHERE (p_size & 1) <> 0")
def q_filter_paired_flag_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAG bit-1 count feeding the BAM/BAMPE auto-detect conditional
    (reference tools.py:580-586, samtools view -c -f 1)."""
    return flt.count_flag_set(_t(spark, sf_dir, "part"), "p_size", 1)


@q("project_tlen", "SELECT event_id, value FROM events")
def q_project_tlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-column projection (reference tools.py:249-250 awk $9) —
    column pruning reaches the parquet ReadSchema."""
    return flt.project_tlen(_t(spark, sf_dir, "events"), ("event_id", "value"))


@q("filter_jobfile_regex", "SELECT * FROM documents WHERE regexp_matches(source, '^src1[0-9]$')")
def q_filter_jobfile_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-file name regex (reference scanner.sh:5 grep -E
    '^[0-9].*.txt$')."""
    return flt.filter_name_regex(_t(spark, sf_dir, "documents"), "source", "^src1[0-9]$")


@q("filter_nonzero_size", "SELECT count(*) > 0 AS nonempty FROM lineitem")
def q_filter_nonzero_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty input guard (reference tools.py:116 etc. os.stat size
    asserts) as a composable 1-row check."""
    return flt.nonempty_check(_t(spark, sf_dir, "lineitem"))


@q(
    "filter_application_whitelist",
    "SELECT * FROM orders WHERE lower(o_orderpriority) IN ('1-urgent', '2-high')",
)
def q_filter_application_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Application whitelist (reference pipelineParser.py:90-92)."""
    return flt.filter_whitelist(
        _t(spark, sf_dir, "orders"), "o_orderpriority", ["1-URGENT", "2-HIGH"]
    )


@q(
    "filter_arity",
    "SELECT doc_id, n_chars FROM documents WHERE len(string_split(text, ' ')) <= 40",
)
def q_filter_arity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arity guard on multi-part inputs (reference mainScript.py:234-253:
    ≥3 comma-parts is a malformed PE spec)."""
    d = _t(spark, sf_dir, "documents").withColumn("fq", F.split("text", " "))
    return flt.filter_arity(d, "fq", 40).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@q(
    "pe_mate_join",
    """
    SELECT a.l_orderkey AS read_id, a.l_quantity AS qty_1, b.l_quantity AS qty_2,
           a.l_partkey AS part_1, b.l_partkey AS part_2
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = 1 AND b.l_linenumber = 2
    """,
)
def q_pe_mate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mate pairing on read id (reference tools.py:737-786 PE_check:
    id match + mate-1-first ordering). Both mates live in one source
    here, so this runs the single-scan groupBy-enumerate form
    (ops.joins.mate_pair_enumerate — one shuffle, hash agg, no sort,
    exact join semantics incl. duplicate keys); the two-source
    equi-join form remains ops.joins.pe_mate_join. When the session
    carries a curated copy bucketed on l_orderkey
    (io.layout.write_curated_bucketed), the scan reports that clustering and
    the groupBy's exchange disappears — the pairing becomes pure
    scan + map-side work, the shape a 100 TB alignment store wants."""
    src, _ = lay.curated_or_parquet(spark, sf_dir, "lineitem", "l_orderkey")
    li = src.select(
        F.col("l_orderkey").alias("read_id"),
        F.col("l_linenumber").alias("mate"),
        F.col("l_quantity").alias("qty"),
        F.col("l_partkey").alias("part"),
    )
    return jn.mate_pair_enumerate(
        li, key="read_id", tag_col="mate", value_cols=["qty", "part"]
    )


@q(
    "pe_mate_pivot",
    """
    SELECT read_id, qty_1, qty_2, part_1, part_2 FROM (
      SELECT l_orderkey AS read_id,
             max(CASE WHEN l_linenumber = 1 THEN 1 END) AS p1,
             max(CASE WHEN l_linenumber = 2 THEN 1 END) AS p2,
             max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS qty_1,
             max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS qty_2,
             max(CASE WHEN l_linenumber = 1 THEN l_partkey END) AS part_1,
             max(CASE WHEN l_linenumber = 2 THEN l_partkey END) AS part_2
      FROM lineitem GROUP BY 1
    ) WHERE p1 IS NOT NULL AND p2 IS NOT NULL
    """,
)
def q_pe_mate_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-read mate pairing (ops.joins.mate_pair_pivot): the
    (key, tag)-unique fast path — single scan, one map-side-combinable
    groupBy pivot, no pair enumeration at all. The form a well-formed
    mate table (one record per read per mate) should run at 100 TB;
    under duplicate keys it collapses to max-per-side where
    pe_mate_join enumerates pairs. Inherits the curated-layout fast
    path: on a copy bucketed by l_orderkey the pivot groupBy runs
    exchange-free (see q_pe_mate_join)."""
    src, _ = lay.curated_or_parquet(spark, sf_dir, "lineitem", "l_orderkey")
    li = src.select(
        F.col("l_orderkey").alias("read_id"),
        F.col("l_linenumber").alias("mate"),
        F.col("l_quantity").alias("qty"),
        F.col("l_partkey").alias("part"),
    )
    return jn.mate_pair_pivot(li, key="read_id", tag_col="mate", value_cols=["qty", "part"])


@q(
    "feature_interval_join",
    """
    SELECT p.p_brand, count(*) AS n
    FROM part p JOIN lineitem l
      ON l.l_extendedprice >= p.p_retailprice * 0.5
     AND l.l_extendedprice <= p.p_retailprice * 1.5
    GROUP BY p.p_brand
    """,
)
def q_feature_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """htseq-count semantics (reference tools.py:625-674): overlap-join
    points against intervals, then count per group key. Executed with
    the interval-COUNT rewrite (ops.joins.interval_count_adaptive):
    the point×interval pair set (59M rows at sf0.1 for 600k×20k
    inputs) is never materialized — on the sparse route interior bins
    read a pre-aggregated per-bin count table at the swept fixed width
    and only the two edge bins of each interval touch raw points; on
    the dense route the interior is two prefix-sum F-lookups per
    interval (linear at any density; the fixed-bin edge join alone is
    384x wall at 100x replication).
    Pair-producing callers use interval_join_binned; the plan here is
    the one a 100 TB htseq-count wants."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.lit("all").alias("rname"), F.col("l_extendedprice").alias("pos")
    )
    part = _t(spark, sf_dir, "part").select(
        F.lit("all").alias("chrom"),
        F.col("p_brand"),
        (F.col("p_retailprice") * 0.5).alias("start"),
        (F.col("p_retailprice") * 1.5).alias("end"),
    )
    return jn.interval_count_adaptive(li, part, group_cols=["p_brand"])


@q(
    "metrics_interval_join",
    """
    WITH bands(category, lo, hi) AS (
      VALUES ('low', 0.0, 1000.0), ('mid', 1000.0, 5000.0), ('high', 5000.0, 1e12)
    )
    SELECT b.category, count(*) AS n,
           round(count(*) / (SELECT count(*) FROM orders) * 1.0, 6) AS pct
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.category
    """,
)
def q_metrics_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard CollectRnaSeqMetrics semantics (reference
    tools.py:447-496): classify records into categories by interval
    membership, then per-category counts + fractions. The band dim is
    folded into a codegen CASE chain (ops.joins.band_classify) — ~7x
    faster than the BroadcastNestedLoopJoin it replaces."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 1000.0), ("mid", 1000.0, 5000.0), ("high", 5000.0, 1e12)],
        "category string, lo double, hi double",
    )
    joined = jn.band_classify(o, bands, "o_totalprice")
    counts = joined.groupBy("category").agg(F.count("*").alias("n"))
    # Bands partition the whole domain, so Σn == count(orders): the
    # total comes from the 3-row aggregate (one fact scan), not from a
    # second scan of orders. (For non-exhaustive bands, aggregate the
    # fact side once and derive both from it.)
    w = Window.partitionBy()
    return counts.withColumn("pct", F.round(F.col("n") / F.sum("n").over(w) * 1.0, 6))


@q(
    "completion_semi_join",
    "SELECT * FROM customer c WHERE c.c_custkey IN (SELECT o_custkey FROM orders)",
)
def q_completion_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion membership as a semi-join (reference
    parserTools.py:211-215)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return jn.semi_join(c, o, "c_custkey")


@q(
    "contact_lookup_join",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_name AS contact
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_contact_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """userName → contact enrichment (reference pipelineParser.py:86-88)
    as an explicit broadcast hash join — the fact side never shuffles."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_name").alias("contact")
    )
    return jn.broadcast_lookup_join(o, c, "o_custkey").select(
        "o_orderkey", "o_custkey", "contact"
    )


@q(
    "anti_join_missing_forms",
    "SELECT * FROM customer c WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders)",
)
def q_anti_join_missing_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-form rejection as an anti-join (reference
    pipelineParser.py:45-55 → notProcessed.txt)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return jn.anti_join(c, o, "c_custkey")


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@q(
    "fragment_length_histogram",
    """
    SELECT CAST(floor(abs(value)) AS BIGINT) AS fLength,
           count(*) AS freq,
           count(*) / (SELECT count(*) FROM events) * 1.0 AS density
    FROM events GROUP BY 1
    """,
)
def q_fragment_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs(TLEN) histogram + density (reference tools.py:294-311
    np.bincount → density=freq/Σfreq). Grand total via broadcast scalar
    join, not an unpartitioned window."""
    e = _t(spark, sf_dir, "events").select(F.floor(F.abs("value")).alias("tlen"))
    return agg.fragment_length_histogram(e, "tlen")


@q(
    "coverage_bin_count",
    """
    SELECT event_type AS rname, CAST(floor(value / 25) AS BIGINT) AS bin, count(*) AS count
    FROM events GROUP BY 1, 2
    """,
)
def q_coverage_bin_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage per fixed window — igvtools count -w 25 semantics
    (reference tools.py:499-552): tumbling coordinate window =
    map-side-combinable groupBy."""
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("rname"), F.col("value").alias("pos")
    )
    return agg.coverage_bin_count(e, "rname", "pos", 25)


@q(
    "gene_read_count",
    "SELECT l_partkey AS gene_id, count(*) AS n FROM lineitem GROUP BY l_partkey",
)
def q_gene_read_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gene grouped count — the aggregation half of htseq-count
    (reference tools.py:651-665)."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("gene_id"))
    return agg.gene_read_count(li, "gene_id")


@q("distinct_sorted", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")
def q_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sorted(set(x)) (reference mainScript.py:228 + 8 more sites)."""
    return agg.distinct_sorted(_t(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus")


@q(
    "dedup_alignments",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_dedup_alignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCR-duplicate removal: collapse same-coordinate records keeping
    the best/first (reference tools.py:314-317 samtools rmdup).
    l_quantity is a second sort key: the synthetic data has full
    (orderkey, partkey, linenumber) duplicates, and a deterministic
    total order is what makes oracle hashes stable (SURVEY.md §7 risk
    5). When a curated copy bucketed on l_orderkey exists
    (io.layout.write_curated_bucketed), the scan's hash clustering satisfies
    the (l_orderkey, l_partkey) grouping — bucket cols are a prefix of
    the keys — so the dedup runs with NO exchange: the one shuffle
    this op has, and at 1000x replication its entire 53s cost."""
    src, curated = lay.curated_or_parquet(spark, sf_dir, "lineitem", "l_orderkey")
    li = src.select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    return agg.dedup_keep_first(
        li,
        ["l_orderkey", "l_partkey"],
        ["l_linenumber", "l_quantity"],
        pre_partitioned=curated,
    )


@q(
    "group_route_jobs",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_jobs,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS job_ids
    FROM orders GROUP BY 1, 2
    """,
)
def q_group_route_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch routing dictionary D9 (reference pipelineParser.py:89-136):
    group by composite key, collect sorted job lists."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_jobs"),
        F.array_join(F.array_sort(F.collect_list(F.col("o_orderkey").cast("string"))), ",").alias("job_ids"),
    )


@q(
    "ids_per_user",
    """
    SELECT o_custkey AS user_id, count(*) AS n_ids,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS ids
    FROM orders GROUP BY 1
    """,
)
def q_ids_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sample-ID accumulation (reference
    pipelineParser.py:137-140)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderkey").alias("sample_id")
    )
    return agg.ids_per_user(o, "user_id", "sample_id")


@q(
    "peak_call",
    """
    SELECT event_id, user_id,
           round(CAST(sum(value) OVER (
             PARTITION BY user_id ORDER BY date_trunc('second', ts)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 4) AS window_sum
    FROM events
    """,
)
def q_peak_call(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-pileup scan at the heart of macs2 callpeak
    (reference tools.py:587-590): per-key ordered range window.
    (Poisson scoring + island merge are exercised by
    `peak_call_islands` and the ops.windows.peak_call composite.)"""
    e = _t(spark, sf_dir, "events")
    out = win.sliding_sum(e, "user_id", "ts", "value", range_back=3600)
    return out.select("event_id", "user_id", F.round("window_sum", 4).alias("window_sum"))


@q(
    "peak_call_islands",
    """
    WITH cov AS (
      -- NULL positions cannot be binned and would make the island
      -- lag/ordering engine-dependent (NULLS FIRST vs LAST)
      SELECT event_type AS chrom, CAST(floor(value / 5) AS BIGINT) AS bin, count(*) AS count
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), sig AS (
      SELECT * FROM cov WHERE count >= 4
    ), flagged AS (
      SELECT *, CASE WHEN bin - lag(bin) OVER (PARTITION BY chrom ORDER BY bin) > 2
                     THEN 1 ELSE 0 END AS f
      FROM sig
    ), isl AS (
      SELECT *, CAST(sum(f) OVER (PARTITION BY chrom ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM flagged
    )
    SELECT chrom, island, min(bin) AS start_bin, max(bin) AS end_bin, CAST(sum(count) AS BIGINT) AS pileup
    FROM isl GROUP BY 1, 2
    """,
)
def q_peak_call_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enriched-window merge — the island phase of macs2 callpeak
    (reference tools.py:555-622): threshold significant bins, merge
    bins within a gap into peaks (gaps-and-islands)."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())  # unbinnable; see oracle
        .select(F.col("event_type").alias("chrom"), F.col("value").alias("pos"))
    )
    cov = agg.coverage_bin_count(e, "chrom", "pos", 5)
    sig = cov.filter(F.col("count") >= 4)
    isl = win.gaps_and_islands(sig, "chrom", "bin", gap=2)
    return isl.groupBy("chrom", "island").agg(
        F.min("bin").alias("start_bin"),
        F.max("bin").alias("end_bin"),
        F.sum("count").alias("pileup"),
    )


@q(
    "qc_read_stats",
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS mean_len,
           min(n_chars) AS min_len, max(n_chars) AS max_len
    FROM documents GROUP BY lang
    """,
)
def q_qc_read_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group read-quality statistics — fastqc core semantics
    (reference tools.py:101-142); per-position quality distributions
    run in ops.aggregates.qc_read_stats over READ fixtures."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_len"),
        F.min("n_chars").alias("min_len"),
        F.max("n_chars").alias("max_len"),
    )


@q(
    "status_upsert",
    """
    SELECT user_id AS id, event_type AS last_status, value AS last_value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_status_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-table upsert semantics: last write per key wins
    (reference tools.py:28-56 UPDATE-by-ID; storage merge in
    io.sinks.status_upsert). Deterministic tie-break (ts, event_id)."""
    e = _t(spark, sf_dir, "events")
    out = agg.status_last_write_wins(
        e, ["user_id"], ["ts", "event_id"], ["event_type", "value"]
    )
    return out.select(
        F.col("user_id").alias("id"),
        F.col("event_type").alias("last_status"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# §2.5 / §2.6 Windows, sorts, limits
# ---------------------------------------------------------------------------


@q(
    "density_over_total",
    """
    SELECT event_type, count(*) AS freq,
           count(*) / (SELECT count(*) FROM events) * 1.0 AS density
    FROM events GROUP BY event_type
    """,
)
def q_density_over_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grand-total ratio (reference tools.py:301-303 density column)."""
    e = _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("freq"))
    return win.density_over_total(e, "freq")


@q(
    "chunk_batches",
    """
    SELECT chunk, count(*) AS n FROM (
      SELECT CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 101) AS BIGINT) AS chunk
      FROM documents
    ) GROUP BY chunk
    """,
)
def q_chunk_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≤101-item command chunking (reference parserTools.py:183-190)."""
    d = _t(spark, sf_dir, "documents")
    chunked = win.chunk_batches(d, "doc_id", 101)
    return chunked.groupBy("chunk").agg(F.count("*").alias("n"))


@q(
    "sort_by_coordinate",
    "SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem ORDER BY 1, 2",
)
def q_sort_by_coordinate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate sort (reference tools.py:247-248 samtools sort):
    range partition + in-partition sort — the engine's physical layout
    for alignment tables."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    return win.sort_by_coordinate(li, "l_orderkey", "l_linenumber")


@q("sort_names", "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1")
def q_sort_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sorted(set(names)) (reference mainScript.py:228)."""
    return agg.distinct_sorted(_t(spark, sf_dir, "orders"), "o_orderpriority")


@q("limit_first_record", "SELECT * FROM events ORDER BY event_id LIMIT 1")
def q_limit_first_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-record probe (reference tools.py:741-744)."""
    return _t(spark, sf_dir, "events").orderBy("event_id").limit(1)


# ---------------------------------------------------------------------------
# §2.7 Set operations
# ---------------------------------------------------------------------------


@q(
    "union_inputs",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
    UNION
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'
    """,
)
def q_union_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-list union with dedup (reference mainScript.py:205-228)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    b = li.filter(F.col("l_linestatus") == "O").select("l_orderkey")
    return setops.union_inputs(a, b)


@q(
    "param_set_union",
    """
    SELECT DISTINCT o_orderpriority AS param FROM orders
    UNION
    SELECT DISTINCT o_orderstatus FROM orders
    """,
)
def q_param_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAM list(set()) accumulation (reference pipelineParser.py:106-166)."""
    o = _t(spark, sf_dir, "orders")
    return setops.param_set_union(
        o.select(F.col("o_orderpriority").alias("param")),
        o.select(F.col("o_orderstatus").alias("param")),
    )


@q(
    "reject_except",
    "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders",
)
def q_reject_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """submitted EXCEPT rejected (reference pipelineParser.py:45-55)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return setops.reject_except(c, o)


# ---------------------------------------------------------------------------
# §2.9 Streaming-only surface (batch-equivalent checks; true streaming
# runs in tests/test_streaming.py)
# ---------------------------------------------------------------------------


@q(
    "completion_poll",
    """
    SELECT l_orderkey AS job_id, count(*) AS n_outputs,
           bool_and(l_quantity > 0) AS complete
    FROM lineitem GROUP BY 1
    """,
)
def q_completion_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-batch completion check (reference parserTools.py:221-241:
    every archived output non-empty → complete)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("job_id")).agg(
        F.count("*").alias("n_outputs"),
        F.expr("bool_and(l_quantity > 0)").alias("complete"),
    )


@q(
    "stream_windowed_counts",
    """
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows — the designed streaming extension
    (SURVEY.md §2.9; watermark + window). Checked here via the batch
    equivalence of F.window; the watermarked streaming run is in
    tests/test_streaming.py."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # F.window drops NULL-ts rows silently; the SQL bucket expression
    # would keep them as a NULL window — exclude explicitly in both
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@q(
    "session_windows",
    """
    WITH d AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows over the events stream (designed §2.9 extension;
    F.session_window merge semantics — only a silence strictly longer
    than 30 min closes the session; exactly-gap-spaced events merge).
    The oracle is the classic gaps-and-islands rewrite; the Spark side
    shuffles once on (user, merged-session), no global sort."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )  # a session needs a key and an event time (F.session_window
    # silently DROPS NULL-ts rows; the gaps-and-islands oracle must
    # exclude them explicitly, and NULL users are unsessionizable)
    return win.session_windows(e, "user_id", "ts", "30 minutes", "value")


@q(
    "salted_hot_key_join",
    """
    SELECT c.c_mktsegment, count(*) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim equi-join (ops.joins.salted_join): the fact
    side is salted deterministically, the dim side exploded across
    salts, the join keyed on (key, salt) — one degenerate hot key
    spreads over n_salts reducers. Result provably identical to the
    plain join (the oracle IS the plain join)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"), "o_orderkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = jn.salted_join(o, c, on="c_custkey", n_salts=8, spread_cols=["o_orderkey"])
    return j.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


@q(
    "peak_call_bh",
    """
    WITH cov AS (
      SELECT event_type AS chrom, CAST(floor(value / 5) AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS count
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    lam AS (SELECT chrom, avg(count) AS lam FROM cov GROUP BY 1),
    scored AS (
      SELECT c.chrom, c.bin, c.count,
             round(CASE WHEN c.count <= 0 THEN 1.0 ELSE
               greatest(0.0, least(1.0, 1.0 - list_sum(list_transform(range(0, CAST(c.count AS INT)),
                 i -> exp(-l.lam + i * ln(l.lam) -
                      (CASE WHEN i <= 20 THEN ln(CAST(factorial(CAST(i AS INT)) AS DOUBLE))
                            ELSE (i + 0.5) * ln(CAST(i AS DOUBLE)) - i + 0.5 * ln(2 * pi()) + 1.0 / (12.0 * i) END))))))
             END, 6) AS pval
      FROM cov c JOIN lam l USING (chrom)
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY pval, chrom, bin) AS BIGINT) AS rnk,
             count(*) OVER () AS m
      FROM scored
    ),
    cut AS (
      SELECT *, max(CASE WHEN pval * m <= rnk * 0.05 THEN pval END) OVER () AS cutoff FROM ranked
    )
    SELECT chrom, bin, count, pval FROM cut WHERE pval <= cutoff
    """,
)
def q_peak_call_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson scoring + Benjamini-Hochberg FDR selection — the
    q-value semantics macs2 callpeak reports (reference tools.py:555:
    -q 0.01/0.05 are FDR cutoffs, not raw p thresholds). λ per chrom,
    exact Poisson tail per bin (log-factorial exact to k=20, Stirling
    series above — the oracle spells out the identical formula so both
    engines agree at 6 dp), then BH over the bounded per-bin aggregate."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("chrom"),
            (F.col("value") / 5).cast("long").alias("bin"),
        )
    )
    cov = e.groupBy("chrom", "bin").agg(F.count("*").alias("count"))
    # λ per chrom as a keyed window over the aggregate — one scan, no
    # agg+rejoin branch (Spark has no CTE reuse across branches).
    lam = F.avg("count").over(Window.partitionBy("chrom"))
    scored = cov.withColumn(
        "pval", F.round(win.poisson_tail(F.col("count"), lam), 6)
    )
    sig = win.bh_significant(scored, "pval", q=0.05, tie_cols=["chrom", "bin"])
    return sig.select("chrom", "bin", "count", "pval")


@q(
    "stream_attribution",
    """
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window join (designed §2.9 extension): every click
    paired with the same user's purchases from the preceding 30
    minutes. The registered query runs streaming.watch
    .stream_attribution_join itself on batch inputs (withWatermark is
    a batch no-op) — the oracle-checked semantics are exactly what the
    watermarked stream-stream deployment executes; the streaming run
    is exercised in tests/test_pipeline_streaming.py."""
    from .streaming import watch as wt

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return wt.stream_attribution_join(
        clicks, purchases, key="user_id", within="30 minutes"
    ).select(
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"
    )


# The extension and scalar registrations fill QUERIES/ORACLES as an
# import side effect; importing them here makes `registry` complete on
# its own (after every name they import from this module is defined).
from . import registry_ext, registry_scalars  # noqa: E402,F401
