"""Domain-semantics unit tests over FIXTURES.md fixtures: FLAG
bitflags, interval ±1 edges, chrM, abs(TLEN)=0, suffix
regex — the genomic edge cases the star-schema oracle can't reach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import fixtures as fx
from seqdatapipeline_spark.ops import aggregates as agg
from seqdatapipeline_spark.ops import filters as flt
from seqdatapipeline_spark.ops import joins as jn
from seqdatapipeline_spark.ops import strings as st
from seqdatapipeline_spark.ops import windows as win


def test_filter_not_chrm(spark):
    out = flt.filter_not_chrm(fx.alignments(spark))
    names = {r.qname for r in out.collect()}
    assert "r5" not in names and "r1" in names


def test_filter_tlen_range_strict_bounds(spark):
    out = flt.filter_tlen_range(fx.alignments(spark))
    tlens = {r.tlen for r in out.collect()}
    assert 99 in tlens and -99 in tlens and 0 in tlens
    assert 100 not in tlens and -100 not in tlens and 150 not in tlens


def test_filter_mapped_flag_bit4(spark):
    out = flt.filter_mapped_flag(fx.alignments(spark))
    assert {r.qname for r in out.collect()} & {"r3", "r4"} == set()


def test_count_paired_flag_bit1(spark):
    n = flt.count_flag_set(fx.alignments(spark), bit=1).collect()[0].n_set
    assert n == 4  # r2, r4, r5, r9


def test_interval_join_edges(spark):
    """pos==start and pos==end included; start-1 / end+1 excluded;
    touching intervals both match the boundary point."""
    al = fx.alignments(spark).filter(F.col("qname").isin("r10", "r11", "r12", "r13"))
    ft = fx.features(spark).filter(F.col("feature") == "exon")
    j = jn.interval_join_broadcast(al, ft)
    got = {(r.qname, r.attributes["gene_id"]) for r in j.collect()}
    assert ("r10", "gA") in got          # pos == start
    assert ("r11", "gA") in got          # pos == end (closed)
    assert ("r11", "gB") in got          # touching interval boundary
    assert all(q != "r12" for q, _ in got)   # start-1 → matches nothing
    assert ("r13", "gA") not in got          # end+1 → outside gA
    assert ("r13", "gB") in got              # …but inside adjacent gB (2000-2500)


def test_interval_join_binned_matches_broadcast(spark):
    al = fx.alignments(spark)
    ft = fx.features(spark)
    b1 = jn.interval_join_broadcast(al, ft).select("qname", "start", "end")
    b2 = jn.interval_join_binned(al, ft, bin_size=500).select("qname", "start", "end")
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))


def _count_at(points, intervals, group_cols, width, dense):
    """One interval-count term at an explicit bin width, bypassing the
    dispatcher's choice of route and width."""
    return jn._count_at(
        *jn._binned_points(points, width), intervals, group_cols, width, dense
    )


def _route(df):
    """The route an interval_count_adaptive plan took."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "dense" if "__sbcum" in plan else "sparse"


def test_interval_count_binned_matches_join_count(spark):
    """The count rewrite's sparse term (interior-bin pre-agg + edge-bin
    exact test) must agree with materialize-pairs-then-count for every
    bin size, including bins smaller/larger than the interval span."""
    al = fx.alignments(spark)
    ft = fx.features(spark)
    expected = sorted(
        (r.gene_id, r.n)
        for r in jn.interval_join_binned(al, ft, bin_size=500)
        .withColumn("gene_id", F.col("attributes")["gene_id"])
        .groupBy("gene_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for bs in (7, 100, 500, 10_000):
        ftg = ft.withColumn("gene_id", F.col("attributes")["gene_id"])
        got = sorted(
            (r.gene_id, r.n)
            for r in _count_at(al, ftg, ["gene_id"], bs, dense=False).collect()
        )
        assert got == expected, (bs, got, expected)


def test_interval_count_prefix_and_adaptive_match_join_count(spark, monkeypatch):
    """The prefix-sum term (two-level cumulative + signed F-lookups)
    and the stats dispatcher must both agree with the sparse term,
    across bin widths and a superbin width small enough to force
    cross-superbin lookups; the dispatcher must route each density
    regime to the intended term."""
    al = fx.alignments(spark)
    ftg = fx.features(spark).withColumn("gene_id", F.col("attributes")["gene_id"])
    expected = sorted(
        (r.gene_id, r.n)
        for r in _count_at(al, ftg, ["gene_id"], 500, dense=False).collect()
    )
    for bs, sb in ((7, 4), (100, 4096)):
        monkeypatch.setattr(jn, "SUPERBIN_BINS", sb)
        got = sorted(
            (r.gene_id, r.n)
            for r in _count_at(al, ftg, ["gene_id"], bs, dense=True).collect()
        )
        assert got == expected, (bs, sb, got, expected)
    # Sparse fixture -> sparse route; forcing the threshold to 0 points
    # per bin -> dense route at the density-sized width (over 16-bin
    # superbins); both exact.
    monkeypatch.setattr(jn, "SUPERBIN_BINS", 16)
    for thresh, route in ((1000, "sparse"), (0, "dense")):
        monkeypatch.setattr(jn, "MAX_POINTS_PER_BIN", thresh)
        out = jn.interval_count_adaptive(al, ftg, ["gene_id"])
        assert _route(out) == route, thresh
        got = sorted((r.gene_id, r.n) for r in out.collect())
        assert got == expected, (thresh, got, expected)


def test_interval_count_adaptive_empty_intervals(spark):
    """Empty interval dim (min/max aggregate yields NULLs) must return
    an empty frame of the grouped schema, not TypeError on float(None)."""
    al = fx.alignments(spark)
    ftg = (
        fx.features(spark)
        .withColumn("gene_id", F.col("attributes")["gene_id"])
        .filter(F.lit(False))
    )
    out = jn.interval_count_adaptive(al, ftg, ["gene_id"])
    assert out.count() == 0
    assert set(out.columns) == {"gene_id", "n"}


def test_gene_read_count_unstranded(spark):
    al = fx.alignments(spark)
    ft = fx.features(spark).filter(F.col("feature") == "exon")
    j = jn.interval_join_broadcast(al, ft).withColumn(
        "gene_id", F.col("attributes")["gene_id"]
    )
    counts = {r.gene_id: r.n for r in agg.gene_read_count(j).collect()}
    assert counts["gA"] >= 2 and "gE" not in counts


def test_dedup_alignments_keep_best(spark):
    al = fx.alignments(spark)
    out = agg.dedup_keep_first(al, ["rname", "pos", "flag"], ["mapq", "qname"])
    # r1 and r8 share (chr1,100,0) → one survives
    assert out.filter((F.col("rname") == "chr1") & (F.col("pos") == 100) & (F.col("flag") == 0)).count() == 1


def test_fragment_length_histogram_density_sums_to_1(spark):
    hist = agg.fragment_length_histogram(fx.alignments(spark))
    rows = hist.collect()
    assert abs(sum(r.density for r in rows) - 1.0) < 1e-9
    assert {r.fLength for r in rows} >= {0, 99, 100, 150}  # abs() edge at 0


def test_coverage_bin_count_w25(spark):
    cov = agg.coverage_bin_count(fx.alignments(spark), window=25)
    m = {(r.rname, r.bin): r["count"] for r in cov.collect()}
    assert m[("chr1", 4)] == 3  # pos 100 ×3 (r1, r2, r8)
    assert m[("chr2", 12)] == 3  # pos 300 ×2 (r4, r6) + pos 301 (r7)


def test_strip_fastq_suffix_corpus(spark):
    df = spark.createDataFrame(fx.FASTQ_NAMES, "name string, expected string")
    out = df.withColumn("got", st.strip_fastq_suffix(F.col("name")))
    bad = out.filter(F.col("got") != F.col("expected")).collect()
    assert bad == [], bad


def test_pair_key_common_prefix(spark):
    df = spark.createDataFrame(
        [("samp_A_R1.fq.gz", "samp_A_R2.fq.gz"), ("x_R1", "x_R2"), ("abc", "xyz")],
        "a string, b string",
    )
    got = [r.k for r in df.select(st.pair_key(F.col("a"), F.col("b")).alias("k")).collect()]
    assert got[0] == "samp_A_paired"
    assert got[1] == "x_paired"
    assert got[2] == ""


def test_band_classify_matches_range_join(spark):
    fact = spark.createDataFrame([(v,) for v in [-5.0, 0.0, 999.99, 1000.0, 4999.0, 1e9]], "v double")
    bands = spark.createDataFrame(
        [("low", 0.0, 1000.0), ("mid", 1000.0, 5000.0), ("high", 5000.0, 1e12)],
        "category string, lo double, hi double",
    )
    via_join = sorted(
        (r.v, r.category)
        for r in fact.join(
            F.broadcast(bands), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    )
    via_case = sorted((r.v, r.category) for r in jn.band_classify(fact, bands, "v").collect())
    assert via_case == via_join          # incl. dropping v=-5 (no band)
    kept = jn.band_classify(fact, bands, "v", keep_unmatched=True).collect()
    assert {r.v: r.category for r in kept}[-5.0] is None


def test_salted_join_equals_plain_join(spark):
    fact = spark.createDataFrame(
        [(1, i) for i in range(40)] + [(2, 100), (3, 200)], "k int, v int"
    )  # key 1 is the hot key
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k int, name string")
    plain = sorted(map(tuple, fact.join(dim, "k").select("k", "v", "name").collect()))
    salted = sorted(
        map(tuple, jn.salted_join(fact, dim, "k", n_salts=4).select("k", "v", "name").collect())
    )
    assert salted == plain and len(plain) == 41  # 40 hot-key + 1; key 3/4 unmatched


def test_session_windows_gap_semantics(spark):
    rows = [
        ("u1", "2026-01-01 10:00:00", 1.0),
        ("u1", "2026-01-01 10:29:59", 2.0),   # diff < gap → same session
        ("u1", "2026-01-01 10:59:59", 4.0),   # diff == gap exactly → still merged
        ("u1", "2026-01-01 11:30:00", 16.0),  # diff > gap → NEW session
        ("u2", "2026-01-01 10:00:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sorted(
        (r.user_id, r.n, r.total_value)
        for r in win.session_windows(df, "user_id", "ts", "30 minutes").collect()
    )
    assert out == [("u1", 1, 16.0), ("u1", 3, 7.0), ("u2", 1, 8.0)]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from seqdatapipeline_spark.io.sinks import write_bucketed

    a = spark.range(0, 1000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("vb", F.col("id") * 3)
    write_bucketed(a, "t_bkt_a", ["id"], n_buckets=4, path=str(tmp_path / "a"))
    write_bucketed(b, "t_bkt_b", ["id"], n_buckets=4, path=str(tmp_path / "b"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        j = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: the sort-merge join needs no shuffle exchange
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_write_bucketed_overwrites_stale_warehouse_location(spark, tmp_path):
    """Restart robustness (VERDICT r10 defect): a warehouse directory
    left by a PREVIOUS process has no catalog entry in this session's
    in-memory catalog, so a naive saveAsTable dies with
    LOCATION_ALREADY_EXISTS. write_bucketed must clear the stale
    location and succeed."""
    import os

    from seqdatapipeline_spark.io.sinks import write_bucketed

    table = "t_bkt_stale"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = os.path.join(warehouse.replace("file:", ""), table)
    # Simulate a prior process's leftovers: files on disk, no catalog entry.
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-stale.parquet"), "w") as f:
        f.write("stale bytes from a previous process")
    assert not spark.catalog.tableExists(table)
    try:
        df = spark.range(0, 100).withColumn("v", F.col("id") * 7)
        write_bucketed(df, table, ["id"], n_buckets=4)
        got = spark.table(table)
        assert got.count() == 100
        assert got.agg(F.sum("v")).collect()[0][0] == 7 * sum(range(100))
        assert not os.path.exists(os.path.join(loc, "part-stale.parquet"))
        # And again: overwriting a LIVE catalog table still works.
        write_bucketed(df.limit(10), table, ["id"], n_buckets=4)
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_overwrites_stale_external_path(spark, tmp_path):
    """Same restart scenario for an EXTERNAL table location (path=...):
    stale files at the path, no catalog entry."""
    import os

    from seqdatapipeline_spark.io.sinks import write_bucketed

    table = "t_bkt_stale_ext"
    ext = tmp_path / "ext_loc"
    ext.mkdir()
    (ext / "part-stale.parquet").write_text("stale")
    try:
        df = spark.range(0, 50).withColumn("v", F.col("id") + 1)
        write_bucketed(df, table, ["id"], n_buckets=2, path=str(ext))
        assert spark.table(table).count() == 50
        assert not os.path.exists(str(ext / "part-stale.parquet"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_overwrites_stale_location_in_custom_db(spark, tmp_path):
    """The stale-location clear must resolve the managed location
    through the CATALOG (r11 VERDICT nit): a database created with a
    custom LOCATION is not under <warehouse>/<db>.db, so the old
    string-concat derivation missed it and LOCATION_ALREADY_EXISTS
    returned in that config."""
    import os

    from seqdatapipeline_spark.io.sinks import write_bucketed

    db_loc = tmp_path / "customdb_loc"
    db_loc.mkdir()
    table = "sgdbx.t_bkt_stale_custom"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sgdbx LOCATION '{db_loc}'")
    stale_dir = db_loc / "t_bkt_stale_custom"
    stale_dir.mkdir()
    (stale_dir / "part-stale.parquet").write_text("stale bytes")
    assert not spark.catalog.tableExists(table)
    try:
        df = spark.range(0, 40).withColumn("v", F.col("id") * 3)
        write_bucketed(df, table, ["id"], n_buckets=2)
        assert spark.table(table).count() == 40
        assert not os.path.exists(str(stale_dir / "part-stale.parquet"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql("DROP DATABASE IF EXISTS sgdbx CASCADE")


def test_spec_manifest_staged_write_and_corrupt_manifest_degrades(spark, tmp_path):
    """Manifest durability (r11 ADVICE): write_spec_at stages and
    renames (no half-written manifest can survive), and a CORRUPT
    manifest degrades to manifest-less — read_table_spec returns None
    and reattach_curated skips the directory with a warning instead of
    poisoning the whole warehouse sweep."""
    import os

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.io.sinks import (
        SPEC_FILE,
        read_table_spec,
        write_spec_at,
    )

    loc = tmp_path / "spec_home"
    loc.mkdir()
    write_spec_at(spark, str(loc), {"table": "t_x", "ddl": "id BIGINT",
                                    "bucket_cols": None, "n_buckets": None,
                                    "sort_cols": None})
    assert read_table_spec(spark, str(loc))["table"] == "t_x"
    assert not os.path.exists(str(loc / (SPEC_FILE + ".__staged__"))), (
        "staged temp manifest must be renamed away"
    )
    # Corrupt manifest in a warehouse directory holding real parquet:
    wh = tmp_path / "wh"
    tdir = wh / "t_corrupt"
    tdir.mkdir(parents=True)
    spark.range(5).write.mode("overwrite").parquet(str(tdir))
    (tdir / SPEC_FILE).write_text("{not json")
    assert read_table_spec(spark, str(tdir)) is None
    attached = lay.reattach_curated(spark, warehouse_dir=str(wh))
    assert attached == {}


def test_reattach_curated_restores_bucketed_table_and_plans(spark, tmp_path):
    """Durable curated stores (r11): a table whose catalog entry is
    gone but whose directory (data + _sg_spec.json manifest) survives
    must reattach with the same bucket spec — same rows, exchange-free
    groupBy on the bucket key, and insertInto-able for ingest."""
    import os

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.io.sinks import SPEC_FILE, write_bucketed

    table = "t_reattach_bkt"
    loc = tmp_path / table
    df = spark.range(0, 500).withColumn("v", F.col("id") * 3)
    try:
        write_bucketed(df, table, ["id"], n_buckets=4, path=str(loc),
                       sort_cols=["id"])
        assert os.path.exists(str(loc / SPEC_FILE))
        spark.sql(f"DROP TABLE {table}")  # external: files + manifest survive
        assert not spark.catalog.tableExists(table)
        attached = lay.reattach_curated(spark, warehouse_dir=str(tmp_path))
        assert table in attached, attached
        t = spark.table(table)
        assert t.count() == 500
        assert t.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(500))
        plan = (
            t.groupBy("id").count()._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        # ingest resumes: insertInto honors the reattached bucket spec
        spark.range(500, 600).withColumn("v", F.col("id") * 3).write.mode(
            "append"
        ).insertInto(table)
        assert spark.table(table).count() == 600
        # idempotent: a second reattach skips live catalog entries
        assert lay.reattach_curated(spark, warehouse_dir=str(tmp_path)) == {}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_reattach_curated_across_process_restart(spark, tmp_path):
    """THE restart story: another PROCESS curates (its session-scoped
    catalog dies with it), this session reattaches from the surviving
    warehouse and every consumer serves the curated path with rows
    identical to the plain derivation — no re-curation."""
    import subprocess
    import sys

    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    wh = str(tmp_path / "other-process-warehouse")
    code = f"""
import sys
sys.path.insert(0, "/root/repo")
from seqdatapipeline_spark.session import get_spark
from seqdatapipeline_spark.io.layout import curate_corpus
s = get_spark("curator", shuffle_partitions=4,
              extra_conf={{"spark.sql.warehouse.dir": {wh!r}}})
s.sparkContext.setLogLevel("ERROR")
curate_corpus(s, {sf!r}, n_buckets=4)
s.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    qs = entrymod.queries()
    reps = ["dedup_alignments", "pagerank_iter", "url_domain_stats", "dedup_exact"]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in reps}
    attached = {}
    try:
        attached = lay.reattach_curated(spark, warehouse_dir=wh)
        assert len(attached) >= 8, attached  # all tiers + centroids/keys
        for op in reps:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
        # the genomics consumer actually serves from the reattached table
        plan = (
            qs["dedup_alignments"](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "lineitem_by_l_orderkey" in plan, plan
    finally:
        for t in attached:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_curated_folds_files_and_dedups(spark, tmp_path):
    """The bucketed-table maintenance pass: after K appends each
    bucket holds K+1 files; compact_curated must fold back to one
    file per bucket with identical rows (exchange-free plan intact),
    and dedup_cols must fold a replayed batch's duplicates."""
    import glob
    import os

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.io.sinks import write_bucketed

    table = "t_compact_bkt"
    loc = tmp_path / table
    n_buckets = 4
    base = spark.range(0, 400).withColumn("v", F.col("id") % 7)
    try:
        write_bucketed(base, table, ["id"], n_buckets=n_buckets, path=str(loc),
                       sort_cols=["id"])
        for lo in (400, 600):
            lay.append_curated_bucketed(
                spark.range(lo, lo + 200).withColumn("v", F.col("id") % 7),
                table, "id", n_buckets=n_buckets,
            )
        def data_files():
            return [
                f for f in glob.glob(str(loc / "*.parquet"))
                if not os.path.basename(f).startswith(("_", "."))
            ]
        # seed wrote one file per (task, bucket) and each append added
        # one per bucket — well past one-per-bucket either way
        files_before = len(data_files())
        assert files_before > 2 * n_buckets, files_before
        expect = set(map(tuple, spark.table(table).collect()))
        lay.compact_curated(spark, table)
        assert len(data_files()) == n_buckets
        t = spark.table(table)
        assert set(map(tuple, t.collect())) == expect
        plan = t.groupBy("id").count()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # replayed batch: duplicates folded by dedup_cols
        lay.append_curated_bucketed(
            spark.range(600, 800).withColumn("v", F.col("id") % 7),
            table, "id", n_buckets=n_buckets,
        )
        assert spark.table(table).count() == 1000
        lay.compact_curated(spark, table, dedup_cols=["id"])
        assert spark.table(table).count() == 800
        assert set(map(tuple, spark.table(table).collect())) == expect
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_self_overwrite_fails_with_data_intact(spark, tmp_path):
    """Spark's cannot-overwrite-a-table-being-read guard must survive
    the stale-location clear (r11 review finding: an unconditional
    delete-first would destroy the table's only copy before the
    self-referential scan ran). The clear acts only on catalog-unknown
    names, so a live self-overwrite fails cleanly and the rows remain."""
    import pytest as _pytest

    from seqdatapipeline_spark.io.sinks import write_bucketed

    table = "t_bkt_selfref"
    try:
        write_bucketed(
            spark.range(0, 100).withColumn("v", F.col("id")),
            table, ["id"], n_buckets=2, path=str(tmp_path / table),
        )
        with _pytest.raises(Exception, match="(?i)overwrit|read from"):
            write_bucketed(
                spark.table(table).filter(F.col("id") < 50),
                table, ["id"], n_buckets=2, path=str(tmp_path / table),
            )
        assert spark.table(table).count() == 100  # data intact
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_curated_refuses_without_manifest(spark, tmp_path):
    from seqdatapipeline_spark.io import layout as lay

    spark.range(10).write.mode("overwrite").option(
        "path", str(tmp_path / "plainloc")
    ).saveAsTable("t_compact_nospec")
    try:
        import pytest as _pytest

        with _pytest.raises(ValueError, match="manifest"):
            lay.compact_curated(spark, "t_compact_nospec")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_compact_nospec")


def test_write_curated_ivf_overwrites_stale_centroid_location(spark):
    """The centroid table is the one curated write that does NOT go
    through write_bucketed (it is unbucketed — model-sized); it must
    carry the same stale-location clear. Caught live by the r11
    restart reproducer: curate_corpus over a previous process's
    warehouse died at the centroids saveAsTable."""
    import os

    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    cells_name, cents_name = lay.ivf_table_names(sf)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    stale = os.path.join(warehouse, cents_name)
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-stale.parquet"), "w") as f:
        f.write("stale")
    assert not spark.catalog.tableExists(cents_name)
    try:
        lay.write_curated_ivf(spark, sf, kmeans_k=5, n_buckets=4)
        assert spark.table(cents_name).count() == 5
        assert not os.path.exists(os.path.join(stale, "part-stale.parquet"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cells_name}")
        spark.sql(f"DROP TABLE IF EXISTS {cents_name}")


def test_gaps_and_islands_merge(spark):
    df = spark.createDataFrame(
        [("c", 1), ("c", 2), ("c", 3), ("c", 10), ("c", 11), ("d", 5)],
        "chrom string, bin long",
    )
    out = win.gaps_and_islands(df, "chrom", "bin", gap=2)
    islands = {(r.chrom, r.bin): r.island for r in out.collect()}
    assert islands[("c", 1)] == islands[("c", 3)]
    assert islands[("c", 10)] != islands[("c", 3)]
    assert islands[("c", 10)] == islands[("c", 11)]


def test_poisson_tail_matches_exact(spark):
    import math

    lam, k = 3.7, 9
    exact = 1.0 - sum(math.exp(-lam) * lam**i / math.factorial(i) for i in range(k))
    df = spark.createDataFrame([(k, lam)], "k int, lam double")
    got = df.select(win.poisson_tail(F.col("k"), F.col("lam")).alias("p")).collect()[0].p
    assert abs(got - exact) < 1e-9


def test_bh_significant_matches_hand_computation(spark):
    """BH on a known p-value set: m=6, q=0.25. Sorted p: .01 .02 .03
    .20 .50 .90; thresholds (i/m)q: .0417 .0833 .125 .167 .208 .25.
    Largest i with p<=thr is i=3 (p=.03), so cutoff=.03 — exactly
    {.01,.02,.03} pass, although .20 < q would pass a raw threshold."""
    from seqdatapipeline_spark.ops import windows as win

    rows = [(i, p) for i, p in enumerate([0.50, 0.01, 0.90, 0.03, 0.20, 0.02])]
    df = spark.createDataFrame(rows, "bin long, pval double")
    got = sorted(r["pval"] for r in win.bh_significant(df, "pval", q=0.25, tie_cols=["bin"]).collect())
    assert got == [0.01, 0.02, 0.03]
    # no test passes its threshold -> empty selection
    none = win.bh_significant(
        spark.createDataFrame([(1, 0.9), (2, 0.8)], "bin long, pval double"),
        "pval", q=0.05, tie_cols=["bin"],
    )
    assert none.count() == 0


def test_connected_components_chains_across_keys(spark):
    """A~B via k1 and B~C via k2 must land in one component (min id
    propagates transitively) while an isolated node keeps its own id."""
    from seqdatapipeline_spark.extensions import dedup as dd

    inc = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (2, "k2"), (3, "k2"), (9, "k9"),
         # second cluster: a 3-member bucket (no pairwise edges needed)
         (5, "k5"), (6, "k5"), (7, "k5")],
        "node long, key string",
    )
    got = {r.node: r.cluster_id for r in dd.connected_components(inc).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9, 5: 5, 6: 5, 7: 5}


def test_connected_components_long_chain_converges(spark):
    """A 12-link path graph — worst-case diameter for label
    propagation — still converges to a single component."""
    from seqdatapipeline_spark.extensions import dedup as dd

    rows = []
    for i in range(12):  # key ki links node i and i+1
        rows += [(i, f"k{i}"), (i + 1, f"k{i}")]
    inc = spark.createDataFrame(rows, "node long, key string")
    comps = {r.cluster_id for r in dd.connected_components(inc).collect()}
    assert comps == {0}


def test_connected_components_distributed_path(spark):
    """local_finish_edges=0 forces the star-contraction rounds (the
    default cutover finishes test-sized graphs driver-side): the
    distributed path must produce the identical labeling on both the
    chained-bucket and worst-case-diameter graphs."""
    from seqdatapipeline_spark.extensions import dedup as dd

    inc = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (2, "k2"), (3, "k2"), (9, "k9"),
         (5, "k5"), (6, "k5"), (7, "k5")],
        "node long, key string",
    )
    got = {
        r.node: r.cluster_id
        for r in dd.connected_components(inc, local_finish_edges=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 9, 5: 5, 6: 5, 7: 5}

    rows = []
    for i in range(12):
        rows += [(i, f"k{i}"), (i + 1, f"k{i}")]
    chain = spark.createDataFrame(rows, "node long, key string")
    comps = {
        r.cluster_id
        for r in dd.connected_components(chain, local_finish_edges=0).collect()
    }
    assert comps == {0}


def test_asof_attach_prior_single_scan_semantics(spark):
    """Single-source as-of: tiebreak picks the max-id right row at an
    equal timestamp; strict hides the equal-ts right row."""
    rows = [
        # (id, user, ts, type, value)
        (1, "u1", 5, "buy", 10.0),
        (2, "u1", 5, "buy", 20.0),   # same ts: id=2 must win
        (3, "u1", 5, "click", 0.0),  # equal-ts click sees buy (non-strict)
        (4, "u1", 9, "click", 0.0),
        (5, "u2", 1, "click", 0.0),  # no buy -> dropped (inner)
    ]
    df = spark.createDataFrame(rows, "id long, user string, ts long, typ string, value double")
    out = jn.asof_attach_prior(
        df, on="user", ts="ts",
        is_right=F.col("typ") == "buy",
        right_cols={"prior_id": F.col("id"), "prior_value": F.col("value")},
        tiebreak=["id"],
    )
    got = {r.id: (r.prior_id, r.prior_value) for r in out.filter(F.col("typ") == "click").collect()}
    assert got == {3: (2, 20.0), 4: (2, 20.0)}

    strict = jn.asof_attach_prior(
        df, on="user", ts="ts",
        is_right=F.col("typ") == "buy",
        right_cols={"prior_id": F.col("id")},
        tiebreak=["id"], strict=True,
    )
    # the equal-ts click now has no visible prior buy
    assert {r.id for r in strict.filter(F.col("typ") == "click").collect()} == {4}


def test_approx_ndv_kmv(spark):
    """Below k the sketch is exact; above k the estimate lands within
    a sane relative error of the truth (k=64 -> ~12% sigma)."""
    rows = [("small", f"v{i}") for i in range(10)]
    rows += [("big", f"u{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.ndv_est for r in agg.approx_ndv_kmv(df, ["g"], "v", k=64).collect()}
    assert got["small"] == 10.0
    assert abs(got["big"] - 2000) / 2000 < 0.5


def test_apply_changelog_merge_semantics(spark):
    """Latest-seq change wins; D deletes; unseen keys insert;
    untouched keys pass through."""
    from seqdatapipeline_spark.ops import setops as so

    snap = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    ch = spark.createDataFrame(
        [
            (1, 1, "U", 11.0), (1, 2, "U", 12.0),   # seq 2 wins
            (2, 5, "D", 0.0),                        # delete
            (9, 3, "I", 99.0),                       # insert unseen key
            (4, 1, "D", 0.0),                        # delete of absent key: no row
        ],
        "k long, seq long, op string, v double",
    )
    got = {
        r.k: r.v
        for r in so.apply_changelog(snap, ch, ["k"], ["v"], "seq", "op").collect()
    }
    assert got == {1: 12.0, 3: 30.0, 9: 99.0}


def test_empty_input_robustness(spark):
    """Operators must return empty (not raise) on empty inputs — a
    daily pipeline hits empty partitions routinely."""
    from seqdatapipeline_spark.extensions import corpus as cp
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.ops import setops as so

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_inc = spark.createDataFrame([], "node long, key string")

    assert dd.connected_components(empty_inc).count() == 0
    assert dd.exact_dedup_groups(empty_docs).count() == 0
    assert cp.mix_resample(
        spark.createDataFrame([], "doc_id long, lang string"), "lang", {"de": 2.0}
    ).count() == 0
    assert cp.uniform_sample_k(
        spark.createDataFrame([], "doc_id long, lang string"), ["lang"], "doc_id"
    ).count() == 0
    # changelog with no changes: snapshot passes through
    snap = spark.createDataFrame([(1, 10.0)], "k long, v double")
    empty_ch = spark.createDataFrame([], "k long, seq long, op string, v double")
    assert so.apply_changelog(snap, empty_ch, ["k"], ["v"], "seq", "op").count() == 1


def test_uniform_sample_k_properties(spark):
    """Exactly min(k, group size) rows per group, and the k'=3 sample
    is a subset of the k=5 sample (hash-order composability)."""
    from seqdatapipeline_spark.extensions import corpus as cp

    rows = [(i, "a" if i < 20 else "b") for i in range(24)]  # b has 4 < k
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s5 = cp.uniform_sample_k(df, ["lang"], "doc_id", k=5)
    sizes = {r.lang: r.n for r in s5.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"a": 5, "b": 4}
    s3 = {r.doc_id for r in cp.uniform_sample_k(df, ["lang"], "doc_id", k=3).collect()}
    assert s3 <= {r.doc_id for r in s5.collect()}


def test_bloom_semi_reduce_no_false_negatives_and_reduces(spark):
    """Every true match must survive the bloom prefilter; the
    surviving set should be far smaller than the fact table for a
    selective dim; exact join results are unchanged."""
    from seqdatapipeline_spark.ops import bloom

    fact = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(0, 5000, 100)], "k long")  # 50 keys
    reduced = bloom.bloom_semi_reduce(fact, dim, on="k", m_bits=1 << 14, k_hashes=5)
    kept = {r.k for r in reduced.collect()}
    true_keys = set(range(0, 5000, 100))
    assert true_keys <= kept                       # no false negatives
    assert len(kept) < 5000 * 0.1                  # real reduction (~1% fpp + 50 keys)
    joined = reduced.join(dim, "k").count()
    assert joined == 50                            # exact join unchanged


def test_bloom_xxhash64_path_agrees(spark):
    """The fast Spark-only hash path must also have zero false
    negatives and an unchanged exact join result."""
    from seqdatapipeline_spark.ops import bloom

    fact = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(0, 2000, 40)], "k long")
    reduced = bloom.bloom_semi_reduce(
        fact, dim, on="k", m_bits=1 << 13, k_hashes=5, hash_fn="xxhash64"
    )
    kept = {r.k for r in reduced.collect()}
    assert set(range(0, 2000, 40)) <= kept
    assert reduced.join(dim, "k").count() == 50


def test_time_weighted_avg_hand_computed(spark):
    """TWAP weights each value by its duration-in-effect; the last
    observation carries no weight; a single-event key disappears (no
    intervals); an all-same-timestamp key yields NULL twav."""
    from seqdatapipeline_spark.ops import windows as wn

    df = spark.createDataFrame(
        [
            # key a: value 10 held 2s, value 20 held 8s -> (20+160)/10 = 18
            ("a", 0.0, 10.0, 1), ("a", 2.0, 20.0, 2), ("a", 10.0, 99.0, 3),
            ("b", 5.0, 7.0, 1),                       # single event: dropped
            ("c", 3.0, 1.0, 1), ("c", 3.0, 9.0, 2),   # zero span: NULL twav
        ],
        "k string, t double, value double, eid long",
    ).withColumn("ts", F.col("t").cast("timestamp"))
    rows = {
        r.k: r
        for r in wn.time_weighted_avg(
            df, ["k"], ts_col="ts", value_col="value", tiebreak_col="eid"
        ).collect()
    }
    assert set(rows) == {"a", "c"}
    assert rows["a"].n_intervals == 2 and rows["a"].span_s == 10.0
    assert rows["a"].twav == 18.0
    assert rows["c"].span_s == 0.0 and rows["c"].twav is None


def test_trend_slope_recovers_line(spark):
    """An exact linear series returns its slope/intercept; zero
    x-variance yields NULLs."""
    from seqdatapipeline_spark.ops import aggregates as agg

    df = spark.createDataFrame(
        [("up", float(x), 3.0 * x + 2.0) for x in range(10)]
        + [("flatx", 5.0, 1.0), ("flatx", 5.0, 9.0)],
        "k string, x double, y double",
    )
    rows = {
        r.k: r for r in agg.trend_slope(df, ["k"], F.col("x"), F.col("y")).collect()
    }
    assert rows["up"].slope == 3.0 and rows["up"].intercept == 2.0
    assert rows["flatx"].slope is None and rows["flatx"].intercept is None


# ----------------------------------------------------- bucketed layout fast path

def test_bucketed_layout_drops_exchange_and_preserves_results(spark):
    """write_bucketed + curated_or_parquet: dedup_alignments and
    pe_mate_join must produce identical rows on the curated copy, and
    the curated dedup plan must contain NO shuffle exchange (the
    bucket clustering on l_orderkey satisfies the grouping)."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain_dedup = set(map(tuple, qs["dedup_alignments"](spark, sf).collect()))
    plain_mate = set(map(tuple, qs["pe_mate_join"](spark, sf).collect()))
    name = lay.bucketed_table_name(sf, "lineitem", "l_orderkey")
    try:
        lay.write_curated_bucketed(
            spark.read.parquet(f"{sf}/lineitem.parquet"), name, "l_orderkey",
            n_buckets=8, sort_cols=["l_partkey", "l_linenumber"],
        )
        src, curated = lay.curated_or_parquet(spark, sf, "lineitem", "l_orderkey")
        assert curated
        cur_dedup_df = qs["dedup_alignments"](spark, sf)
        cur_dedup = set(map(tuple, cur_dedup_df.collect()))
        cur_mate = set(map(tuple, qs["pe_mate_join"](spark, sf).collect()))
        assert cur_dedup == plain_dedup
        assert cur_mate == plain_mate
        plan = cur_dedup_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_curated_documents_make_exact_dedup_exchange_free(spark):
    """A curated documents copy with a STORED content_hash bucket
    column (the ingest-time corpus-store convention): dedup_exact must
    produce identical rows and a plan with no shuffle exchange."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain = set(map(tuple, qs["dedup_exact"](spark, sf).collect()))
    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    try:
        docs = spark.read.parquet(f"{sf}/documents.parquet").withColumn(
            "content_hash", F.md5("text")
        )
        lay.write_curated_bucketed(docs, name, "content_hash", n_buckets=8)
        df = qs["dedup_exact"](spark, sf)
        assert set(map(tuple, df.collect())) == plain
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pipeline_rna_curated_single_exchange(spark):
    """On a curated l_orderkey-bucketed copy the RNA composite's dedup
    stage fuses exchange-free into the scan stage; the only shuffle
    left is the final per-gene count. Results identical to the plain
    path."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain = set(map(tuple, qs["pipeline_rna"](spark, sf).collect()))
    name = lay.bucketed_table_name(sf, "lineitem", "l_orderkey")
    try:
        lay.write_curated_bucketed(
            spark.read.parquet(f"{sf}/lineitem.parquet"), name, "l_orderkey",
            n_buckets=8,
        )
        df = qs["pipeline_rna"](spark, sf)
        assert set(map(tuple, df.collect())) == plain
        final = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert final.count("Exchange hashpartitioning") == 1, final
        assert "Bucketed: true" in final
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_curated_events_make_behavioral_windows_exchange_free(spark):
    """A curated events copy bucketed on user_id: funnel_conversion's
    per-user aggregate runs with no hash exchange (only the 1-row
    summary SinglePartition), and top_event_paths' per-user window
    needs no exchange — the only one left is the path census, whose
    key the data cannot be pre-clustered on. Results identical to the
    plain path on both."""
    import re

    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.registry import _t

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain_f = set(map(tuple, qs["funnel_conversion"](spark, sf).collect()))
    plain_p = set(map(tuple, qs["top_event_paths"](spark, sf).collect()))
    name = lay.bucketed_table_name(sf, "events", "user_id")
    try:
        lay.write_curated_bucketed(
            _t(spark, sf, "events"), name, "user_id", n_buckets=8, sort_cols=["ts"]
        )
        df_f = qs["funnel_conversion"](spark, sf)
        df_p = qs["top_event_paths"](spark, sf)
        assert set(map(tuple, df_f.collect())) == plain_f
        assert set(map(tuple, df_p.collect())) == plain_p
        pf = (
            df_f._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert pf.count("Exchange hashpartitioning") == 0, pf
        pp = (
            df_p._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        keys = re.findall(r"Exchange hashpartitioning\((\w+)", pp)
        assert all(k.startswith("path") for k in keys), pp
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_curated_documents_text_tier_parity_and_collapse_exchange_free(spark):
    """The curated-corpus convention extended to the text tier: with a
    documents copy carrying a STORED content_hash column (bucketed on
    it), every collapse-based similarity op must produce IDENTICAL
    rows to the plain path, while the exact-dup collapse groupBy —
    the tier's corpus-wide shuffle — runs against the scan's reported
    clustering with NO hash exchange. The top-level query plans can't
    be string-compared here (the collapse is behind an eager
    localCheckpoint, and AQE plan strings interleave per-stage
    Initial Plan sections), so the plan assertion targets the
    collapse lineage directly, built by dd.exact_groups."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    ops = [
        "dedup_minhash_lsh",
        "dedup_minhash_clusters",
        "setsim_clusters",
        "setsim_prefix_join",
        "minhash_jaccard_estimate",
        "minhash_containment",
    ]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in ops}
    # Plain-path collapse: md5 computed in-query, groupBy must shuffle.
    plain_docs = spark.read.parquet(f"{sf}/documents.parquet")
    g_plain = dd.exact_groups(*dd.text_collapse_args(plain_docs, "doc_id", "text", 3))
    p_plain = g_plain._jdf.queryExecution().executedPlan().toString()
    assert p_plain.count("Exchange hashpartitioning") >= 1

    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    try:
        docs = plain_docs.withColumn("content_hash", F.md5("text"))
        lay.write_curated_bucketed(docs, name, "content_hash", n_buckets=8)
        src, curated = lay.curated_or_parquet(
            spark, sf, "documents", "content_hash"
        )
        assert curated
        g_cur = dd.exact_groups(*dd.text_collapse_args(src, "doc_id", "text", 3))
        p_cur = g_cur._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p_cur, p_cur
        assert p_cur.count("Exchange hashpartitioning") == 0, p_cur
        # And the rows the whole tier produces are layout-invariant.
        for op in ops:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_curated_ivf_index_parity_and_bucket_pruning(spark):
    """The curated IVF index: stored centroids + cell-assigned corpus
    bucketed on cell. Serving must (a) return bit-identical rows to
    the train-at-query-time path — the stored centroids ARE that
    path's deterministic training output — at full probe AND at a
    pruned nprobe, and (b) bucket-prune the corpus scan to the probed
    lists (SelectedBucketsCount < total) when nprobe < ncells."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from seqdatapipeline_spark.extensions import similarity as sim
    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.registry import _t

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    plain_full = set(map(tuple, qs["ann_ivf_topk"](spark, sf).collect()))
    plain_pruned = set(
        map(
            tuple,
            sim.ivf_topk_cosine(queries, emb, k=5, nprobe=2, kmeans_k=10).collect(),
        )
    )
    cells_name, cents_name = lay.ivf_table_names(sf)
    try:
        lay.write_curated_ivf(spark, sf, kmeans_k=10, n_buckets=16)
        assert set(map(tuple, qs["ann_ivf_topk"](spark, sf).collect())) == plain_full
        cents, ctab = lay.curated_ivf_or_none(spark, sf)
        cells = ctab.select(
            "cell",
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        pruned = sim.ivf_topk_cosine(
            queries, emb, k=5, nprobe=2, index=(cents, cells)
        )
        assert set(map(tuple, pruned.collect())) == plain_pruned
        import re

        plan = pruned._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cells_name}")
        spark.sql(f"DROP TABLE IF EXISTS {cents_name}")


def test_curate_corpus_builds_all_tiers(spark):
    """One-call ingest-time curation: after curate_corpus every tier's
    detection finds its table, and a representative consumer from
    each tier still matches its plain-path rows."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    reps = [
        "dedup_alignments",
        "funnel_conversion",
        "dedup_exact",
        "ann_ivf_topk",
        "ivf_pq_topk",
        "pagerank_iter",
        "url_domain_stats",
    ]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in reps}
    names = {}
    try:
        names = lay.curate_corpus(spark, sf, n_buckets=8)
        assert set(names) == {
            "genomics", "events", "text", "ann", "ann_pq", "graph",
            "graph_keys", "urls",
        }
        for n in names.values():
            assert spark.catalog.tableExists(n), n
        assert lay.curated_ivf_or_none(spark, sf) is not None
        for op in reps:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
    finally:
        for n in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {n}")
        spark.sql(f"DROP TABLE IF EXISTS {lay.ivf_table_names(sf)[1]}")


def test_curated_edges_graph_tier_parity(spark):
    """The curated co-order edge table (io.layout.write_curated_edges):
    every graph consumer — pagerank_iter, pagerank_weighted,
    triangle_count, graph_degree_stats — must return its plain-path
    rows exactly when serving from stored edges (the derivation is
    deterministic, so the stored table IS the plain derivation's
    output), and the curated plan must read the catalog table instead
    of re-deriving from lineitem."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    ops = [
        "pagerank_iter",
        "pagerank_weighted",
        "triangle_count",
        "graph_degree_stats",
    ]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in ops}
    name = lay.graph_table_name(sf)
    try:
        lay.write_curated_edges(spark, sf, n_buckets=4)
        for op in ops:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
        plan = (
            qs["graph_degree_stats"](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "co_order_edges" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {lay.graph_keys_table_name(sf)}")


def test_refresh_curated_edges_incremental_parity(spark):
    """The graph tier's ingest loop: curate the edge store from half
    the orders, absorb the other half with refresh_curated_edges
    (O(batch): co-occurrence groups are orders and never span
    batches), and every consumer must match the full-corpus plain
    path exactly — the folded sum(w) over appended deltas equals a
    from-scratch rebuild."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    ops = ["pagerank_weighted", "graph_degree_stats"]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in ops}
    name = lay.graph_table_name(sf)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    try:
        from seqdatapipeline_spark.extensions.graph import (
            co_occurrence_weighted_half,
        )

        first = li.filter(F.col("l_orderkey") % 2 == 0)
        second = li.filter(F.col("l_orderkey") % 2 == 1)
        lay.write_curated_bucketed(
            co_occurrence_weighted_half(first, "l_orderkey", "l_partkey", 64),
            name,
            "src",
            n_buckets=4,
        )
        lay.refresh_curated_edges(spark, sf, second)
        for op in ops:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_refresh_curated_edges_validates_batch_disjointness(spark):
    """The ingest contract is now checked, not trusted (VERDICT r10
    item 5): a batch re-delivering already-ingested group keys must
    raise before touching the store; a disjoint batch passes and
    registers its keys; validate_batch_keys=False opts out."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.extensions.graph import co_occurrence_weighted_half
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    name = lay.graph_table_name(sf)
    keys_name = lay.graph_keys_table_name(sf)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    first = li.filter(F.col("l_orderkey") % 2 == 0)
    second = li.filter(F.col("l_orderkey") % 2 == 1)
    try:
        lay.write_curated_bucketed(
            co_occurrence_weighted_half(first, "l_orderkey", "l_partkey", 64),
            name, "src", n_buckets=4,
        )
        lay.write_curated_bucketed(
            first.select(F.col("l_orderkey").alias("gkey")).distinct(),
            keys_name, "gkey", n_buckets=4,
        )
        # Disjoint batch: passes, and its keys are registered.
        lay.refresh_curated_edges(spark, sf, second)
        n_keys = spark.table(keys_name).distinct().count()
        assert n_keys == li.select("l_orderkey").distinct().count()
        # Replaying ANY already-ingested group must raise.
        with _pytest.raises(ValueError, match="already"):
            lay.refresh_curated_edges(spark, sf, second.limit(50))
        # Explicit opt-out still appends (replay semantics) — but must
        # be IDEMPOTENT on the keys table (r11 ADVICE: unconditional
        # appends grew it by one duplicate row set per replay, forever).
        rows_before = spark.table(keys_name).count()
        lay.refresh_curated_edges(
            spark, sf, second, validate_batch_keys=False
        )
        assert spark.table(keys_name).count() == rows_before, (
            "no-validate replay re-registered already-known group keys"
        )
        # A no-validate batch with genuinely NEW keys still registers
        # them (no-validate is not only-for-replays).
        fresh = second.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(10_000_000)
        )
        lay.refresh_curated_edges(spark, sf, fresh, validate_batch_keys=False)
        assert spark.table(keys_name).count() == rows_before + (
            fresh.select("l_orderkey").distinct().count()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {keys_name}")


def test_curated_pq_codes_parity_and_bucket_pruning(spark):
    """The curated IVF+PQ code table: serving from stored codes must
    return the exact rows of the build-at-query path (construction is
    deterministic), and the code scan must bucket-prune to the probed
    inverted lists (SelectedBucketsCount < total)."""
    import re

    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain = set(map(tuple, qs["ivf_pq_topk"](spark, sf).collect()))
    plain_pq = set(map(tuple, qs["pq_ann_topk"](spark, sf).collect()))
    name = lay.pq_table_name(sf)
    try:
        lay.write_curated_pq(spark, sf, n_buckets=8)
        df = qs["ivf_pq_topk"](spark, sf)
        assert set(map(tuple, df.collect())) == plain
        assert (
            set(map(tuple, qs["pq_ann_topk"](spark, sf).collect())) == plain_pq
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_append_curated_bucketed_keeps_clustering_and_parity(spark, tmp_path):
    """The ingest loop: curate half the corpus, append the other half
    as a batch. The appended table must (a) hold exactly the full
    corpus rows, (b) still satisfy the collapse groupBy with no
    exchange (insertInto hashes the batch with the table's bucket
    spec), and (c) give consumers the same answers as a plain scan of
    the full corpus."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    docs = spark.read.parquet(f"{sf}/documents.parquet").withColumn(
        "content_hash", F.md5("text")
    )
    plain_pairs = set(map(tuple, qs["dedup_minhash_lsh"](spark, sf).collect()))
    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    try:
        half = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        lay.write_curated_bucketed(half, name, "content_hash", n_buckets=8)
        lay.append_curated_bucketed(rest, name, "content_hash", n_buckets=8)
        cur = spark.table(name)
        assert cur.count() == docs.count()
        assert set(map(tuple, cur.select("doc_id").collect())) == set(
            map(tuple, docs.select("doc_id").collect())
        )
        g_cur = dd.exact_groups(*dd.text_collapse_args(cur, "doc_id", "text", 3))
        p_cur = g_cur._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p_cur, p_cur
        assert p_cur.count("Exchange hashpartitioning") == 0, p_cur
        assert (
            set(map(tuple, qs["dedup_minhash_lsh"](spark, sf).collect()))
            == plain_pairs
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_append_curated_bucketed_default_width_is_table_bucket_count(spark):
    """A default append repartitions to the table's own bucket count
    (from its manifest), so it adds at most one file per bucket."""
    import glob

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.io.sinks import resolve_table_location

    table, n_buckets = "t_append_default_width", 16
    try:
        lay.write_curated_bucketed(
            spark.range(0, 400).withColumn("v", F.col("id") % 7), table, "id", n_buckets
        )
        loc = resolve_table_location(spark, table).removeprefix("file:")

        def data_files():
            return set(glob.glob(f"{loc}/part-*"))

        before = data_files()
        lay.append_curated_bucketed(
            spark.range(400, 800).withColumn("v", F.col("id") % 7), table, "id"
        )
        assert 0 < len(data_files() - before) <= n_buckets
        assert spark.table(table).count() == 800
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_refresh_curated_ivf_appends_assignments(spark):
    """IVF ingest: index half the vectors, refresh with the rest. The
    refreshed index must contain every vector exactly once, with cell
    assignments identical to a from-scratch build (stored centroids =
    the full build's centroids when trained on the same seed set),
    and ann_ivf_topk over the refreshed index must match the plain
    path."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.registry import _t

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain = set(map(tuple, qs["ann_ivf_topk"](spark, sf).collect()))
    emb = _t(spark, sf, "embeddings")
    cells_name, cents_name = lay.ivf_table_names(sf)
    try:
        lay.write_curated_ivf(spark, sf, kmeans_k=10, n_buckets=16)
        full = {
            (r["vec_id"], r["cell"])
            for r in spark.table(cells_name).select("vec_id", "cell").collect()
        }
        # Simulate a half-ingested store: keep the full build's
        # centroids (training is curation-time state) but rebuild the
        # cells table with only the even-id vectors, then refresh
        # with the odd half.
        kept = spark.table(cells_name).filter(F.col("vec_id") % 2 == 0)
        rebuilt_name = cells_name
        kept.write.mode("overwrite").format("parquet").saveAsTable(
            rebuilt_name + "_tmp"
        )
        spark.sql(f"DROP TABLE IF EXISTS {rebuilt_name}")
        lay.write_curated_bucketed(
            spark.table(rebuilt_name + "_tmp"), rebuilt_name, "cell", 16
        )
        lay.refresh_curated_ivf(
            spark, sf, emb.filter(F.col("vec_id") % 2 == 1)
        )
        got = {
            (r["vec_id"], r["cell"])
            for r in spark.table(cells_name).select("vec_id", "cell").collect()
        }
        assert got == full
        assert set(map(tuple, qs["ann_ivf_topk"](spark, sf).collect())) == plain
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cells_name}")
        spark.sql(f"DROP TABLE IF EXISTS {cells_name}_tmp")
        spark.sql(f"DROP TABLE IF EXISTS {cents_name}")


# ------------------------------------------------ layout-cache + no_aqe invariants

def test_no_aqe_nested_blocks_restore_outermost_value(spark):
    """Nested no_aqe sections must be a no-op below the outermost
    block and restore the PRE-ENTRY conf value exactly once — the
    out-of-order-restore hazard the session.no_aqe concurrency
    contract rules out mechanically (depth counter + RLock)."""
    from seqdatapipeline_spark.session import no_aqe

    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "true")
    with no_aqe(spark):
        assert spark.conf.get(key) == "false"
        with no_aqe(spark):
            assert spark.conf.get(key) == "false"
        # inner exit must NOT restore early
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"
    # restores a non-default pre-entry value too
    spark.conf.set(key, "false")
    with no_aqe(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "false"
    spark.conf.set(key, "true")


def test_no_aqe_nested_different_sessions_each_disabled(spark):
    """Depth is keyed per (thread, session), not per thread (ADVICE
    r10): nesting no_aqe(sessionB) inside no_aqe(sessionA) must
    disable AQE on B's conf too — the multi-session pattern the
    concurrency contract itself recommends — and each exit restores
    only its own session's pre-entry value."""
    from seqdatapipeline_spark.session import no_aqe

    key = "spark.sql.adaptive.enabled"
    other = spark.newSession()  # isolated conf, shared SparkContext
    spark.conf.set(key, "true")
    other.conf.set(key, "true")
    with no_aqe(spark):
        assert spark.conf.get(key) == "false"
        assert other.conf.get(key) == "true"  # untouched so far
        with no_aqe(other):
            assert other.conf.get(key) == "false"  # NOT a silent no-op
            assert spark.conf.get(key) == "false"
        assert other.conf.get(key) == "true"  # B restored on B's exit
        assert spark.conf.get(key) == "false"  # A still inside
    assert spark.conf.get(key) == "true"


def test_plain_reader_memo_invalidates_on_directory_rewrite(spark, tmp_path):
    """curated_or_parquet memoizes the plain spark.read.parquet plan
    per session; that handle pins the file listing captured at first
    call. A mid-session OVERWRITE of the parquet directory (new part
    files, old ones gone) must be picked up without an explicit
    detect_cache_clear — the memo entry carries the directory mtime
    (ADVICE r9: the staleness class the old per-call read did not
    have)."""
    from seqdatapipeline_spark.io import layout as lay

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    spark.range(10).selectExpr("id AS doc_id").write.parquet(path)
    df1, curated1 = lay.curated_or_parquet(spark, sf, "documents", "doc_id")
    assert not curated1 and df1.count() == 10
    # memo hit returns the same plan object
    df2, _ = lay.curated_or_parquet(spark, sf, "documents", "doc_id")
    assert df2 is df1
    spark.range(25).selectExpr("id AS doc_id").write.mode("overwrite").parquet(path)
    df3, curated3 = lay.curated_or_parquet(spark, sf, "documents", "doc_id")
    assert not curated3
    assert df3.count() == 25  # stale pinned listing would miss/err here


def _tier_text(spark, sf, lay, F):
    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    docs = spark.read.parquet(f"{sf}/documents.parquet").withColumn(
        "content_hash", F.md5("text")
    )

    def probe():
        got = lay.curated_or_parquet(spark, sf, "documents", "content_hash")
        return got[0] if got[1] else None

    return probe, lambda: lay.write_curated_bucketed(docs, name, "content_hash", 8), [name]


def _tier_edges(spark, sf, lay, F):
    name = lay.graph_table_name(sf)
    return (
        lambda: lay.curated_edges_or_none(spark, sf),
        lambda: lay.write_curated_edges(spark, sf, n_buckets=4),
        [name, lay.graph_keys_table_name(sf)],
    )


def _tier_ivf(spark, sf, lay, F):
    cells, cents = lay.ivf_table_names(sf)
    return (
        lambda: lay.curated_ivf_or_none(spark, sf),
        lambda: lay.write_curated_ivf(spark, sf, kmeans_k=10, n_buckets=8),
        [cells, cents],
    )


def _tier_pq(spark, sf, lay, F):
    name = lay.pq_table_name(sf)
    return (
        lambda: lay.curated_pq_or_none(spark, sf),
        lambda: lay.write_curated_pq(spark, sf, n_buckets=8),
        [name],
    )


@pytest.mark.parametrize("tier", [_tier_text, _tier_edges, _tier_ivf, _tier_pq])
def test_every_curated_tier_invalidates_detection_on_write(spark, tier):
    """LAYOUTS invariant (one test per curated tier): a detection
    probe that MISSES before the tier's write path must HIT right
    after it, in the same session, with no manual detect_cache_clear.
    This pins the sticky-cache bug class the r9 self-review caught
    (a cached miss silently misrouting every later call)."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    probe, write, tables = tier(spark, sf, lay, F)
    try:
        assert probe() is None  # caches the miss
        write()
        assert probe() is not None  # write must have flushed the miss
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        lay.detect_cache_clear()


def _tier_urls(spark, sf, lay, F):
    return (
        lambda: lay.curated_urls_or_none(spark, sf),
        lambda: lay.write_curated_urls(spark, sf, n_buckets=4),
        [lay.url_table_name(sf)],
    )


@pytest.mark.parametrize("tier", [_tier_urls])
def test_url_tier_invalidates_detection_on_write(spark, tier):
    """Same probe-miss -> write -> probe-hit invariant as the other
    curated tiers (LAYOUTS.md), for the r10 URL tier."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    probe, write, tables = tier(spark, sf, lay, F)
    try:
        assert probe() is None
        write()
        assert probe() is not None
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        lay.detect_cache_clear()


def test_curated_urls_parity_and_plan_effects(spark):
    """The curated URL table (io.layout.write_curated_urls): every
    URL-tier consumer must produce identical rows on the curated copy
    (derivation is deterministic string expressions). Physical
    effects pinned:

    - domain_budget_cap runs with ZERO exchanges — keyed_topk's
      (domain, salt) stage and its per-domain merge are both
      satisfied by the domain clustering, so the whole crawl budget
      is scan + map-side aggregation;
    - the census reads STORED parsed columns (no regexp in the plan —
      parse-once-at-ingest) from the bucketed scan. Its two
      countDistinct aggregates still shuffle: Spark's
      multiple-distinct rewrite goes through an Expand whose output
      partitioning is unknown, so no bucket layout can carry
      clustering through it — the curated win for the census is the
      ~10 regex passes per call, not the exchange."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    ops = ["url_normalize", "url_domain_stats", "robots_filter", "domain_budget_cap"]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in ops}
    name = lay.url_table_name(sf)
    try:
        lay.write_curated_urls(spark, sf, n_buckets=4)
        assert lay.curated_urls_or_none(spark, sf) is not None
        for op in ops:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
        cap_plan = (
            qs["domain_budget_cap"](spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in cap_plan, cap_plan
        census_plan = (
            qs["url_domain_stats"](spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in census_plan
        assert "regexp_replace" not in census_plan, census_plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        lay.detect_cache_clear()


def test_curated_urls_ingest_append_parity(spark):
    """The URL tier's ingest loop (LAYOUTS.md): curate the URL table
    from half the docs, absorb the other half with
    append_curated_bucketed (URLs are parse-once facts — no fold
    needed), and every consumer must match the full-corpus plain path
    exactly."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.ops import strings as st
    from seqdatapipeline_spark.registry_ext import _url_raw_messy_col

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    ops = ["url_normalize", "url_domain_stats", "domain_budget_cap"]
    plain = {op: set(map(tuple, qs[op](spark, sf).collect())) for op in ops}
    name = lay.url_table_name(sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    raw = _url_raw_messy_col()

    def parse(d):
        return d.select(
            "doc_id", "lang", "source",
            raw.alias("url_raw"),
            st.url_normalize(raw).alias("url_norm"),
            st.url_domain(raw).alias("domain"),
            st.url_path(raw).alias("path"),
        )

    try:
        lay.write_curated_bucketed(
            parse(docs.filter(F.col("doc_id") % 2 == 0)), name, "domain", 4
        )
        lay.append_curated_bucketed(
            parse(docs.filter(F.col("doc_id") % 2 == 1)), name, "domain"
        )
        assert lay.curated_urls_or_none(spark, sf) is not None
        for op in ops:
            assert set(map(tuple, qs[op](spark, sf).collect())) == plain[op], op
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        lay.detect_cache_clear()
