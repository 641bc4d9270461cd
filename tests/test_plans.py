"""Physical-plan regression tests: the *shape* of the plan is part of
the contract at 100 TB, not just the result. A lookup join that
silently degrades from BroadcastHashJoin to SortMergeJoin, or an
interval join that falls back to BroadcastNestedLoopJoin, is a
correctness-of-scale bug even when the rows still match.

Each test builds the production query from `__spark_entry__.queries()`
and asserts on `executedPlan` (post-AQE-prepare physical plan).
"""

from __future__ import annotations

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_contact_lookup_is_broadcast(spark, sf_dir, queries):
    """Dim lookup must broadcast — the fact side never shuffles
    (VERDICT r1 item 4: 'verify the contact join plan shows
    BroadcastHashJoin, not SortMergeJoin')."""
    plan = _plan(queries["contact_lookup_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gene_read_count_is_broadcast_no_bnlj(spark, sf_dir, queries):
    """The flagship range join rides a broadcast, and the range
    predicate must not demote it to a nested-loop join."""
    plan = _plan(queries["gene_read_count"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_count_has_no_pair_explosion(spark, sf_dir, queries):
    """The binned interval-count rewrite must stay an equi-join —
    never BNLJ/cartesian over points x intervals."""
    plan = _plan(queries["feature_interval_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_band_classify_folds_dim_into_codegen(spark, sf_dir, queries):
    """metrics_interval_join folds the band dim into a CASE chain: no
    join operator of any kind against the band table."""
    plan = _plan(queries["metrics_interval_join"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan
    assert "CASE WHEN" in plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir, queries):
    """Row filters must reach the parquet reader (PushedFilters), and
    the scan must prune to the projected columns, not read them all."""
    plan = _plan(queries["filter_tlen_range"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan
    # Column pruning: a projection query must scan only its columns.
    proj_plan = _plan(queries["project_tlen"](spark, sf_dir))
    read_schema = [l for l in proj_plan.splitlines() if "ReadSchema" in l]
    lineitem_cols = 16
    assert read_schema and read_schema[0].count(":") < lineitem_cols


def test_dedup_lsh_is_single_scan_aggregation(spark, sf_dir, queries):
    """MinHash LSH pair generation computes the signature pipeline
    exactly once: the r7 form persists the signature-grouped table,
    so its four consumers read ONE cached materialization and doc
    pairs fan out by array explosion — no self-join re-deriving
    signatures, no cross product. The pre-execution printout re-prints
    the cached subtree at every use site (an InMemoryRelation is
    structurally a leaf — see the plan-audit note), so the scan count
    is asserted on the POST-materialization plan, where consumers show
    as InMemoryTableScan."""
    import importlib.util as ilu

    spec = ilu.spec_from_file_location(
        "plan_audit", os.path.join(REPO, "scripts", "plan_audit.py")
    )
    pa = ilu.module_from_spec(spec)
    spec.loader.exec_module(pa)
    df = queries["dedup_minhash_lsh"](spark, sf_dir)
    df.count()  # materialize the persisted signature table
    df2 = queries["dedup_minhash_lsh"](spark, sf_dir)
    n = pa._scans_outside_cache(df2._jdf.queryExecution().executedPlan())
    assert n == 0, f"{n} physical scans outside the signature cache"
    plan = _plan(df2)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_serving_plan_is_flat(spark, sf_dir, queries):
    """IVF ANN: training materializes the centroid model, so the
    serving plan reads the corpus once and joins per-query probes on
    cell id — not an unrolled multi-round Lloyd DAG."""
    plan = _plan(queries["ann_ivf_topk"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_exact_dedup_has_partial_aggregation(spark, sf_dir, queries):
    """Hash-groupBy dedup must partial-aggregate map-side (two
    HashAggregate levels around one shuffle)."""
    plan = _plan(queries["dedup_exact"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_covers_scalar_ops(spark, sf_dir, queries):
    """Scalar/filter operators run inside WholeStageCodegen, and no
    operator in the scalar layer falls back to a Python-UDF
    BatchEvalPython stage. Higher-order-function expressions (lambda
    filter/transform in the textstats pass) are JVM-interpreted rather
    than codegen'd by Catalyst — for those only the no-Python property
    is asserted."""
    for name in ("filter_not_chrm", "project_tlen"):
        plan = _plan(queries[name](spark, sf_dir))
        # '*(n) ' prefixes mark WholeStageCodegen stages in toString().
        assert "*(1)" in plan or "WholeStageCodegen" in plan, name
    for name in ("filter_not_chrm", "project_tlen", "text_quality_score", "token_count"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_compact_layout_physical_effects(spark, sf_dir):
    """Compaction must produce ONE parquet file per partition value,
    and a read with a partition predicate must prune at the dir level
    (PartitionFilters in the scan, not a post-scan filter)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout
    from seqdatapipeline_spark.registry import _t

    out = os.path.join(tempfile.mkdtemp(), "compact")
    e = _t(spark, sf_dir, "events")
    layout.compact_partitioned(e, out, partition_cols=["event_type"], sort_cols=["ts"])

    part_dirs = glob.glob(os.path.join(out, "event_type=*"))
    assert len(part_dirs) == 5
    for d in part_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: expected 1 compacted file, got {len(files)}"

    plan = _plan(
        spark.read.parquet(out).filter(F.col("event_type") == "click")
    )
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]


def test_zorder_key_locality_and_bounds(spark):
    """Morton key must interleave exactly (hand-checked values) and
    stay within n*bits bits."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (4095, 4095)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", layout.zorder_key(["x", "y"], bits=12).alias("z")
        ).collect()
    }
    # bit i of x -> position 2i; bit i of y -> position 2i+1
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    # x=3 (0b11) -> 0b0101; y=5 (0b101) -> 0b100010; z = 0b100111 = 39
    assert got[(3, 5)] == 0b100111
    assert got[(4095, 4095)] == (1 << 24) - 1


def test_zorder_sort_tightens_row_group_stats(spark, sf_dir):
    """The point of Z-ordering: after sorting by the Morton key, each
    parquet row group covers a small rectangle of the (partkey,
    suppkey) space, so min/max statistics prune row groups for
    predicates on EITHER dimension. Quantified via pyarrow metadata:
    the mean per-row-group min/max span of both dimensions must shrink
    by at least 2x versus the unsorted layout."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.io import layout
    from seqdatapipeline_spark.registry import _t

    # sf0.01 (60k rows): enough data that the 64 KiB row-group limit
    # yields many groups (dictionary-encoded ints buffer tiny).
    # two dimensions that BOTH span their domain (l_suppkey only
    # reaches ~100 at this SF, which would leave its Morton bits inert)
    li = _t(spark, "/root/testdata/sf0.01", "lineitem").select(
        (F.col("l_partkey") % 1024).alias("x"),
        (F.col("l_orderkey") % 1024).alias("y"),
    )
    zkey = layout.zorder_key(["x", "y"], bits=10)

    tmp = tempfile.mkdtemp()
    plain, zsorted = os.path.join(tmp, "plain"), os.path.join(tmp, "zsorted")
    # single output file each; small row groups so files hold many
    rg = {
        "parquet.block.size": str(16 * 1024),
        "parquet.page.size": str(4 * 1024),
        # plain encoding: dictionary-encoded ints buffer so small that
        # the writer's size check never triggers a new row group
        "parquet.enable.dictionary": "false",
    }
    li.coalesce(1).write.options(**rg).mode("overwrite").parquet(plain)
    (
        li.withColumn("z", zkey)
        .coalesce(1)
        .sortWithinPartitions("z")
        .drop("z")
        .write.options(**rg)
        .mode("overwrite")
        .parquet(zsorted)
    )

    def mean_span(path, col_idx):
        f = pq.ParquetFile(glob.glob(os.path.join(path, "*.parquet"))[0])
        spans = []
        for i in range(f.metadata.num_row_groups):
            s = f.metadata.row_group(i).column(col_idx).statistics
            spans.append(s.max - s.min)
        assert len(spans) >= 4, "need several row groups for a meaningful test"
        return sum(spans) / len(spans)

    for col_idx in (0, 1):  # x and y both must tighten
        assert mean_span(zsorted, col_idx) * 2 < mean_span(plain, col_idx), (
            f"zorder failed to tighten col {col_idx}"
        )


def test_bucketed_join_and_agg_are_shuffle_free(spark, sf_dir):
    """Two tables bucketed on the join key by write_bucketed join with
    zero shuffle exchanges (the layout pre-paid the shuffle), and a
    groupBy on the bucket key aggregates without a repartition.
    Broadcast is disabled so the test can't pass by broadcasting."""
    from seqdatapipeline_spark.io import sinks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        sinks.write_bucketed(
            li, "t_li_bucketed", ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"]
        )
        sinks.write_bucketed(
            od, "t_od_bucketed", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"]
        )
        bl, bo = spark.table("t_li_bucketed"), spark.table("t_od_bucketed")
        j = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # same rows as the un-bucketed join
        plain = li.join(od, li.l_orderkey == od.o_orderkey)
        assert j.count() == plain.count()
        agg = bl.groupBy("l_orderkey").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_od_bucketed")


def test_pe_mate_join_single_scan_no_join(spark, sf_dir, queries):
    """The mate pairing runs as one scan + one hash groupBy + explode:
    no join operator, no sort, and the mate filter reaches parquet."""
    plan = _plan(queries["pe_mate_join"](spark, sf_dir))
    assert "Join" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 1
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_pe_mate_pivot_single_exchange(spark, sf_dir, queries):
    """The (key,tag)-unique pivot form: one scan, one exchange, the
    partial aggregate runs map-side before it."""
    plan = _plan(queries["pe_mate_pivot"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan


def test_span_dedup_skew_safe_no_window(spark, sf_dir, queries):
    """C4 span dedup must stay the skew-immune groupBy-min form: NO
    span-keyed window (a hot boilerplate span would single-task it),
    map-side partial aggregation on the span hash, and only the
    doc-level reassembly join (never a join on the span stream)."""
    plan = _plan(queries["dedup_spans_exact"](spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2  # span branch + totals branch


def test_dsir_distribution_model_broadcasts(spark, sf_dir, queries):
    """The 256-bucket log-ratio model must broadcast back onto the
    corpus — a shuffle join against a 256-row table means the plan
    lost the model-sized guarantee."""
    plan = _plan(queries["dsir_importance_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_equi_keyed(spark, sf_dir, queries):
    """The within-cell pair step must be an equi-join on the cell key
    (SortMerge or Hash), never a nested loop over vectors."""
    plan = _plan(queries["semdedup_prune"](spark, sf_dir))
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_pq_adc_lookup_is_equi_join_no_vectors(spark, sf_dir, queries):
    """ADC search scores codes via an equi-keyed lookup join; the
    plan must not fall back to a cartesian over codes x queries."""
    plan = _plan(queries["pq_ann_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the (subspace, centroid) lookup


def test_incremental_ingest_prunes_slices_before_hashing(spark, sf_dir, queries):
    """The new/old slice filters must sit below the signature pass in
    the scan (DataFilters carry the doc_id % 5 predicate), so each
    scan hashes a disjoint slice."""
    plan = _plan(queries["incremental_ingest_dedup"](spark, sf_dir))
    assert "% 5) = 4" in plan and "% 5) = 4)" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_spreads_hot_key(spark):
    """salted_join must (a) return exactly the plain-join result and
    (b) actually spread a manufactured hot key: the join key gains a
    salt component (visible in the physical join condition) whose
    values cover all n_salts buckets for the hot key's rows — one
    degenerate key lands on n_salts reducers instead of one."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.ops.joins import salted_join

    n_hot, n_salts = 20_000, 8
    fact = spark.range(n_hot + 100).select(
        F.when(F.col("id") < n_hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.createDataFrame(
        [("hot", 1.0), ("k" + str(n_hot + 1), 2.0)], "k string, w double"
    )
    salted = salted_join(fact, dim, "k", n_salts=n_salts)
    plain = fact.join(dim, "k")
    assert "__salt" in _plan(salted)  # the join really keys on the salt
    got = salted.groupBy("k").count().collect()
    want = plain.groupBy("k").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the hot key's fact rows cover every salt bucket
    spread = (
        fact.where(F.col("k") == "hot")
        .select(F.pmod(F.xxhash64("k", "row_id"), F.lit(n_salts)).alias("s"))
        .distinct()
        .count()
    )
    assert spread == n_salts


def _final_plan(df) -> str:
    """Execute df's OWN QueryExecution and return the AQE-final plan.
    (a .write/.count spawns a separate QueryExecution — its runtime
    re-planning would never reach df's plan object.)"""
    df._jdf.queryExecution().toRdd().count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_split_engages_on_plain_shuffle_join(spark):
    """AQE's skew split is the session's first line of defense for
    hot keys in PLAIN shuffle joins (both children bare exchanges —
    the interval/metrics join shape). Prove it actually engages on a
    manufactured 90%-hot key at test-scale thresholds: the final
    plan must mark the join skew-handled."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(1_000_000).select(
            F.when(F.col("id") < 900_000, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        plan = _final_plan(left.join(right, "k"))
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_router_join_broadcasts_hot_hash(spark):
    """AQE's skew split CANNOT act on the groupBy→join-back shape
    (the aggregate between shuffle and join defeats
    OptimizeSkewedJoin's bare-shuffle pattern — verified: the plain
    join above marks skew=true, the same hot key through
    duplicate_weights never does). dedup_soft_weights therefore
    routes the power-law head through skew_router_join: with a hot
    threshold below the manufactured viral count, the final plan must
    carry a BroadcastHashJoin (the hot path — viral rows never reach
    the join exchange) and the result must equal the naive join."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.extensions.dedup import duplicate_weights

    docs = spark.range(40_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 36_000, F.lit("viral boilerplate " * 8))
        .otherwise(F.concat(F.lit("unique text "), F.col("id")))
        .alias("text"),
    )
    routed = duplicate_weights(docs, hot_threshold=1000)
    plan = _final_plan(routed)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # identity with the naive single-join form (threshold above max count)
    naive = duplicate_weights(docs, hot_threshold=10**9)
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, naive.collect())
    )
    # the viral hash is attributed correctly through the broadcast path
    hot_row = routed.filter(F.col("doc_id") == 0).collect()[0]
    assert hot_row.n_copies == 36_000


def test_interval_count_prefix_plan_has_no_interior_explode(spark):
    """The dense (prefix-sum) term must not regress to the explode-interior
    shape: no per-interval sequence() explode of interior bins (the
    term that is intervals x bins-per-interval — quadratic when bins
    shrink with density), and the cumulative windows must be keyed by
    (chrom, superbin), never an unpartitioned corpus window. The
    dense superbin range IS materialized by one bounded sequence()
    over the per-chrom min/max row — assert the interior explode
    specifically, not sequence() generally."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.ops import joins as jn

    pts = spark.range(10_000).select(
        F.lit("c").alias("rname"), (F.col("id") % 997).cast("double").alias("pos")
    )
    ivl = spark.range(200).select(
        F.lit("c").alias("chrom"),
        F.col("id").alias("gid"),
        (F.col("id") % 50).cast("double").alias("start"),
        ((F.col("id") % 50) + 100).cast("double").alias("end"),
    )
    plan = _plan(jn._count_at(*jn._binned_points(pts, 2), ivl, ["gid"], 2, dense=True))
    assert "sequence((__lo" not in plan, plan[:3000]
    # both cumulative windows ride the superbin key
    assert "__sb" in plan
    assert "BroadcastNestedLoopJoin" not in plan or "__sbmin" in plan


def test_plain_reader_memo_costs_zero_jobs_on_repeat(spark, sf_dir):
    """registry._t routes through io.layout.plain_parquet: after the
    first read of a (session, path), a repeat _t call must launch
    ZERO Spark jobs (the r10 fij adjudication found two per-call
    footer jobs at the head of every two-table query)."""
    from seqdatapipeline_spark.registry import _t

    st = spark.sparkContext.statusTracker()
    _t(spark, sf_dir, "part")  # first read may cost footer jobs
    j0 = max(st.getJobIdsForGroup(None) or [-1])
    for _ in range(3):
        _t(spark, sf_dir, "part")
    assert max(st.getJobIdsForGroup(None) or [-1]) == j0


def test_interval_adaptive_build_phase_runs_at_most_three_jobs(spark, sf_dir, queries):
    """The adaptive interval dispatcher's eager plan-build phase is
    pinned at <= 3 driver-sequential jobs (measured 2 after the r10
    fix: one no_aqe intervals min/max + one no_aqe bin-count agg;
    was 9 — two _t footer reads + AQE stats stage-jobs + a cache
    entry registered under AQE). A creep here re-opens the
    dedup_exact/fij fixed-cost class."""
    from seqdatapipeline_spark.ops.joins import _adaptive_stats_clear

    st = spark.sparkContext.statusTracker()
    fn = queries["feature_interval_join"]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # memo warm-up
    _adaptive_stats_clear()  # force the stats jobs to re-run
    j0 = max(st.getJobIdsForGroup(None) or [-1])
    fn(spark, sf_dir)
    assert max(st.getJobIdsForGroup(None) or [-1]) - j0 <= 3
    _adaptive_stats_clear()
