"""Joins (SURVEY.md §2.3) — equi, semi, anti, broadcast-dim, and the
interval/range joins that are the reference's analytical core.

Scale design:
- Dim-side joins take an explicit ``broadcast()`` hint — at 100 TB the
  fact side never shuffles for a lookup join.
- Interval joins have two physical strategies: broadcast range join
  for dim-sized interval tables (GTF ~1e6 rows), and a bin-and-explode
  equi-join rewrite for big-big, which turns the
  BroadcastNestedLoopJoin Catalyst would otherwise pick into a
  shuffle-hash/sort-merge join on (chrom, bin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import Memo, fan_out, memo_key, no_aqe

# interval_count_adaptive's memoized built plans; each entry holds its
# persisted bin-count table.
_INTERVAL_STATS = Memo("interval-stats", 8)
_adaptive_stats_clear = _INTERVAL_STATS.clear

# interval_count_adaptive's routing constants, read at call time (tests
# patch them to force a route or a width). The sparse route's bin width
# is the optimum of the sf0.1 sweep (25-400) and the 10x re-sweep; the
# route holds while no bin of that width holds more than
# MAX_POINTS_PER_BIN points (measured crossover: sparse wins 1.0 s vs
# 1.8 s at sf0.1, dense wins 2.5 s vs 4.7 s at 10x and 18 s vs 617 s at
# 100x). The dense route sizes its bins to hold TARGET_POINTS_PER_BIN
# points (the sf0.1 sweep optimum) and rolls them up into superbins of
# SUPERBIN_BINS bins.
TUNED_BIN = 50
MAX_POINTS_PER_BIN = 1000
TARGET_POINTS_PER_BIN = 273
SUPERBIN_BINS = 4096


def mate_pair_enumerate(
    df: DataFrame,
    key: str,
    tag_col: str,
    value_cols: list[str],
    tag1=1,
    tag2=2,
) -> DataFrame:
    """EXACT inner-join mate pairing from a single tagged source: per
    key, collect both mate slices and enumerate their cross product —
    bit-identical to ``pe_mate_join(slice1, slice2)`` including
    duplicate-key pair explosion, but executed as one scan + one
    map-side-combinable groupBy + explode instead of two scans + two
    shuffles + a sort-merge join. No sort anywhere (hash aggregate),
    which is what turned the measured super-linear SMJ curve flat; the
    within-key pair enumeration is bounded by per-read mate
    multiplicity (1 in well-formed data), never a table-level blowup.
    Output: key, then ``<col>_1``/``<col>_2`` per value column."""
    struct_cols = F.struct(*[F.col(c) for c in value_cols])
    g = (
        df.filter(F.col(tag_col).isin(tag1, tag2))
        .groupBy(key)
        .agg(
            F.collect_list(F.when(F.col(tag_col) == tag1, struct_cols)).alias("__m1"),
            F.collect_list(F.when(F.col(tag_col) == tag2, struct_cols)).alias("__m2"),
        )
    )
    return (
        g.select(key, F.explode("__m1").alias("__a"), "__m2")
        .select(key, "__a", F.explode("__m2").alias("__b"))
        .select(
            key,
            *[F.col(f"__a.{c}").alias(f"{c}_1") for c in value_cols],
            *[F.col(f"__b.{c}").alias(f"{c}_2") for c in value_cols],
        )
    )


def mate_pair_pivot(
    df: DataFrame,
    key: str,
    tag_col: str,
    value_cols: list[str],
    tag1=1,
    tag2=2,
) -> DataFrame:
    """Mate pairing when BOTH mates live in one source keyed by
    (key, tag) — the overwhelmingly common layout (interleaved FASTQ,
    one alignment table with a mate flag). Semantically the inner
    equi-join of the tag1 slice against the tag2 slice, but executed
    as one scan + one map-side-combinable groupBy pivot: vs the
    two-scan self-join form this halves table IO, halves shuffle
    volume, and the partial aggregate collapses each pair before the
    exchange — the difference between 7× and linear growth measured at
    10× data (SCALING.md pe_mate_join).

    Valid when (key, tag) is unique — one record per read per mate,
    which mate files guarantee; under duplicates use ``pe_mate_join``,
    whose join semantics enumerate the pairs. Output columns:
    key, then ``<col>_1``/``<col>_2`` per value column, inner-join
    row set enforced via per-side presence flags (value columns may
    be legitimately NULL)."""
    aggs = [
        F.max(F.when(F.col(tag_col) == tag1, 1)).alias("__p1"),
        F.max(F.when(F.col(tag_col) == tag2, 1)).alias("__p2"),
    ]
    for c in value_cols:
        aggs.append(F.max(F.when(F.col(tag_col) == tag1, F.col(c))).alias(f"{c}_1"))
        aggs.append(F.max(F.when(F.col(tag_col) == tag2, F.col(c))).alias(f"{c}_2"))
    out = (
        df.filter(F.col(tag_col).isin(tag1, tag2))
        .groupBy(key)
        .agg(*aggs)
        .filter(F.col("__p1").isNotNull() & F.col("__p2").isNotNull())
    )
    return out.drop("__p1", "__p2")


def broadcast_lookup_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Enrich a fact table from a tiny dim (reference
    pipelineParser.py:86-88 CONTACT dict lookup). Explicit broadcast:
    the fact side stays shuffle-free regardless of planner statistics."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Keep left rows with a match (reference parserTools.py:211-215
    completion membership loop — an accidental nested-loop semi-join)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Keep left rows with no match (reference pipelineParser.py:45-55
    missing-form removal → notProcessed.txt)."""
    return left.join(right, on=on, how="left_anti")


def interval_join_broadcast(
    points: DataFrame,
    intervals: DataFrame,
    point_chrom: str = "rname",
    point_pos: str = "pos",
    ivl_chrom: str = "chrom",
    ivl_start: str = "start",
    ivl_end: str = "end",
) -> DataFrame:
    """Overlap-join points against a *dim-sized* interval table —
    htseq-count / Picard metrics semantics (reference tools.py:651-652,
    :475-478). Broadcast + range predicate: each executor streams its
    point partition against the in-memory interval table; no shuffle of
    the (huge) point side. Use for interval tables that fit in memory
    (a GTF is ~1e6 rows). For big-big, use interval_join_binned."""
    return points.join(
        F.broadcast(intervals),
        on=(points[point_chrom] == intervals[ivl_chrom])
        & (points[point_pos] >= intervals[ivl_start])
        & (points[point_pos] <= intervals[ivl_end]),
        how="inner",
    )


def interval_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    bin_size: int = 100_000,
    point_chrom: str = "rname",
    point_pos: str = "pos",
    ivl_chrom: str = "chrom",
    ivl_start: str = "start",
    ivl_end: str = "end",
) -> DataFrame:
    """Big-big interval join via the bin-and-explode rewrite
    (SURVEY.md §4 item 1): assign each point ``bin = floor(pos/B)``,
    explode each interval across every bin it spans, equi-join on
    (chrom, bin), then post-filter the exact overlap.

    This replaces a BroadcastNestedLoopJoin with a plain shuffled
    equi-join — the only strategy that survives when both sides are
    fact-sized. Pick B ≳ the typical interval span so explosion stays
    ~1 row per interval; AQE's skew-join splitting handles hot bins.
    """
    b = F.lit(bin_size)
    pts = points.withColumn("__bin", (F.col(point_pos) / b).cast("long"))
    ivl = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence((F.col(ivl_start) / b).cast("long"), (F.col(ivl_end) / b).cast("long"))
        ),
    )
    joined = pts.join(
        ivl,
        on=(pts[point_chrom] == ivl[ivl_chrom])
        & (pts["__bin"] == ivl["__bin"])
        & (pts[point_pos] >= ivl[ivl_start])
        & (pts[point_pos] <= ivl[ivl_end]),
        how="inner",
    )
    return joined.drop("__bin")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    spread_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join for a hot-keyed fact side: fact rows get a
    deterministic salt in [0, n_salts) (hash of ``spread_cols``, all
    columns by default), the dim side is exploded across every salt,
    and the join key becomes (key…, salt) — so a single degenerate key
    (one chromosome holding half the genome's reads; one user with
    half the events) spreads over n_salts reducers instead of melting
    one.

    AQE's skew-join split handles moderate skew without help; reach for
    this when one key exceeds what a single split can hold, and keep
    ``dim`` small — it is replicated n_salts times. Result is identical
    to the plain join (salt never changes match semantics)."""
    keys = [on] if isinstance(on, str) else list(on)
    spread = spread_cols or [c for c in fact.columns]
    f = fact.withColumn("__salt", F.pmod(F.xxhash64(*spread), F.lit(n_salts)).cast("int"))
    d = dim.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return f.join(d, on=keys + ["__salt"], how=how).drop("__salt")


def skew_router_join(
    fact: DataFrame,
    agg_dim: DataFrame,
    on: str | list[str],
    hot_col: str,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Skew-immune inner join-back of a fact stream onto its own keyed
    aggregate (the groupBy(key) → join(key) shape: duplicate counts
    joined back to docs, document frequencies joined back to term
    postings).

    Why AQE cannot fix this shape: OptimizeSkewedJoin splits a skewed
    partition only when BOTH join children are bare shuffle stages —
    here the aggregate side is Sort(HashAggregate(Shuffle)), the
    pattern fails, and the whole join is skipped (verified empirically:
    a 90%-hot key marks `skew=true` on a plain shuffle join but never
    on this shape, even with forceOptimizeSkewedJoin). So at crawl
    scale, one viral content hash / stopword term puts its entire fact
    population through ONE reducer of the join-back exchange.

    The fix rides the aggregate itself: ``hot_col`` (the count the
    aggregate just computed) identifies the power-law head, which is
    model-sized BY CONSTRUCTION (at most |fact| / hot_threshold rows
    can exceed hot_threshold). The head broadcasts — hot fact rows
    resolve map-side and NEVER shuffle — while the tail takes the
    ordinary equi-join whose per-key row count is now capped at
    hot_threshold, below any split's skew ceiling. One scan of fact:
    the broadcast left-join doubles as the hot/cold router.

    Result is identical to ``fact.join(agg_dim, on)`` (inner)."""
    keys = [on] if isinstance(on, str) else list(on)
    hot = agg_dim.filter(F.col(hot_col) >= F.lit(hot_threshold)).withColumn(
        "__hot", F.lit(True)
    )
    cold = agg_dim.filter(F.col(hot_col) < F.lit(hot_threshold))
    tagged = fact.join(F.broadcast(hot), keys, "left")
    dim_cols = [c for c in agg_dim.columns if c not in keys]
    hot_rows = tagged.filter(F.col("__hot")).drop("__hot")
    cold_rows = (
        tagged.filter(F.col("__hot").isNull())
        .select(*fact.columns)
        .join(cold, keys)
    )
    return hot_rows.select(*keys, *[c for c in fact.columns if c not in keys], *dim_cols).unionByName(
        cold_rows.select(*keys, *[c for c in fact.columns if c not in keys], *dim_cols)
    )


def interval_count_adaptive(
    points: DataFrame, intervals: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Count points per interval group **without materializing the
    point×interval pairs** — the scale form of htseq-count / coverage
    classification when the answer is a count, not the pairs. Points
    are (``rname``, ``pos``), intervals (``chrom``, ``start``, ``end``,
    *group_cols*), closed on both ends; the output is *group_cols* plus
    the count ``n``, equal to
    ``interval_join_binned(...).groupBy(group_cols).count()`` (checked
    in tests).

    Each point falls in bin ``floor(pos / width)``. Only the two edge
    bins of an interval need the exact ``pos BETWEEN start AND end``
    test against raw points; its interior bins are counted wholesale by
    one of two terms, picked from the statistic the dispatcher observes:

    - **sparse** (no ``TUNED_BIN``-wide bin holds more than
      ``MAX_POINTS_PER_BIN`` points): each interval explodes into its
      interior bins, which join a per-(chrom, bin) count table — lowest
      constant factor, measured fastest up to ~1000 points per bin.
    - **dense**: a distributed prefix sum, two signed F-lookups per
      interval, with the width sized to ``TARGET_POINTS_PER_BIN``. At a
      fixed width the edge join grows with points per bin, and shrinking
      bins grows the interior explode instead (384x wall at 100x
      replication of both sides over a fixed domain); the prefix form is
      linear in |points| + |intervals| at any density.

    The result is bit-identical for any width and either term, so the
    choice moves only the physical plan.

    The decision statistic is the per-(chrom, bin) count table at
    ``TUNED_BIN``, persisted: its rows are bounded by domain/bin width
    (never ∝ |points|), its ``max`` is exactly what the edge join's
    cost depends on (robust to hot spots, unlike a mean), and the sparse
    term joins that SAME table, so the probe scan replaces a scan the
    plan needed anyway. The dense term sizes its width from the table's
    ``sum``. Two eager jobs per call: the interval min/max and the
    table's max/sum, both with AQE scoped off (under AQE each becomes
    3-5 stage jobs; measured r10, 9 jobs / 0.89-1.08 s of plan build vs
    3 jobs / ~0.5 s). Both aggregates are skew-free by construction, so
    runtime re-planning could improve nothing; the RETURNED plan keeps
    AQE. Empty ``intervals`` (min/max NULL) return an empty frame of
    the output schema without scanning points.

    The built plan is MEMOIZED per (session, input fingerprints, group
    columns, the four routing constants read at this call;
    session.memo_key), so a repeat call over the same inputs skips both
    stats jobs and the ~0.5 s of py4j plan construction, and a patched
    constant never gets a plan built for the other route. The entry
    holds the persisted bin table, so the interior join keeps hitting
    the same storage entry; it is as stale as any persisted frame over
    mutated input files. Bounded at 8 entries, FIFO; evicted entries
    unpersist their bin table."""
    ck = memo_key(
        (points, intervals),
        tuple(group_cols),
        TUNED_BIN,
        MAX_POINTS_PER_BIN,
        TARGET_POINTS_PER_BIN,
        SUPERBIN_BINS,
    )
    cached = _INTERVAL_STATS.get(ck)
    if cached is not None:
        return cached
    spark = points.sparkSession
    with no_aqe(spark):
        lo, hi = intervals.agg(F.min("start"), F.max("end")).first()
    if lo is None or hi is None:
        return intervals.select(*group_cols).limit(0).withColumn("n", F.lit(0).cast("long"))
    # Points outside [lo, hi] can match no interval: filtering them at
    # the scan (a pushed-down range predicate) limits the bin tables to
    # the interval domain, and makes the density that sizes the dense
    # width the one the edge join will see.
    points = points.filter((F.col("pos") >= F.lit(lo)) & (F.col("pos") <= F.lit(hi)))
    pts, bins = _binned_points(points, TUNED_BIN)
    # persist() INSIDE the no_aqe scope: the CacheManager compiles the
    # cached plan at registration time with the session conf of that
    # moment — registered under AQE it materializes as 3 stage-jobs
    # (measured: jobs of 3/35/68 tasks) even when the triggering
    # action runs with AQE off.
    with no_aqe(spark):
        bins = bins.persist()
        max_bn, n_pts = bins.agg(F.max("__bn"), F.sum("__bn")).first()
    if (max_bn or 0) <= MAX_POINTS_PER_BIN:
        out = _count_at(pts, bins, intervals, group_cols, TUNED_BIN, dense=False)
    else:
        domain = max(1.0, float(hi) - float(lo))
        width = max(1, round(TARGET_POINTS_PER_BIN * domain / max(n_pts or 0, 1)))
        out = _count_at(*_binned_points(points, width), intervals, group_cols, width, dense=True)
    _INTERVAL_STATS.put(ck, out, bins)
    return out


def _binned_points(points: DataFrame, width: int) -> tuple[DataFrame, DataFrame]:
    """(``__c``, ``__p``, ``__bin``) per point at bin width ``width``,
    and its per-(``__c``, ``__bin``) count table (``__bn``). The points
    are fanned out on (chrom, bin): that lifts map-side parallelism for
    row-group-bound local inputs (a no-op at scale) and pre-partitions
    both the count aggregation and the edge equi-join on the same keys,
    so neither adds an exchange."""
    pts = fan_out(
        points.select(
            F.col("rname").alias("__c"),
            F.col("pos").alias("__p"),
            (F.col("pos") / F.lit(width)).cast("long").alias("__bin"),
        ),
        "__c",
        "__bin",
    )
    return pts, pts.groupBy("__c", "__bin").agg(F.count("*").alias("__bn"))


def _count_at(
    pts: DataFrame,
    bins: DataFrame,
    intervals: DataFrame,
    group_cols: list[str],
    width: int,
    dense: bool,
) -> DataFrame:
    """interval_count_adaptive's count at bin width ``width`` from its
    binned points and their count table (``_binned_points``): the
    interior term (``_dense_interior`` or ``_sparse_interior``) plus
    one contribution per point that passes an interval's edge-bin exact
    test, summed per group."""
    ivl = intervals.withColumn("__lo", (F.col("start") / F.lit(width)).cast("long")).withColumn(
        "__hi", (F.col("end") / F.lit(width)).cast("long")
    )
    inner = ivl.filter(F.col("__hi") >= F.col("__lo") + 2)
    interior = (_dense_interior if dense else _sparse_interior)(inner, bins, group_cols)
    edge_bins = ivl.withColumn("__ibin", F.explode(F.array_distinct(F.array("__lo", "__hi"))))
    edges = (
        edge_bins.join(
            pts, on=(edge_bins["chrom"] == pts["__c"]) & (edge_bins["__ibin"] == pts["__bin"])
        )
        .filter((F.col("__p") >= F.col("start")) & (F.col("__p") <= F.col("end")))
        .select(*group_cols, F.lit(1).alias("__contrib"))
    )
    out = interior.unionByName(edges).groupBy(*group_cols).agg(F.sum("__contrib").alias("n"))
    # Signed lookups net to 0 for groups with no overlapping points;
    # dropping them restores the inner-join parity of the pair forms
    # (every per-interval term is non-negative, so 0 == no matches).
    # Every sparse contribution is positive, so it needs no filter.
    return out.filter(F.col("n") > 0) if dense else out


def _sparse_interior(inner: DataFrame, bins: DataFrame, group_cols: list[str]) -> DataFrame:
    """Interior term by explosion: every bin strictly inside an interval
    contributes its pre-aggregated count — a join against a table of
    |bins| rows, not |points| rows."""
    interior_bins = inner.withColumn(
        "__ibin", F.explode(F.sequence(F.col("__lo") + 1, F.col("__hi") - 1))
    )
    return interior_bins.join(
        bins,
        on=(interior_bins["chrom"] == bins["__c"]) & (interior_bins["__ibin"] == bins["__bin"]),
    ).select(*group_cols, F.col("__bn").alias("__contrib"))


def _dense_interior(inner: DataFrame, bins: DataFrame, group_cols: list[str]) -> DataFrame:
    """Interior term by prefix sum: with ``F(q)`` = count of points in
    bins <= q,

        interior(ivl) = F(hi_bin - 1) - F(lo_bin)

    so each interval costs two F-lookups, emitted as +/- signed
    contributions and summed by ``group_cols`` (no interval id is ever
    materialized), with no per-bin join.

    F is built without a global single-task window: bins roll up into
    superbins of ``SUPERBIN_BINS`` bins; the only per-chrom ordered scan
    runs over the DENSIFIED superbin range (~points / (target *
    superbin) rows — ~10^6 at 10^12 points), within-superbin prefixes
    parallelize across superbins, and F at an arbitrary (possibly
    unpopulated) query bin resolves as-of inside one superbin partition
    by unioning the signed queries into the bin-count stream and running
    one ordered sum. Lookup skew (many intervals ending in one hot
    superbin) widens a window partition by the query count only — query
    rows are constant-width."""
    sbw = F.lit(SUPERBIN_BINS)
    bin_counts = bins.withColumn("__sb", F.floor(F.col("__bin") / sbw).cast("long"))
    # Exclusive cumulative per superbin over the DENSIFIED range, so a
    # query superbin always equi-joins (populated-only would need a
    # second as-of). The ordered scan is per chrom over ~bins/superbin
    # rows — bounded small by construction.
    sb_tot = bin_counts.groupBy("__c", "__sb").agg(F.sum("__bn").alias("__sbn"))
    sb_range = sb_tot.groupBy("__c").agg(
        F.min("__sb").alias("__sbmin"), F.max("__sb").alias("__sbmax")
    )
    dense_sb = sb_range.select(
        "__c", F.explode(F.sequence("__sbmin", "__sbmax")).alias("__sb")
    )
    w_sb = (
        Window.partitionBy("__c")
        .orderBy("__sb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sb_cum = (
        dense_sb.join(sb_tot, on=["__c", "__sb"], how="left")
        .withColumn("__sbcum", F.coalesce(F.sum("__sbn").over(w_sb), F.lit(0)))
        .select("__c", "__sb", "__sbcum")
    )
    # Signed F-lookups: +F(hi-1) and -F(lo) per interval with an
    # interior. Query superbins clamp into the populated range so the
    # boundary cases (query before any point -> 0, after all -> total)
    # fall out of the same window arithmetic.
    queries = (
        inner.select(
            F.col("chrom").alias("__c"),
            *group_cols,
            F.explode(
                F.array(
                    F.struct(
                        (F.col("__hi") - 1).alias("__bin"),
                        F.lit(1).alias("__sign"),
                    ),
                    F.struct(
                        F.col("__lo").alias("__bin"), F.lit(-1).alias("__sign")
                    ),
                )
            ).alias("__q"),
        )
        .select("__c", *group_cols, "__q.__bin", "__q.__sign")
        .join(F.broadcast(sb_range), on="__c", how="inner")
        .withColumn(
            "__sb",
            F.greatest(
                F.least(F.floor(F.col("__bin") / sbw).cast("long"), F.col("__sbmax")),
                F.col("__sbmin"),
            ),
        )
        .drop("__sbmin", "__sbmax")
    )
    merged = bin_counts.select(
        "__c",
        "__sb",
        "__bin",
        "__bn",
        F.lit(0).alias("__isq"),
        F.lit(0).alias("__sign"),
        *[F.lit(None).cast(queries.schema[c].dataType).alias(c) for c in group_cols],
    ).unionByName(
        queries.select(
            "__c",
            "__sb",
            "__bin",
            F.lit(None).cast("long").alias("__bn"),
            F.lit(1).alias("__isq"),
            "__sign",
            *group_cols,
        )
    )
    # One ordered sum per (chrom, superbin): query rows sort after the
    # bin row of the same bin (__isq tiebreak), so the running sum at a
    # query row is the within-superbin prefix INCLUSIVE of its bin.
    w_local = (
        Window.partitionBy("__c", "__sb")
        .orderBy("__bin", "__isq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        merged.withColumn("__local", F.coalesce(F.sum("__bn").over(w_local), F.lit(0)))
        .filter(F.col("__isq") == 1)
        .join(sb_cum, on=["__c", "__sb"], how="inner")
        .select(
            *group_cols,
            (F.col("__sign") * (F.col("__local") + F.col("__sbcum"))).alias(
                "__contrib"
            ),
        )
    )


def band_classify(
    fact: DataFrame,
    bands: DataFrame,
    fact_val: str,
    cat_col: str = "category",
    lo_col: str = "lo",
    hi_col: str = "hi",
    keep_unmatched: bool = False,
) -> DataFrame:
    """Classify fact rows into *non-overlapping* value bands by folding
    the (tiny, data-driven) band dimension into a chained CASE
    expression — no join operator at all, so the classification runs
    inside WholeStageCodegen at scan speed. A BroadcastNestedLoopJoin
    against the same 3-row band table measures ~7x slower: BNLJ
    re-evaluates the range predicate per (row, band) pair outside
    codegen.

    Collecting the dim to the driver is deliberate — band tables are
    catalog-sized by construction (Picard's category list, price
    tiers); this is dimension folding, not a fact collect. Bands are
    [lo, hi); unmatched rows are dropped (inner-join parity) unless
    ``keep_unmatched``. For overlapping bands use range_band_join."""
    rows = bands.select(cat_col, lo_col, hi_col).collect()
    v = F.col(fact_val)
    expr = None
    for r in rows:
        cond = (v >= F.lit(r[lo_col])) & (v < F.lit(r[hi_col]))
        expr = F.when(cond, F.lit(r[cat_col])) if expr is None else expr.when(cond, F.lit(r[cat_col]))
    if expr is None:
        raise ValueError("band_classify: empty band table")
    out = fact.withColumn(cat_col, expr)
    return out if keep_unmatched else out.filter(F.col(cat_col).isNotNull())


def asof_attach_prior(
    df: DataFrame,
    on: str | list[str],
    ts: str,
    is_right,
    right_cols: dict[str, "F.Column"],
    strict: bool = False,
    tiebreak: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Single-source as-of: attach to each non-``is_right`` row the
    most recent at-or-before (``strict``: strictly-before) row of the
    same stream satisfying ``is_right``, per key. The common
    event-attribution shape — "each click joined to the user's latest
    prior purchase" — where ``asof_join`` would scan the fact table
    twice (Spark has no CTE reuse across join branches), this reads it
    ONCE: rows are side-tagged in place and the payload is carried by
    the same running last(ignorenulls) window. One scan, one shuffle.

    ``right_cols`` maps output names to expressions evaluated on right
    rows. Ties at equal (key, ts) among right rows are resolved by
    ``tiebreak`` (ascending; the last one wins — pass e.g. the event
    id to make "latest" deterministic without a pre-aggregation).
    """
    from pyspark.sql import Window

    keys = [on] if isinstance(on, str) else list(on)
    r_side, l_side = (0, 1) if not strict else (1, 0)
    side = F.when(is_right, F.lit(r_side)).otherwise(F.lit(l_side))
    payload = F.when(
        is_right, F.struct(*[c.alias(n) for n, c in right_cols.items()])
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts), F.col("__side"), *[F.col(c) for c in (tiebreak or [])])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        df.withColumn("__side", side)
        .withColumn("__r", payload)
        .withColumn("__match", F.last("__r", ignorenulls=True).over(w))
    )
    out = carried.filter(F.col("__side") == l_side)
    if how == "inner":
        out = out.filter(F.col("__match").isNotNull())
    return out.select(
        *[F.col(c) for c in df.columns],
        *[F.col(f"__match.{n}").alias(n) for n in right_cols],
    )
