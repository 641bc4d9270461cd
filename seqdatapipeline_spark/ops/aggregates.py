"""Aggregations (SURVEY.md §2.4).

All are native groupBy aggregates — Spark plans them as partial
(map-side combine) + final, so the shuffle carries pre-aggregated
rows. The only full-table exchange is the single-row grand total for
histogram densities, done with one extra tiny aggregation rather than
an unpartitioned window over the whole data (which would funnel every
row through one task at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fragment_length_histogram(df: DataFrame, tlen_col: str = "tlen") -> DataFrame:
    """abs(TLEN) histogram with density (reference tools.py:294-311:
    np.bincount → drop zero bins → density = freq/Σfreq at 6 decimals).

    `np.nonzero` (dropping empty bins) is implicit: groupBy only emits
    observed lengths. Density is an unpartitioned window over the
    *aggregated* histogram (cardinality = distinct fragment lengths,
    ~2k rows at any data scale) — one fact scan; the scalar-cross-join
    alternative recomputes the aggregation subtree and scans twice.
    """
    hist = df.groupBy(F.abs(F.col(tlen_col)).cast("long").alias("fLength")).agg(
        F.count("*").alias("freq")
    )
    w = Window.partitionBy()
    return hist.withColumn("density", F.col("freq") / F.sum("freq").over(w))


def coverage_bin_count(
    df: DataFrame, chrom_col: str = "rname", pos_col: str = "pos", window: int = 25
) -> DataFrame:
    """Read coverage per fixed genomic window — igvtools count -w
    semantics (reference tools.py:499-552; w=25 default, w=5 ATAC
    tools.py:899-901). A tumbling window over a coordinate is just a
    groupBy on floor(pos/w): map-side combinable, no range join."""
    return df.groupBy(
        F.col(chrom_col), (F.col(pos_col) / F.lit(window)).cast("long").alias("bin")
    ).agg(F.count("*").alias("count"))


def gene_read_count(joined: DataFrame, attr_col: str = "gene_id") -> DataFrame:
    """Grouped count per feature attribute — the aggregation half of
    htseq-count (reference tools.py:651-665)."""
    return joined.groupBy(attr_col).agg(F.count("*").alias("n"))


def distinct_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """``sorted(set(x))`` (reference mainScript.py:228 and 8 more
    sites). Global sort after dedup; Spark range-partitions the sort."""
    out = df.select(*cols).distinct() if cols else df.distinct()
    return out.orderBy(*[F.col(c) for c in (cols or out.columns)])


def dedup_keep_first(
    df: DataFrame, keys: list[str], order: list[str],
    pre_partitioned: bool = False,
) -> DataFrame:
    """Collapse duplicate-key rows keeping the first by `order`
    (reference tools.py:314-317 samtools rmdup — identical coordinates
    collapse to one).

    min(struct(order…, payload…)) hash aggregation: map-side partial
    aggregation collapses duplicates before the shuffle and nothing is
    sorted — measured 2x faster than the row_number-window form at
    sf0.1, and the gap widens with the duplicate rate (the window ships
    every row to the reducer; the agg ships ≤1 per key per mapper).
    Ties beyond `order` break on the remaining payload fields, giving a
    total deterministic order (the window form is nondeterministic on
    ties). Assumes non-null order fields (struct comparison and window
    NULLS FIRST diverge on nulls).

    fan_out keyed by the group keys: a small input that arrives in a
    handful of parquet row-group splits would otherwise run its
    map-side aggregation on that many cores; keyed repartition also
    makes the groupBy itself exchange-free. No-op once the input has
    scan parallelism (always true at real scale).

    ``pre_partitioned``: the caller asserts the source is already
    clustered on (a prefix of) ``keys`` — e.g. a bucketed table from
    io.layout.write_curated_bucketed — so fan_out must NOT touch it (its
    repartition would discard the scan's reported partitioning and
    re-add the exchange the layout exists to delete)."""
    from ..session import fan_out

    rest = [c for c in df.columns if c not in keys]
    ordered = list(order) + [c for c in rest if c not in order]
    src = df if pre_partitioned else fan_out(df, *keys)
    agg = src.groupBy(*keys).agg(F.min(F.struct(*ordered)).alias("__best"))
    return agg.select(*keys, *[F.col(f"__best.{c}").alias(c) for c in rest]).select(df.columns)


def ids_per_user(df: DataFrame, user_col: str, id_col: str) -> DataFrame:
    """Sample IDs per user (reference pipelineParser.py:137-140)."""
    return df.groupBy(user_col).agg(
        F.count("*").alias("n_ids"),
        F.array_join(F.array_sort(F.collect_list(F.col(id_col).cast("string"))), ",").alias("ids"),
    )


def status_last_write_wins(
    updates: DataFrame, key_cols: list[str], order_cols: list[str], value_cols: list[str]
) -> DataFrame:
    """Upsert semantics as a query: latest update per key wins
    (reference tools.py:28-56 — per-stage UPDATE of one wide SQLite row
    keyed by sample ID). The storage-side merge lives in io.sinks;
    this is the deterministic last-write-wins resolution."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, *value_cols)
    )


def approx_ndv_kmv(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al.): per
    group, keep the k smallest md5 hashes of the value; if the k-th
    smallest sits at fraction f of the hash space, the estimate is
    (k-1)/f. Groups with fewer than k distinct values are exact.

    Unlike HLL (``approx_count_distinct``), this sketch is built from
    deterministic order statistics of a portable hash, so two engines
    produce the *identical* estimate — which is what makes it
    oracle-checkable, and what makes sketches mergeable across
    partitions/days in an aggregation cascade. Scale shape: distinct
    (map-side-combinable dedup on (group, hash)) → per-group top-k via
    a keyed window — the shuffle carries one row per distinct value,
    and nothing is ever collected.

    The hash fraction uses the first 15 hex chars (60 bits) so it fits
    a signed 64-bit int on any engine; the estimate is rounded to 4 dp.
    """
    h = F.md5(F.col(value_col).cast("string"))
    hashed = df.select(*group_cols, h.alias("__h")).distinct()
    return _kmv_estimate(hashed, group_cols, k)


def kmv_partial(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Partial KMV sketch: the k smallest distinct value-hashes per
    group, as plain rows ``(group_cols…, __h)``. This is the state a
    sketch cascade persists per day/partition; ``kmv_merge`` combines
    any number of partials into the exact same estimate a direct
    ``approx_ndv_kmv`` over the union of their inputs would give —
    because each group's global k smallest hashes are necessarily
    inside some partial's k smallest (the KMV merge guarantee)."""
    h = F.md5(F.col(value_col).cast("string"))
    hashed = df.select(*group_cols, h.alias("__h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h")
    return (
        hashed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def kmv_merge(partials: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Merge KMV partials (rows of ``(group_cols…, __h)`` from
    ``kmv_partial``, typically unioned across days with the day column
    dropped or re-mapped) into per-group estimates."""
    dedup = partials.select(*group_cols, "__h").distinct()
    return _kmv_estimate(dedup, group_cols, k)


def _kmv_estimate(hashed: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Shared estimator: per-group k smallest of pre-hashed distinct
    rows → (k-1)/kth-fraction, exact below k."""
    w = Window.partitionBy(*group_cols).orderBy("__h")
    topk = hashed.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    frac = F.conv(F.substring(F.col("__h"), 1, 15), 16, 10).cast("double") / F.lit(
        float(16**15)
    )
    return (
        topk.groupBy(*group_cols)
        .agg(
            F.max("__rk").alias("__n"),
            F.max_by(frac, F.col("__rk")).alias("__kth_frac"),
        )
        .select(
            *group_cols,
            F.round(
                F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
                    (F.lit(k - 1)) / F.col("__kth_frac")
                ),
                4,
            ).alias("ndv_est"),
        )
    )


def cooccurrence_counts(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group: int | None = None,
) -> DataFrame:
    """Item co-occurrence matrix ("users who had A also had B"): for
    every unordered item pair sharing a group (user/session/basket),
    the number of groups containing both. The substrate of
    co-view/also-bought recommenders and co-click similarity.

    Pair generation happens INSIDE each group from a sorted distinct
    item array (one groupBy, same idiom as the LSH bucket pairs) —
    never a self-join of the event table, which would scan and shuffle
    it twice. Cost is bounded by sum(per-group distinct items²);
    ``max_group`` is the heavy-user cap every production co-occurrence
    job needs — a bot with 10⁵ items contributes 10¹⁰ pairs of pure
    noise; dropping such groups changes recommendations negligibly and
    caps the blowup. Output: (item_a, item_b, n_groups), item_a <
    item_b."""
    items = df.select(group_col, item_col).distinct()
    grouped = (
        items.groupBy(group_col)
        .agg(F.array_sort(F.collect_set(item_col)).alias("items"))
        .filter(F.size("items") > 1)
    )
    if max_group is not None:
        grouped = grouped.filter(F.size("items") <= max_group)
    pairs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + F.lit(2), F.size("items")),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def trend_slope(
    df: DataFrame,
    key_cols: list[str],
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-key least-squares trend: slope = covar_pop(x,y)/var_pop(x)
    and the fitted intercept — the one-pass linear regression that
    turns a metric's history into a direction (drift detection,
    capacity forecasting) without any iterative fitting.

    covar/var are single-pass map-side-combinable aggregates, so the
    whole operator is one groupBy at any scale. Callers should shift
    ``x`` to a data-scale origin (e.g. days since a fixed recent
    epoch): slope is shift-invariant mathematically, and a small |x|
    keeps the accumulated floating error orders below the rounding
    regime. Keys with zero x-variance yield NULL slope."""
    xx, yy = x.cast("double"), y.cast("double")
    d = df.select(*key_cols, xx.alias("__x"), yy.alias("__y"))
    slope = F.covar_pop("__x", "__y") / F.var_pop("__x")
    return d.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.var_pop("__x") > 0, F.round(slope, 6)).alias("slope"),
        F.when(
            F.var_pop("__x") > 0,
            F.round(F.avg("__y") - slope * F.avg("__x"), 6),
        ).alias("intercept"),
    )


def binned_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
    bins: int = 1000,
) -> DataFrame:
    """One-histogram approximate quantiles — the 100 TB percentile
    path. Exact `percentile` buffers every group value in the final
    aggregate and `approx_percentile`'s t-digest is engine-specific
    (no cross-engine oracle); this is the classic fixed-width
    histogram estimator: two map-side-combinable scans (min/max/count,
    then per-bin counts), a cumulative window over the BINNED table
    (≤ `bins` rows per group, never the facts), and linear
    interpolation inside the bin where the target rank lands.
    Error is bounded by one bin width = (max-min)/bins; every
    arithmetic step is plain double ops reproducible in any engine.

    For target rank r = p·n: pick the first bin whose cumulative
    count reaches r, estimate lo + (r - cum_before)/c · width.
    Degenerate groups report the constant — keyed on ``width > 0``,
    NOT ``max > min``: a subnormal range like [0.0, 5e-324] has
    max > min while (max-min)/bins UNDERFLOWS to 0.0, and the ANSI
    bin division then throws mid-job (hypothesis-found r12; the
    r11 sequence() auto-step class one operator over). Collapsing
    such a group to min is within the one-bin-width error bound,
    which is itself the underflowed range."""
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("double")
    stats = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(v).alias("__mn"),
        F.max(v).alias("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    # n/mn/mx ride along through the bin aggregation (constant within a
    # group) so the stats subtree is not re-joined — and re-scanned —
    # downstream: the whole operator stays the documented two passes.
    binned = (
        df.join(F.broadcast(stats), group_cols)
        .select(
            *g,
            F.col("__n"),
            F.col("__mn"),
            F.col("__mx"),
            F.when(
                width > 0,
                F.least(
                    F.lit(bins - 1),
                    F.floor((v - F.col("__mn")) / width).cast("int"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("__b"),
        )
        .groupBy(*g, "__b")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("__n").alias("__n"),
            F.max("__mn").alias("__mn"),
            F.max("__mx").alias("__mx"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("__b")
    cum = binned.withColumn("__cum", F.sum("__c").over(w))
    pdf = df.sparkSession.createDataFrame([(float(p),) for p in probs], "p double")
    cand = cum.join(F.broadcast(pdf)).filter(
        F.col("__cum") >= F.col("p") * F.col("__n")
    )
    pick = Window.partitionBy(*group_cols, "p").orderBy("__b")
    first = cand.withColumn("__rn", F.row_number().over(pick)).filter(F.col("__rn") == 1)
    est = F.when(~(width > 0), F.col("__mn")).otherwise(
        F.col("__mn")
        + F.col("__b") * width
        + (F.col("p") * F.col("__n") - (F.col("__cum") - F.col("__c")))
        / F.col("__c")
        * width
    )
    return first.select(*g, F.col("p"), F.round(est, 6).alias("q"))


def keyed_topk(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    k: int,
    salt_buckets: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """EXACT per-key smallest-k of ``order_col`` — the skew-bounded
    form of ``row_number() OVER (PARTITION BY key ORDER BY v) <= k``.

    A keyed window sends EVERY row of a key to one reducer: at crawl
    scale a viral domain (or user, or template hash) pins a single
    task with its whole population just to keep k rows of it. Top-k
    is associative — topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — so this
    runs two bounded aggregations instead:

    1. groupBy(key, hash(v) % salt_buckets): per-salt sorted slice of
       at most k values (map-side combinable; any one reduce group
       holds ≤ its salt share of the key);
    2. groupBy(key): flatten the ≤ salt_buckets partial arrays
       (≤ salt_buckets·k values per key — MODEL-sized, independent of
       the key's population), re-sort, slice k, posexplode to rows
       with a 1-based ``rank_col``.

    Output rows/values/ranks are identical to the window form for
    any distinct-valued ``order_col`` (ties: both forms break by the
    sort's value order; the window's nondeterministic tie order is
    replaced by value order, which is what an oracle can mirror).
    NULL ``order_col`` values are EXCLUDED (collect_list drops them),
    where a row_number window would rank them last — "smallest k real
    values" is the budget/politeness semantics callers want; filter
    or coalesce beforehand to rank NULLs deliberately."""
    v = F.col(order_col)
    salt = F.pmod(F.xxhash64(v), F.lit(salt_buckets))
    partial = (
        df.groupBy(*key_cols, salt.alias("__salt"))
        .agg(F.slice(F.array_sort(F.collect_list(v)), 1, k).alias("__pk"))
    )
    final = partial.groupBy(*key_cols).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__pk"))), 1, k).alias("__tk")
    )
    return final.select(
        *key_cols, F.posexplode("__tk").alias("__p", order_col)
    ).select(
        *key_cols, order_col, (F.col("__p") + 1).cast("long").alias(rank_col)
    )
