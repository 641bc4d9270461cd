"""Window-shaped computations (SURVEY.md §2.5/2.6) and the parts of
the peak call (§2.4, reference tools.py:555-622): Poisson tail,
Benjamini-Hochberg selection and gaps-and-islands merging.

Scale notes: windows over fact tables are partitioned by a real key
(chrom / user) — an unpartitioned window serializes through one task.
The one sanctioned exception is a grand-total ratio over an *already
aggregated* input of bounded cardinality (see density_over_total),
where single-tasking a few thousand rows beats rescanning the fact
table for a scalar.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_seconds(c: Column) -> Column:
    """Wall-clock seconds since 1970-01-01 00:00:00 as a double, with
    microsecond precision preserved. Works on TIMESTAMP and
    TIMESTAMP_NTZ alike (Spark 4 rejects a direct NTZ→DOUBLE cast),
    is session-timezone independent, and matches DuckDB's ``epoch()``
    on naive timestamps — the oracle contract every time-derived query
    here relies on. Pure codegen arithmetic, no UDF."""
    origin = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", origin, c.cast("timestamp_ntz")) / F.lit(1e6)


def density_over_total(df: DataFrame, freq_col: str, out_col: str = "density") -> DataFrame:
    """Grand-total ratio per row (reference tools.py:301-303,
    density = freq/Σfreq). Unpartitioned window over the input —
    intended for *aggregated* inputs (histograms, per-category counts)
    whose cardinality is bounded by the group key, where single-tasking
    a few thousand rows is free. The alternative (agg-to-scalar +
    broadcast cross join) recomputes the whole upstream subtree —
    Spark has no CTE reuse across the two branches — which at 100 TB
    means scanning the fact table twice. Feed raw fact rows through an
    aggregation first, or persist them, before calling this."""
    w = Window.partitionBy()
    return df.withColumn(out_col, F.col(freq_col) / F.sum(freq_col).over(w))


def session_windows(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation: events within ``gap`` of the
    previous event extend the session; a silence strictly greater than
    ``gap`` closes it (Spark's F.session_window merges windows that
    overlap OR touch — an exactly-gap-spaced event still merges). Works
    identically on batch and streaming inputs; on a stream add
    ``withWatermark`` first so closed sessions finalize. Shuffle is
    keyed by (key, merged session) — no global ordering anywhere."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            F.col(key_col),
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            "n",
            "total_value",
        )
    )


def chunk_batches(df: DataFrame, order_col: str, chunk_size: int = 101) -> DataFrame:
    """Ordinal chunking: batch number by position, ≤`chunk_size` per
    chunk (reference parserTools.py:183-190 — >100-file jobs split into
    ≤101-file commands). A global row_number is inherently serial; the
    reference's semantics are global, so this is kept faithful — at
    100 TB chunk per partition key instead."""
    w = Window.orderBy(order_col)
    return df.withColumn(
        "chunk", ((F.row_number().over(w) - 1) / F.lit(chunk_size)).cast("long")
    )


def sort_by_coordinate(df: DataFrame, chrom_col: str = "rname", pos_col: str = "pos") -> DataFrame:
    """Coordinate sort (reference tools.py:247-248, samtools sort).
    Range-partition + in-partition sort: downstream interval ops get
    co-located, ordered data — the engine's physical layout convention
    for alignment tables (SURVEY.md §4 item 2)."""
    return df.repartitionByRange(F.col(chrom_col), F.col(pos_col)).sortWithinPartitions(
        chrom_col, pos_col
    )


def sliding_sum(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    val_col: str,
    range_back: int = 3600,
    out_col: str = "window_sum",
) -> DataFrame:
    """Sliding range-window sum — the pileup scan shape of macs2
    (reference tools.py:587-590). Partitioned by `part_col` so each
    chrom/user sorts independently. Timestamps are truncated to whole
    seconds so window membership is engine-portable."""
    sec = F.unix_timestamp(F.date_trunc("second", F.col(ts_col)))
    w = Window.partitionBy(part_col).orderBy(sec).rangeBetween(-range_back, 0)
    return df.withColumn(out_col, F.sum(val_col).over(w))


def gaps_and_islands(
    df: DataFrame,
    part_col: str,
    order_col,
    gap: int | float,
) -> DataFrame:
    """Merge rows into islands when consecutive `order_col` values are
    within `gap` — the peak-merge step of macs2 callpeak (reference
    tools.py:587-590). Classic lag + running-sum pattern; one shuffle
    on the partition key. Adds an `island` ordinal column."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(part_col).orderBy(oc)
    is_new = F.when((oc - F.lag(oc).over(w)) > gap, 1).otherwise(0)
    run = Window.partitionBy(part_col).orderBy(oc).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("__new", is_new)
        .withColumn("island", F.sum("__new").over(run))
        .drop("__new")
    )


def log_factorial(k: Column) -> Column:
    """ln(k!) as a Catalyst expression. Exact via `factorial` for
    k ≤ 20 (Spark's builtin bound), Stirling series above — relative
    error < 1e-8 at k=21, shrinking with k. Keeps the peak-call hot
    path JVM-side (no pandas UDF round-trip per row)."""
    kd = k.cast("double")
    stirling = (
        (kd + 0.5) * F.log(kd) - kd + 0.5 * math.log(2.0 * math.pi) + 1.0 / (12.0 * kd)
    )
    return F.when(k <= 20, F.log(F.factorial(k.cast("int")).cast("double"))).otherwise(stirling)


def poisson_tail(k: Column, lam: Column) -> Column:
    """P(X ≥ k) for X ~ Poisson(λ): 1 − Σ_{i<k} e^(−λ+i·lnλ−ln i!).
    Pure expression over `sequence` + `aggregate`; k is a pileup count
    so the series is short. Clamped to [0, 1] against float cancel."""
    idx = F.sequence(F.lit(0), (k - 1).cast("int"))
    cdf = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + F.exp(-lam + i.cast("double") * F.log(lam) - log_factorial(i)),
    )
    return F.when(k <= 0, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), F.lit(1.0) - cdf))
    )


def bh_significant(
    df: DataFrame,
    pval_col: str = "pval",
    q: float = 0.05,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR selection — the multiple-testing
    correction macs2 applies to its Poisson p-values (its reported
    "q-values"): with m tests ranked by ascending p, the cutoff is the
    largest p(i) with p(i) <= (i/m)·q, and every test at or below the
    cutoff is significant.

    Three window passes over the *scored* input (rank, m, cutoff) —
    global windows, sanctioned here for the same reason as
    density_over_total: the input is per-bin aggregate rows (bounded
    by genome/bin-size, millions at worst), not fact rows, and BH is
    inherently a global order statistic. ``tie_cols`` make the rank
    deterministic for equal p-values."""
    ties = [F.col(c) for c in (tie_cols or [])]
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col(pval_col), *ties)
    ranked = df.withColumn("__rank", F.row_number().over(w_rank)).withColumn(
        "__m", F.count("*").over(w_all)
    )
    keep_p = F.when(
        F.col(pval_col) * F.col("__m") <= F.col("__rank") * F.lit(q), F.col(pval_col)
    )
    with_cut = ranked.withColumn("__cut", F.max(keep_p).over(w_all))
    return (
        with_cut.filter(F.col(pval_col) <= F.col("__cut"))
        .drop("__rank", "__m", "__cut")
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-weighted average per key (TWAP): each observation is
    weighted by how long it was "in effect" — the duration until the
    next event — so a metric sampled irregularly averages correctly
    (a plain avg over-weights bursts). The last observation per key
    has no successor and carries no weight, standard TWAP-over-window
    semantics.

    One keyed window (lead) sharing its shuffle with the groupBy —
    cost is one pass regardless of per-key history length. Output:
    (keys, n_intervals, span_s, twav); keys whose events all share one
    timestamp have zero total weight and a NULL twav."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    t = epoch_seconds(F.col(ts_col))
    dt = F.lead(t).over(w) - t
    d = df.withColumn("__dt", dt).filter(F.col("__dt").isNotNull())
    wsum = F.sum("__dt")
    return d.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(wsum, 4).alias("span_s"),
        F.when(
            wsum > 0,
            F.round(F.sum(F.col(value_col) * F.col("__dt")) / wsum, 6),
        ).alias("twav"),
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int = 3,
    tiebreak_cols: list[str] = (),
) -> DataFrame:
    """Generic top-k rows per group by ``order_col`` descending, with
    a deterministic tiebreak so rank is total. One keyed window over a
    high-cardinality group key — each partition holds one group's rows,
    so the shuffle carries the input exactly once and no task sees more
    than a group. (For low-cardinality keys use an aggregate + sort
    instead — see equidepth_bins for the pattern.)"""
    order = [F.col(order_col).desc()] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def gap_fill_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    out_col: str = "n",
) -> DataFrame:
    """Daily counts per key with missing days zero-filled — the
    gap-fill every dashboard and training-data freshness monitor
    needs (a day with no rows must report 0, not vanish).

    Single-scan form: after the daily groupBy (map-side combinable),
    each aggregate row emits itself plus the zero-days up to — not
    including — the key's next observed day (lead() + sequence-
    explode). One scan of the input, one keyed window that only ever
    sees the keys x days aggregate, no join-back (a spine-join
    formulation re-scans the input because Spark won't reuse the
    aggregate subtree across branches). Trailing days never fill
    (there is no next observation), matching the spine-to-max-day
    semantics."""
    daily = df.groupBy(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).alias(out_col))
    w = Window.partitionBy(key_col).orderBy("day")
    nxt = F.lead("day").over(w)
    span = F.sequence(
        F.col("day"), F.coalesce(F.date_sub(nxt, 1), F.col("day"))
    )
    return (
        daily.withColumn("__span", span)
        .select(
            key_col,
            F.col(out_col).alias("__n"),
            F.posexplode("__span").alias("__pos", "day"),
        )
        .select(
            key_col,
            "day",
            F.when(F.col("__pos") == 0, F.col("__n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias(out_col),
        )
    )


def value_change_points(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    order_tiebreak: str,
    threshold: float = 50.0,
) -> DataFrame:
    """Per-key change-point detection: rows whose value jumps more
    than ``threshold`` against the immediately preceding observation
    (lag-1 in event-time order, ties broken deterministically). One
    keyed window over a high-cardinality key — the shuffle carries
    the input once and no task sees more than one key's history.
    The delta is a two-operand subtract of stored doubles, so the
    flagged set is exact on any engine — no rounding needed."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    delta = F.col(val_col) - F.lag(val_col).over(w)
    return (
        df.withColumn("delta", delta)
        .filter(F.abs(F.col("delta")) > threshold)
    )


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts: for each user's
    event-time-ordered history, count (event_type -> next event_type)
    pairs and the per-source transition probability — the behavioral
    fingerprint funnel and recommendation models start from.

    One keyed lag window over the high-cardinality user key extracts
    successors, then a map-side-combinable groupBy counts pairs. The
    probability normalizer is a window over the |types|^2 aggregate —
    type-cardinality-sized, never event-sized."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.withColumn("next_type", F.lead(type_col).over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("prob"),
    )


def weekly_active_users(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Trailing 7-day distinct active users per day. Spark has no
    COUNT(DISTINCT) over a range window, and the naive per-day
    self-join re-scans the fact table per window day; instead each
    (day, user) pair — already deduped, so much smaller than the
    event table — is exploded to the ``window_days`` observation days
    it contributes to, then one distinct-count per day. Cost is a
    bounded x7 blowup of the *daily-user* table, all shuffles
    map-side combinable; the window never funnels through one task."""
    day_user = df.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(user_col).alias("u")
    ).distinct()
    obs = day_user.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ).alias("day"),
        "u",
    )
    return (
        obs.groupBy("day")
        .agg(F.countDistinct("u").cast("long").alias("wau"))
        .orderBy("day")
    )


def quantile_normalize(
    df: DataFrame,
    sample_col: str,
    val_col: str,
    tiebreak_cols: list[str],
    out_col: str = "norm_value",
    decimal_scale: int = 2,
) -> DataFrame:
    """Quantile normalization — the cross-sample distribution
    alignment standard in expression analysis (rank each value within
    its sample, then replace it with the mean of all samples' values
    at that rank): after it, every sample has an identical value
    distribution, removing batch effects before comparison.

    Two keyed windows, one pass: rank partitioned by sample (each
    partition = one sample's rows), then the rank-mean partitioned by
    rank (each partition = one row per sample). Both keys are
    high-cardinality, so nothing funnels through a single task, and
    no join-back is needed (the second window replaces it).

    The rank-mean is rounded to 6 decimals in EXACT integer
    arithmetic, not float: ``round(avg(double), 6)`` is not an
    engine-stable quantity — at sf0.01 one rank partition's true mean
    lands exactly on a 6-decimal half-boundary and Spark's vs DuckDB's
    FP summation orders round it to opposite sides (1-ulp flip,
    CORRECTNESS_r08). Instead each value is snapped to
    ``decimal(18, decimal_scale)`` (exact for money-like inputs),
    summed as integer sub-units, and the half-up-rounded mean in
    micro-units is ``(2*S*10^(6-scale) + n) DIV (2*n)`` — pure integer
    ops both engines compute identically. The final ``/ 1e6`` is a
    single correctly-rounded IEEE division, also engine-stable.
    Assumes non-negative values (half-up == half-away) and partition
    sums below ~9e14 sub-units (BIGINT headroom for the *2*10^4);
    at larger scale widen the interior to decimal(38,0)."""
    wr = Window.partitionBy(sample_col).orderBy(
        F.col(val_col), *[F.col(c) for c in tiebreak_cols]
    )
    sub_units = 10**decimal_scale
    micro_mult = 10 ** (6 - decimal_scale)
    ranked = df.withColumn("rank", F.row_number().over(wr)).withColumn(
        "_qn_sub",
        (F.col(val_col).cast(f"decimal(18,{decimal_scale})") * sub_units).cast(
            "long"
        ),
    )
    wm = Window.partitionBy("rank")
    return (
        ranked.withColumn("_qn_s", F.sum("_qn_sub").over(wm))
        # count the CONVERTED column, not lit(1): avg() excluded NULL
        # values from both numerator and denominator, and the integer
        # form must keep that contract (sum already skips NULLs).
        .withColumn("_qn_n", F.count(F.col("_qn_sub")).over(wm))
        .withColumn(
            out_col,
            F.expr(
                f"CAST((2 * _qn_s * {micro_mult} + _qn_n) DIV (2 * _qn_n) "
                "AS DOUBLE) / 1000000.0"
            ),
        )
        .drop("_qn_sub", "_qn_s", "_qn_n")
    )


def top_event_paths(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    depth: int = 3,
) -> DataFrame:
    """Entry-path analysis: each user's first ``depth`` event types
    (event-time order) joined into one 'a>b>c' path string, counted
    across users — the onboarding-flow census behind 'what do users
    actually do first'.

    One keyed window over the high-cardinality user key ranks events;
    rows past ``depth`` are dropped BEFORE the path assembly, so the
    groupBy that builds paths moves at most depth rows per user. The
    ordered join uses sort_array over (rank, type) structs — order
    arrives from the struct sort, not from collect_list's
    partition-dependent arrival order, so paths are deterministic on
    any cluster layout."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    ranked = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= depth)
        .select(key_col, "__rn", type_col)
    )
    path = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__rn", type_col))),
            lambda s: s[type_col],
        ),
        ">",
    )
    per_user = ranked.groupBy(key_col).agg(
        path.alias("path"), F.count("*").cast("long").alias("__n_ev")
    )
    return (
        per_user.filter(F.col("__n_ev") == depth)
        .groupBy("path")
        .agg(F.countDistinct(key_col).cast("long").alias("n_users"))
    )


def lateness_flags(
    events: DataFrame,
    tolerance_s: float = 300.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    prev_wm_col: str | None = None,
) -> DataFrame:
    """Per-event lateness against the running per-key event-time high
    watermark: an event is LATE when it arrives (order = arrival_col)
    more than ``tolerance_s`` behind the max event time already seen
    for its key. ``prev_wm_col`` (epoch seconds, nullable) carries a
    watermark in from earlier micro-batches so the streaming rollup
    reproduces the batch answer exactly. Returns
    (key, __t, __wm, late) — one keyed window, one shuffle, shared
    with whatever aggregation follows."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(arrival_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = epoch_seconds(F.col(ts_col))
    prev = (
        F.coalesce(F.col(prev_wm_col), F.lit(float("-inf")))
        if prev_wm_col
        else F.lit(float("-inf"))
    )
    wm = F.greatest(F.coalesce(F.max(t).over(w), F.lit(float("-inf"))), prev)
    return events.select(
        key_col,
        t.alias("__t"),
        wm.alias("__wm"),
        F.when(wm - t > tolerance_s, 1).otherwise(0).alias("late"),
    )
