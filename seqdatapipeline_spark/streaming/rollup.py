"""Incremental rollup maintenance — the streaming half of the
continuous-aggregate story (`rollup_time_bucket` is the batch half).

A stream writes micro-batches; each batch folds into a persistent
per-key aggregate table by merging ADDITIVE partials (count, sum, min,
max — anything where merge(f(A), f(B)) = f(A ∪ B)). The rollup table
stays kilobytes-to-gigabytes while the raw stream is unbounded, and a
dashboard query reads the rollup, never the stream. Non-additive
answers come from additive parts (avg = sum/count downstream) or
mergeable sketches (ops.aggregates.kmv_partial hash sets ride along as
rows).

State lives as plain parquet via read-modify-overwrite — the same
documented single-writer limitation as io.sinks.status_upsert
(SURVEY.md §7 risk 3); swap in Delta/Iceberg MERGE for multi-writer
clusters. foreachBatch gives exactly-once batch boundaries through the
checkpoint: a replayed batch re-merges idempotently only if the writer
dedups batch ids — kept out of scope here and noted, as the reference
pipeline's own status writes carry the same at-least-once caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io.sinks import _overwrite_parquet

# metric column -> merge function for combining two partials.
_MERGES = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def merge_rollup(
    partial: DataFrame,
    state_path: str,
    key_cols: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """Fold one partial aggregate into the persistent rollup at
    ``state_path``. ``merges`` maps each metric column to its combine
    function ('sum' for counts and sums, 'min'/'max' for extrema).
    Counts merge with 'sum' — the partial carries per-batch counts and
    merged counts are their sum.

    One union + one keyed aggregation over (state + batch-partial):
    cost is proportional to the rollup's key cardinality plus the
    batch, never the stream's history."""
    spark = partial.sparkSession
    try:
        state = spark.read.parquet(state_path)
        both = state.unionByName(partial)
    except Exception:
        both = partial
    merged = both.groupBy(*key_cols).agg(
        *[_MERGES[how](c).alias(c) for c, how in merges.items()]
    )
    _overwrite_parquet(merged, state_path)
    return spark.read.parquet(state_path)


def merge_grid_histogram(
    batch: DataFrame,
    state_path: str,
    group_cols: list[str],
    value_col: str,
    grid: float,
) -> DataFrame:
    """Fold one micro-batch into a persistent fixed-grid histogram:
    bin = floor(value / grid) on an ABSOLUTE grid, so bin counts are
    additive across batches (merge = sum) and the final histogram is
    bit-identical to binning the whole stream at once — the property
    a range-relative binning (min/max-scaled) cannot give a stream,
    because early batches don't know the final extent. State size is
    |groups| × occupied bins, independent of stream length."""
    partial = batch.groupBy(
        *group_cols, F.floor(F.col(value_col) / F.lit(grid)).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return merge_rollup(partial, state_path, [*group_cols, "b"], {"c": "sum"})


def grid_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    probs: list[float],
    grid: float,
) -> DataFrame:
    """Quantile extraction from a fixed-grid histogram (as maintained
    by merge_grid_histogram): cumulative window over the BINNED table
    (never raw rows), linear interpolation inside the bin where rank
    p·n lands. Error ≤ one grid step. Same estimator arithmetic as
    ops.aggregates.binned_quantiles, minus the min/max pass the
    absolute grid makes unnecessary."""
    from pyspark.sql import Window

    spark = hist.sparkSession
    tot = hist.groupBy(*group_cols).agg(F.sum("c").alias("__n"))
    w = Window.partitionBy(*group_cols).orderBy("b")
    cum = hist.withColumn("__cum", F.sum("c").over(w)).join(
        F.broadcast(tot), group_cols
    )
    pdf = spark.createDataFrame([(float(p),) for p in probs], "p double")
    cand = cum.join(F.broadcast(pdf)).filter(
        F.col("__cum") >= F.col("p") * F.col("__n")
    )
    pick = Window.partitionBy(*group_cols, "p").orderBy("b")
    first = cand.withColumn("__rn", F.row_number().over(pick)).filter(
        F.col("__rn") == 1
    )
    est = (
        F.col("b") * F.lit(grid)
        + (F.col("p") * F.col("__n") - (F.col("__cum") - F.col("c")))
        / F.col("c")
        * F.lit(grid)
    )
    return first.select(*group_cols, F.col("p"), F.round(est, 6).alias("q"))


def replay_grid_quantiles(
    events: DataFrame,
    state_root: str,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    probs: list[float],
    grid: float = 0.25,
    n_batches: int = 4,
) -> DataFrame:
    """Deterministic micro-batch replay of the streaming quantile
    sketch: split the stream by id hash, fold each batch into the
    persistent grid histogram, extract quantiles from the FINAL
    state. The additive grid makes the result provably equal to the
    one-shot batch computation — which is exactly what the oracle
    checks. NULL values carry no position on the grid and are
    excluded (they would otherwise inflate totals and make the
    cumulative ordering engine-dependent)."""
    import os

    events = events.filter(F.col(value_col).isNotNull())

    state = os.path.join(state_root, "grid_hist")
    final: DataFrame | None = None
    for i in range(n_batches):
        batch = events.filter(F.pmod(F.col(id_col), F.lit(n_batches)) == i)
        final = merge_grid_histogram(batch, state, group_cols, value_col, grid)
    return grid_quantiles(final, group_cols, probs, grid)
