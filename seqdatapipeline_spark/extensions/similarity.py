"""Similarity search over embedding columns (array<float>).

Two tiers:
- `brute_topk_cosine` — exact top-k; correctness baseline. Cost is
  |queries| × |corpus|: fine for a bounded query set, never for
  all-pairs.
- IVF path (`ivf_centroids` / `ivf_assign` / `ivf_topk_cosine`) — the
  scale strategy: vectors are bucketed by nearest coarse centroid;
  a query probes only `nprobe` cells, so the join is an equi-join on
  cell id over ~nprobe/ncells of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import fan_out
from .dedup import cosine


# Above ~64 query vectors the interpreted JVM fold loses to one BLAS
# matmul per Arrow batch, even paying the Python round-trip (measured
# on 64-dim embeddings at sf0.1; the crossover drops as dim grows).
ARROW_MIN_QUERIES = 64


def _has_direction(vec_col: str) -> "F.Column":
    """Vector-contract predicate: non-NULL, no NULL ELEMENTS, and
    non-zero-norm. A vector without a direction has no cosine geometry
    — Spark's cosine NULLs it (try_divide by zero norm) while DuckDB's
    list_cosine_similarity returns -1.0 — and a vector with an
    interior NULL element is worse: Spark folds NULL-poison (this
    predicate's own aggregate excludes it) while DuckDB's
    list_cosine_similarity ERRORS outright. The fold below NULL-poisons
    on any NULL element by construction (acc + NULL = NULL, and
    NULL > 0 filters false); oracles mirror with
    `embedding IS NOT NULL AND len(list_filter(e, x -> x IS NULL)) = 0
    AND list_sum(list_transform(e, x -> x*x)) > 0` (list_sum alone
    SKIPS NULL elements — r11 review)."""
    sq = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    # (sq > 0) excludes zero-norm and NULL-element vectors (the fold
    # NULL-poisons and NULL > 0 is false). It does NOT exclude NaN:
    # BOTH engines rank NaN greater than everything (Spark SQL NaN
    # semantics == DuckDB), so NaN > 0 is TRUE — the `sq < inf` term
    # is what drops NaN- and Inf-poisoned vectors (NaN ranks above
    # inf, so NaN < inf is false). Oracles mirror with
    # `isfinite(list_sum(..)) AND list_sum(..) > 0`. Found by the r12
    # `nonfinite` mode: without the finite term, poisoned vectors
    # sail through every cosine threshold (NaN >= t is true in SQL).
    return F.col(vec_col).isNotNull() & (sq > 0) & (sq < F.lit(float("inf")))


def _finite_elements(vec_col: str) -> "F.Column":
    """Vector-contract predicate for NON-cosine paths (PQ encode,
    normalize, quantize, covariance): non-NULL, no NULL ELEMENTS, and
    every component FINITE — but zero-norm vectors stay (valid data
    for L2 codebooks and moment accumulation). Use _has_direction
    where cosine geometry is required. Oracles mirror with
    `embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS
    NULL)) = 0 AND isfinite(list_sum(list_transform(embedding,
    x -> x * x)))`. Rationale: DuckDB's list aggregates SKIP interior
    NULLs while Spark's fold NULL-poisons (interior-NULL parity mode,
    ADVICE r11), and a NaN/Inf component poisons L2 distances into
    engine-divergent codebooks — DuckDB even RAISES on some moment
    aggregates over Inf (the r12 `nonfinite` mode's findings). The
    finiteness check rides the same Σx² fold: `sq < inf` is false for
    both Inf AND NaN (Spark SQL, like DuckDB, ranks NaN above inf —
    NaN comparisons are NOT Java-false in SQL expressions)."""
    sq = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    return (
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & (sq >= 0)
        & (sq < F.lit(float("inf")))
    )


def brute_topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "query_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine, two physical paths:

    - ``jvm``: broadcast-join the query set and fold the dot product in
      Catalyst expressions. Zero Python; wins for a handful of queries
      where Arrow transfer of the corpus costs more than the fold.
    - ``arrow``: collect + broadcast the (bounded, dim-sized) query set
      as a normalized numpy matrix — a model-sized collect, like
      folding a band dimension — then stream the corpus through a
      `mapInPandas` scorer: one `C @ Q.T` BLAS matmul per batch, and
      only the batch-local top-k rows per query leave Python (partial
      top-k, the selection analog of map-side partial aggregation), so
      the global window ranks batches*k*|Q| candidates, never
      |corpus|*|Q| pairs.

    ``auto`` picks jvm below ARROW_MIN_QUERIES queries. Both paths
    round to 6 dp before ranking and tie-break on neighbor id, so they
    return identical rows. Ranking is a window over query_id — shuffle
    keyed by query, never a global sort, no driver collect of
    candidates."""
    # Vectors with no direction — NULL or zero-norm — are neither
    # candidates NOR queries: uniform ANN-family semantics (mirrored
    # in the DuckDB oracles; also required by the arrow path, whose
    # np.stack would die on None). Zero-norm matters cross-engine:
    # Spark's cosine NULLs it (try_divide) while DuckDB's
    # list_cosine_similarity returns -1.0, a rankable value.
    corpus = corpus.filter(_has_direction(c_vec))
    queries = queries.filter(_has_direction(q_vec))
    if strategy == "auto":
        n_q = queries.limit(ARROW_MIN_QUERIES).count()
        strategy = "arrow" if n_q >= ARROW_MIN_QUERIES else "jvm"
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))

    if strategy == "jvm":
        scored = fan_out(corpus).join(F.broadcast(queries)).select(
            q_id,
            F.col(c_id).alias("neighbor_id"),
            F.round(cosine(F.col(q_vec), F.col(c_vec)), 6).alias("cos"),
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(q_id, "neighbor_id", "cos", "rank")
        )

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qrows = queries.select(q_id, q_vec).collect()
    if not qrows:
        return spark.createDataFrame([], f"{q_id} long, neighbor_id long, cos double, rank long")
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    norms = np.linalg.norm(qm, axis=1, keepdims=True)
    norms[norms == 0] = np.inf  # zero vectors score 0, never NaN
    qm = qm / norms
    bq = spark.sparkContext.broadcast((qids, qm))

    def score(batches):
        q_ids, q_mat = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[c_vec]])
            ids = pdf[c_id].to_numpy(dtype=np.int64)
            norms = np.linalg.norm(cm, axis=1, keepdims=True)
            norms[norms == 0] = np.inf  # zero vectors score 0, never NaN
            cm = cm / norms
            scores = np.round(cm @ q_mat.T, 6)  # |batch| x |Q|
            for qi in range(len(q_ids)):
                col = scores[:, qi]
                order = np.lexsort((ids, -col))[:k]
                yield pd.DataFrame(
                    {q_id: q_ids[qi], "neighbor_id": ids[order], "cos": col[order]}
                )

    cand = fan_out(corpus.select(c_id, c_vec)).mapInPandas(
        score, schema=f"{q_id} long, neighbor_id long, cos double"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(q_id, "neighbor_id", "cos", "rank")
    )


def kmeans_cells(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means-lite coarse quantizer for IVF: seeds are
    the k lowest-id vectors, then `iters` Lloyd rounds — broadcast
    centroids → best-cell assignment → per-dimension mean. Returns a
    (cell, centroid) DataFrame backed by a local relation.

    The centroid *model* (k rows × dim doubles, k ≈ √n — kilobytes) is
    materialized to the driver after every round, exactly as MLlib's
    KMeans does with treeAggregate: each Lloyd round is then one scan
    of the cached projection instead of a lineage that re-derives all
    prior rounds, and the *serving* plan downstream of training is a
    flat local-relation broadcast, not an 8-join DAG. This is a
    model-sized collect, never a data collect. At real scale, train on
    a ~1% sample — Lloyd on a sample converges to near-identical
    cells."""
    spark = corpus.sparkSession
    # NULL vectors cannot participate in vector math (a crawl corpus
    # WILL contain them): dropping them here keeps the seed collect
    # and every BLAS batch shape-stable; the SQL analog — any cosine/
    # distance against NULL is NULL — never qualifies either.
    v = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).filter(_has_direction("__v"))  # direction-less vectors can neither
    # seed nor train — filtering HERE (the shared mechanism) keeps the
    # curated index build and the train-at-query path bit-identical
    # (r11 review: a zero-norm seed in only one of them shifts the
    # whole cell geometry)
    if iters > 0:
        v = v.cache()
    schema = "cell int, centroid array<double>"
    seed_rows = v.orderBy(id_col).limit(k).collect()
    cents = [(i, list(r["__v"])) for i, r in enumerate(seed_rows)]
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, schema)
        assigned = assign_best_cell(v, cdf, vec_expr="__v", id_col=id_col)
        new_rows = (
            assigned.select("cell", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
                ).alias("centroid")
            )
            .collect()
        )
        refreshed = {r["cell"]: list(r["centroid"]) for r in new_rows}
        # A cell that lost every member keeps its previous centroid.
        cents = [(c, refreshed.get(c, vec)) for c, vec in cents]
    if iters > 0:
        v.unpersist()
    return spark.createDataFrame(cents, schema)


def assign_best_cell(
    vectors: DataFrame, centroids: DataFrame, vec_expr: str, id_col: str = "vec_id"
) -> DataFrame:
    """Nearest (max-cosine) cell per vector, hybrid like
    brute_topk_cosine:

    - few centroids (< ARROW_MIN_QUERIES): broadcast-join + JVM
      expression fold + max(struct) aggregation — no Python, and the
      Arrow round-trip would cost more than the fold.
    - many centroids (k ~ sqrt(n) at real scale): the centroid matrix
      (k x dim, model-sized) is collected and broadcast, and the
      corpus streams through an Arrow `mapInPandas` scorer — one
      normalized matmul per batch with numpy argmax. No shuffle:
      assignment stays a narrow map over the corpus, the whole-corpus
      step IVF indexing pays at 100 TB, where BLAS beats per-pair
      interpreted folds by the vector dimension.

    Ties break on the lower cell id in both paths."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    crows = centroids.select("cell", "centroid").collect()
    if len(crows) < ARROW_MIN_QUERIES:
        cdf = F.broadcast(spark.createDataFrame(
            [(int(r["cell"]), list(r["centroid"])) for r in crows],
            "cell int, centroid array<double>",
        ))
        scored = vectors.join(cdf).withColumn(
            "__cc", cosine(F.col(vec_expr), F.col("centroid"))
        )
        best = scored.groupBy(id_col).agg(
            F.max(
                F.struct(
                    F.col("__cc"),
                    (-F.col("cell")).alias("__negcell"),
                    F.col(vec_expr).alias("__vv"),
                )
            ).alias("__b")
        )
        return best.select(
            F.col(id_col),
            F.col("__b.__vv").alias(vec_expr),
            (-F.col("__b.__negcell")).cast("int").alias("cell"),
        )
    cells = np.asarray([r["cell"] for r in crows], dtype=np.int64)
    cm = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in crows])
    norms = np.linalg.norm(cm, axis=1, keepdims=True)
    norms[norms == 0] = np.inf  # zero vectors score 0, never NaN
    cm = cm / norms
    order = np.argsort(cells)  # ascending cell id => argmax tie-break on lower id
    cells, cm = cells[order], cm[order]
    bc = spark.sparkContext.broadcast((cells, cm))

    def assign(batches):
        cell_ids, cent = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_expr]])
            norms = np.linalg.norm(vm, axis=1, keepdims=True)
            scores = (vm / norms) @ cent.T
            best = cell_ids[np.argmax(scores, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), vec_expr: pdf[vec_expr], "cell": best.astype("int32")}
            )

    return vectors.select(id_col, vec_expr).mapInPandas(
        assign, schema=f"{id_col} long, {vec_expr} array<double>, cell int"
    )


def ivf_centroids(
    corpus: DataFrame, cell_col: str = "label", vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Coarse centroids = per-cell mean vector. posexplode + groupBy:
    one shuffle keyed by (cell, dim); rebuilt array is ordered by dim.
    Any cell assignment works (here: the data's coarse `label`;
    k-means assignments drop in the same way)."""
    per_dim = corpus.select(
        F.col(cell_col).alias("cell"), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).groupBy("cell", "dim").agg(F.avg(F.col("x").cast("double")).alias("mu"))
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
        ).alias("centroid")
    )


def ivf_assign(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 3,
    q_id: str = "query_id",
    q_vec: str = "q_vec",
    snap: int | None = None,
) -> DataFrame:
    """Pick the `nprobe` nearest cells per query (broadcast centroids —
    there are only ~√n of them). ``snap`` rounds the probe cosine to
    that many decimals BEFORE ranking (ties then break on cell id):
    probe selection becomes stable under the ~1-ulp cross-engine /
    cross-plan double drift, which is what lets a pruned serve be
    oracle-checked externally."""
    c_cos = cosine(F.col(q_vec), F.col("centroid"))
    if snap is not None:
        c_cos = F.round(c_cos, snap)
    scored = queries.join(F.broadcast(centroids)).withColumn("c_cos", c_cos)
    w = Window.partitionBy(q_id).orderBy(F.col("c_cos").desc(), F.col("cell"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select(q_id, q_vec, "cell")
    )


def ivf_topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    cell_col: str | None = None,
    kmeans_k: int = 10,
    kmeans_iters: int = 3,
    q_id: str = "query_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    index: "tuple[DataFrame, DataFrame] | None" = None,
    snap_model: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the nprobe best cells per query.
    The query↔corpus join is an *equi-join on cell id*, so at 100 TB
    each query touches ~nprobe/ncells of the corpus instead of all of
    it. Recall is tunable via nprobe (exact when nprobe = ncells).

    With ``cell_col`` the data's own coarse partition is used (cheap
    but only as good as that partition's geometry). Default is a
    trained quantizer: deterministic k-means-lite cells
    (``kmeans_cells``) + nearest-cell corpus assignment — the real IVF
    construction, still pure DataFrame ops.

    ``index=(cents, cells)`` serves from a PREBUILT index (the curated
    layout: io.layout.write_curated_ivf stores the trained centroid
    table and the cell-assigned corpus bucketed on ``cell``): training
    and the whole-corpus assignment map are skipped, and — the actual
    IVF promise at 100 TB — the union of probed cells is collected
    (model-sized: ≤ queries × nprobe ints) and pushed as an IN filter
    onto the bucketed scan, so Spark's bucket pruning reads only the
    probed lists' buckets (`SelectedBucketsCount` in the plan) instead
    of the full corpus. Results are bit-identical to the trained path
    because the stored centroids ARE that path's deterministic
    training output and assignment is a pure function of them.
    ``cells`` must hold (cell, ``c_id``, ``c_vec``) with ``c_vec``
    already array<double>.

    ``snap_model`` (decimals) rounds centroid components and probe
    scores before ranking — makes a PRUNED serve stable under
    cross-engine ulp drift so it can be externally oracle-checked
    (see registry_ext.q_ann_ivf_pruned_topk); leave None for
    production serving, where ulp-level probe ties are harmless."""
    # Direction-less vectors (NULL / zero-norm) are neither queries
    # nor candidates — see brute_topk_cosine / _has_direction.
    queries = queries.filter(_has_direction(q_vec))
    if index is not None:
        cents, cells = index
        # the trained and cell_col branches filter at construction; a
        # PREBUILT index may predate the direction contract (pre-r11
        # curated store), so filter here — the other branches skip the
        # second O(dim) fold (interpreted HOFs get no CSE; r11 review).
        # cents too (ADVICE r11): a stale index can carry centroid rows
        # derived from NULL-labeled / direction-less strata, which
        # would enter probe ranking; the centroid table is model-sized
        # so the extra fold is free.
        cells = cells.filter(_has_direction(c_vec))
        cents = cents.filter(_has_direction("centroid"))
    elif cell_col is not None:
        # NULL cells/vectors carry no geometry: a NULL-labeled stratum
        # would otherwise produce a phantom centroid that enters probe
        # ranking and can displace a real cell — and the DuckDB oracles
        # filter both NULLs, so keeping them would be a latent
        # cross-engine divergence (ADVICE r10).
        base = corpus.filter(F.col(cell_col).isNotNull() & _has_direction(c_vec))
        cents = ivf_centroids(base, cell_col=cell_col, vec_col=c_vec)
        cells = base.select(F.col(cell_col).alias("cell"), F.col(c_id), F.col(c_vec))
    else:
        cents = kmeans_cells(corpus, k=kmeans_k, iters=kmeans_iters, id_col=c_id, vec_col=c_vec)
        assigned = assign_best_cell(
            fan_out(corpus)
            .select(F.col(c_id), F.col(c_vec).cast("array<double>").alias("__av"))
            .filter(_has_direction("__av")),  # direction-less vectors: no cell
            cents,
            vec_expr="__av",
            id_col=c_id,
        )
        cells = assigned.select("cell", c_id, F.col("__av").alias(c_vec))
    if snap_model is not None:
        # Snap the MODEL, not just the scores: centroid components are
        # per-cell double means whose summation order differs across
        # engines/plans by ~1e-16 relative; rounding them (and the
        # probe cosine, via snap=) makes the probed cell set itself
        # engine-stable, so the pruned result is deterministic enough
        # for an external DuckDB hash check. IVF geometry at 6 dp is
        # unchanged in practice — cell margins are O(1e-2).
        cents = cents.select(
            "cell",
            F.transform("centroid", lambda x: F.round(x, snap_model)).alias("centroid"),
        )
    probed = ivf_assign(
        queries, cents, nprobe=nprobe, q_id=q_id, q_vec=q_vec, snap=snap_model
    )
    if index is not None:
        # The probe-cell collect runs an eager job at plan-build time
        # and the scored join re-executes the same assignment subtree —
        # persist it so both consumers share one materialization
        # (query-assignment is model-sized: |queries| x nprobe rows).
        from ..session import ring_persist

        probed = ring_persist(probed)
        probe_cells = [
            int(r["cell"]) for r in probed.select("cell").distinct().collect()
        ]
        cells = cells.filter(F.col("cell").isin(probe_cells))
    scored = probed.join(cells, "cell").withColumn(
        "cos", F.round(cosine(F.col(q_vec), F.col(c_vec)), 6)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(q_id, F.col(c_id).alias("neighbor_id"), "cos", "rank")
    )


def pq_ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int = 8,
    n_cents: int = 16,
    n_subs: int = 8,
    sub_dim: int = 8,
) -> tuple[DataFrame, ...]:
    """The IVF+PQ index construction (FAISS IVFx,PQy), shared by the
    ivf_pq_topk query and the curated-index writer so build-at-query
    and build-at-curation are definitionally the same deterministic
    plan: coarse centroids and the PQ codebook are the ``n_coarse`` /
    ``n_cents`` lowest-id vectors (order stable by construction), the
    corpus assigns to its max-cosine coarse cell, and each subvector
    encodes as its argmin-L2 codebook centroid (ties on lower id in
    both). Returns (v, coarse, cscore, cb, scored, vassign, codes):

    - v: (vec_id, emb array<double>) projection;
    - coarse: (ccell, ccent) — model-sized, broadcast everywhere;
    - cscore: corpus × coarse cosine table (filter to a query set for
      probe selection);
    - cb: (sub, cent, cvec) PQ codebook, model-sized;
    - scored: corpus × codebook subvector L2 table (filter to a query
      set for ADC distance tables);
    - vassign: (vec_id, ccell) inverted-list assignment — one
      full-corpus scoring pass;
    - codes: (vec_id, sub, cent) PQ codes — the other full-corpus
      pass. The two corpus passes are exactly what the curated layout
      (io.layout.write_curated_pq) stores so serving never repeats
      them.

    NULL vectors and vectors with NULL ELEMENTS are excluded
    (ANN-family NULL contract, extended r12): they can neither seed
    the coarse/codebook models nor be encoded — an interior NULL
    poisons Spark's distance folds to NULL while DuckDB's list_sum
    skips it, so keeping such vectors trains DIFFERENT models per
    engine (found by the interior-NULL parity mode)."""
    from ..session import persist_for_rescan

    spark = corpus.sparkSession
    v = corpus.filter(_finite_elements(vec_col)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    w = Window.orderBy("vec_id")
    # The model tables (n_coarse and n_cents×n_subs rows) are each
    # REFERENCED from two plan branches (coarse: probe scoring +
    # corpus assignment; cb: distance tables + corpus encoding), and
    # Spark shares no subtrees across branches — every reference
    # re-derives the model with its own TakeOrdered pass over the
    # corpus (r13 plan audit: 16 parquet scans in the plain-path
    # plan, ~6 of them model derivations). Above the rescan gate each
    # model materializes once; below it (MB-scale inputs) the plan is
    # byte-unchanged — a TakeOrdered over a few MB costs less than a
    # cache barrier (guide §2.4 / §5, the r12 gate doctrine).
    coarse = persist_for_rescan(
        v.orderBy("vec_id")
        .limit(n_coarse)
        .select((F.row_number().over(w) - 1).alias("ccell"), F.col("emb").alias("ccent")),
        gate=corpus,
    )
    cscore = v.join(F.broadcast(coarse)).withColumn(
        "__cos", cosine(F.col("emb"), F.col("ccent"))
    )
    vassign = cscore.groupBy("vec_id").agg(
        F.max_by(
            "ccell", F.struct(F.col("__cos"), (-F.col("ccell")).alias("__n"))
        ).alias("ccell")
    )
    cb0 = (
        v.orderBy("vec_id")
        .limit(n_cents)
        .select((F.row_number().over(w) - 1).alias("cent"), "emb")
    )
    subs = spark.range(n_subs).select(F.col("id").cast("int").alias("sub"))
    cb = persist_for_rescan(
        cb0.crossJoin(F.broadcast(subs)).select(
            "sub", "cent", F.expr(f"slice(emb, sub * {sub_dim} + 1, {sub_dim})").alias("cvec")
        ),
        gate=corpus,
    )
    vs = v.crossJoin(F.broadcast(subs)).select(
        "vec_id", "sub", F.expr(f"slice(emb, sub * {sub_dim} + 1, {sub_dim})").alias("svec")
    )
    sq = F.aggregate(
        F.zip_with("svec", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vs.join(F.broadcast(cb), "sub").select(
        "vec_id", "sub", "cent", sq.alias("d2")
    )
    codes = scored.groupBy("vec_id", "sub").agg(
        F.max_by(
            "cent", F.struct((-F.col("d2")).alias("__nd"), (-F.col("cent")).alias("__nc"))
        ).alias("cent")
    )
    return v, coarse, cscore, cb, scored, vassign, codes


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec", ndigits: int = 6
) -> DataFrame:
    """Unit-normalize vectors (x / ||x||₂), elementwise-rounded for
    engine parity — the preprocessing that turns cosine similarity
    into a plain dot product (what every ANN index wants stored).
    Pure array expressions inside codegen: one aggregate fold for the
    norm, one transform for the scale — no UDF, no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    # try_divide: a zero vector has norm 0 and ANSI division throws
    # mid-job; NULL elements match the DuckDB oracle's /0 behavior.
    return df.withColumn(
        out_col, F.transform(v, lambda x: F.round(F.try_divide(x, norm), ndigits))
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", ndigits: int = 6
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) ∈ [-127, 127] — 4x smaller vectors, the
    storage/bandwidth trade every billion-vector store makes. Emits
    (scale, qvec); dequantize as q*scale. Array-native, no shuffle;
    all-zero vectors quantize to zeros with scale 0."""
    v = F.col(vec_col).cast("array<double>")
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
    )
    scale = absmax / F.lit(127.0)
    q = F.when(
        scale > 0, F.transform(v, lambda x: F.round(x / scale).cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn("scale", F.round(scale, ndigits)).withColumn("qvec", q)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of the embedding space, one row per
    (label, dimension) — the class prototype table that powers
    nearest-centroid classification and drift monitoring.

    posexplode flattens vectors to (label, dim, x) and one map-side-
    combinable groupBy averages per coordinate — output cardinality is
    labels x dims regardless of corpus size. Means are rounded to 6 so
    float accumulation order can't flip the hash."""
    ex = emb.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    return ex.groupBy(label_col, "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("x"), 6).alias("centroid"),
    )


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Population covariance matrix of the embedding space as
    (dim_i, dim_j, cov) rows — the model every whitening / PCA /
    Mahalanobis step starts from.

    Two passes, both scale-shaped like MLlib's RowMatrix Gramian: the
    per-dimension means are a posexplode + map-side-combinable groupBy
    (a 64-double model collected to the driver), then each Arrow batch
    computes one centered X^T X with BLAS and emits dim² partial-sum
    triplets — shuffle volume is dims² per batch, never per row, and
    the final groupBy folds partials regardless of corpus size.
    Output cardinality is dims², data-independent."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    # NULL vectors would put a shapeless row into every batch's
    # np.stack; the posexplode means-pass already skips them, so the
    # Gramian pass must too (same n, same moments). Vectors with NULL
    # ELEMENTS are excluded outright (r12 interior-NULL contract):
    # Arrow hands them to numpy as NaN, which would poison whole
    # Gramian rows, while DuckDB covar_pop skips the element PAIRWISE
    # — per-(i,j) populations would silently diverge between engines.
    v = (
        fan_out(emb)
        .select(F.col(vec_col).cast("array<double>").alias("__v"))
        .filter(_finite_elements("__v"))
    )
    means_rows = (
        v.select(F.posexplode("__v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    dims = len(means_rows)
    n_total = means_rows[0]["n"] if means_rows else 0
    mu = np.zeros(dims)
    for r in means_rows:
        mu[r["dim"]] = r["mu"]
    bc = spark.sparkContext.broadcast(mu)

    def partials(batches):
        m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(row, dtype=np.float64) for row in pdf["__v"]]) - m
            g = x.T @ x  # dims x dims centered Gramian for this batch
            i, j = np.meshgrid(np.arange(dims), np.arange(dims), indexing="ij")
            yield pd.DataFrame(
                {"dim_i": i.ravel(), "dim_j": j.ravel(), "s": g.ravel()}
            )

    tri = v.mapInPandas(partials, schema="dim_i int, dim_j int, s double")
    return tri.groupBy("dim_i", "dim_j").agg(
        # + 0.0 normalizes IEEE negative zero (round(-1e-9, 6) is -0.0
        # in Spark but 0.0 in DuckDB — equal values, different hashes)
        (F.round(F.sum("s") / F.lit(float(n_total)), ndigits) + F.lit(0.0)).alias("cov")
    )


def nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd assignment step with the similarity kept: each
    vector's best (max-cosine, tie → lower cell) centroid as
    (id, cell, cos). The centroid side is model-sized and broadcast;
    argmax is a max(struct) aggregate keyed by the vector id — a
    map-side-combinable groupBy, never a window over the k-times
    exploded join (whose per-id partitions would stall on hot ids at
    scale). Zero Python: the cosine folds in Catalyst expressions.
    NULL vectors are not assignable and are excluded (ANN-family
    NULL contract)."""
    v = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    scored = v.join(F.broadcast(centroids)).withColumn(
        "__cos", cosine(F.col("__v"), F.col("centroid"))
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("__cos"), (-F.col("cell")).alias("__negcell"))
        ).alias("__b")
    )
    return best.select(
        F.col(id_col),
        (-F.col("__b.__negcell")).cast("int").alias("cell"),
        F.col("__b.__cos").alias("cos"),
    )
