"""Graph analytics over edge-list DataFrames.

The reference's batch-routing dictionary (pipelineParser.py:89-103)
is the closest it gets to a graph — grouped job lists keyed by a
composite key. At corpus scale the interesting graphs are implicit:
items co-ordered in the same basket, documents sharing near-dup
buckets, users sharing sessions. This module gives those edge lists
first-class iterative algorithms with the join-based sparse-matvec
shape that survives 100 TB:

- every PageRank round is ONE equi-join (ranks ⋈ edges on src) plus
  one map-side-combinable groupBy(dst) — the standard Pregel-style
  contraction expressed declaratively so AQE can re-plan each round;
- both sides are hash-partitioned on the node key up front, so every
  round reuses the same exchange instead of re-shuffling;
- the node count is the only scalar that ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import Memo, memo_key

# Memoized final rank tables for weighted_pagerank_from_half. The heavy
# per-call caches (edge list, degrees, node set) are unpersisted before
# returning; ONLY the model-sized result survives here, FIFO-capped.
_RANKS = Memo("pagerank-ranks", 8)
_rank_memo_clear = _RANKS.clear


def _pagerank_local_finish(
    e: DataFrame,
    shares,
    iters: int,
    damping: float,
    normalize: bool,
) -> DataFrame:
    """Driver-side power iteration over a collected share list
    ``[(src, dst, share)]`` — the same synchronous update the
    distributed rounds apply (teleport + damping · Σ rank·share), so
    the two paths agree to float noise far below the callers' 6-dp
    output rounding. Used only under a model-sized edge cutover; the
    node type is carried over from the edge frame so the returned
    schema matches the distributed path exactly."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    nodes = set()
    for s, d, _ in shares:
        nodes.add(s)
        nodes.add(d)
    n = len(nodes)
    teleport = (1.0 - damping) / n
    rank = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(iters):
        incoming = dict.fromkeys(nodes, 0.0)
        for s, d, sh in shares:
            incoming[d] += rank[s] * sh
        rank = {u: teleport + damping * incoming[u] for u in nodes}
    scale = float(n) if normalize else 1.0
    out_schema = StructType(
        [
            StructField("node", e.schema["src"].dataType),
            StructField("rank", DoubleType()),
        ]
    )
    return e.sparkSession.createDataFrame(
        [(u, r * scale) for u, r in rank.items()], schema=out_schema
    )


def weighted_pagerank_from_half(
    half: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    damping: float = 0.85,
    normalize: bool = False,
    local_finish_edges: int = 100_000,
    broadcast_nodes: int = 1_000_000,
    broadcast_min_edges: int = 10_000_000,
) -> DataFrame:
    """PageRank over an UNDIRECTED weighted graph given as its
    (src < dst, w) half-edge set, `iters` synchronous rounds. Each
    round a node distributes its rank over its edges in proportion to
    edge weight (w / Σ w); unweighted PageRank is w = 1.0 on every
    edge (share = 1 / degree).

    Each round: contrib = ranks ⋈ edges (equi-join on src) →
    groupBy(dst).sum (map-side partial agg) → left-join back onto the
    node set for the damping update. The node COUNT is the only
    driver scalar; ranks stay distributed end to end, and with a
    bounded iteration count the lineage stays shallow enough that no
    checkpoint is needed.

    Physical tiers, chosen from the two counts the plan needs anyway
    (edge counts are DIRECTED: 2·|half|):

    - edges ≤ ``local_finish_edges``: driver-side power iteration
      (model-sized collect, see _pagerank_local_finish). Each
      distributed round costs ~0.7s of sequential join+agg stage
      latency regardless of edge count, so 3 rounds on a 60k-edge
      graph collapse from ~2.6s to ~0.6s at sf0.1;
    - nodes ≤ ``broadcast_nodes`` AND edges ≥ ``broadcast_min_edges``
      (a dense co-occurrence or web-host graph): broadcast rounds.
      rank/Σw folds into one ≤n-row broadcast hinted into the edge
      join, so the mirrored half set is scanned map-side every round
      and NEVER shuffled. The price is 2 broadcast barriers per round,
      which is why small edge lists skip this tier (measured 2.7s vs
      4.5s at the 100x co-order proxy, 2.4M distinct edges);
    - otherwise: the per-edge share table is hash-partitioned on src
      once and cached, so every round reuses the same exchange — the
      only shape that survives when ranks themselves are TBs.

    The build exploits the mirror symmetry instead of materializing
    the mirrored union: weights are symmetric, so Σ w per node is one
    endpoint-explode over the half rows (map-side combinable), and
    that aggregate IS the node universe (every undirected node appears
    in ≥1 half row), so `n` is its count. The full directed set is
    never cached on its own and the local finish collects only the
    half rows (measured at sf0.1, 2.39M directed edges: 2.90 → 2.20 s
    against the mirrored build, same driver jobs, identical output).

    Contract: ``half`` holds unique (src < dst) rows and should be
    persist/checkpoint-backed by the caller: it is counted, exploded
    for the weight sums, and mirrored into the round joins. There is
    deliberately NO fan_out here: an un-cached repartition would
    re-execute its exchange once PER consumer, and caching the
    repartitioned copy would reintroduce the second edge-mass
    materialization this build avoids. Graphs are undirected, so no
    node is dangling."""
    spark = half.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    h = half.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("__w"),
    )
    mk = memo_key((h,), iters, damping, normalize)
    hit = _RANKS.get(mk)
    if hit is not None:
        return hit
    n_half = h.count()
    if 2 * n_half <= local_finish_edges:
        wsum: dict = {}
        rows = h.collect()
        for s, d, w in rows:
            wsum[s] = wsum.get(s, 0.0) + w
            wsum[d] = wsum.get(d, 0.0) + w
        shares = [
            (s, d, w / wsum[s]) for s, d, w in rows
        ] + [(d, s, w / wsum[d]) for s, d, w in rows]
        res = _pagerank_local_finish(h, shares, iters, damping, normalize)
        _RANKS.put(mk, res)
        return res
    wsum = (
        h.select(F.explode(F.array("src", "dst")).alias("node"), "__w")
        .groupBy("node")
        .agg(F.sum("__w").alias("__wsum"))
        .cache()
    )
    n = wsum.count()
    nodes = wsum.select("node")
    e = mirror_edges(h)
    n_edges = 2 * n_half
    small_ranks = n <= broadcast_nodes and n_edges >= broadcast_min_edges
    if not small_ranks:
        out = (
            e.join(wsum.withColumnRenamed("node", "src"), "src")
            .select("src", "dst", (F.col("__w") / F.col("__wsum")).alias("__share"))
            .repartition(shuffle, "src")
            .cache()
        )
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        if small_ranks:
            # rank·(w/Σw) = (rank/Σw)·w — the per-edge share never
            # materializes on the (uncached, narrow) mirrored scan.
            # wsum's node column joins under a FRESH alias: ranks
            # derives from wsum's own node attribute, so a bare
            # wsum["node"] here would be a self-referential predicate.
            wsumj = wsum.select(F.col("node").alias("__wnode"), "__wsum")
            scaled = ranks.join(wsumj, ranks["node"] == F.col("__wnode")).select(
                ranks["node"].alias("__src"),
                (F.col("rank") / F.col("__wsum")).alias("__rs"),
            )
            contrib = (
                e.join(F.broadcast(scaled), e["src"] == F.col("__src"))
                .select(
                    F.col("dst").alias("node"),
                    (F.col("__rs") * F.col("__w")).alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__in"))
            )
        else:
            contrib = (
                out.join(ranks, out["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("__share")).alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__in"))
            )
        right = F.broadcast(contrib) if small_ranks else contrib
        ranks = nodes.join(right, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
            ).alias("rank"),
        )
    if normalize:
        # Mean-1 normalization (rank · N): keeps the output resolution
        # independent of graph size — raw ranks are O(1/N) and would
        # vanish under fixed-precision rounding on large graphs.
        ranks = ranks.select("node", (F.col("rank") * F.lit(float(n))).alias("rank"))
    # Materialize the final ranks WHILE the per-call caches are hot,
    # then drop them — repeated calls would otherwise accumulate
    # cached tables until JVM exit. persist+count, NOT
    # localCheckpoint: a harness that force-drops blocks between runs
    # would leave a checkpointed memo entry unrecomputable
    # (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); a persisted frame just
    # recomputes from source.
    ranks = ranks.persist()
    ranks.count()
    wsum.unpersist()
    if not small_ranks:
        out.unpersist()
    _RANKS.put(mk, ranks, ranks)
    return ranks


def degree_stats_from_half(
    half: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (out_deg, in_deg) of the MIRRORED graph computed from
    its (src < dst) half-edge set: on a symmetric edge list every
    node's out-degree equals its in-degree equals its undirected
    degree, so one endpoint-explode over the half rows (E rows,
    map-side combinable) replaces the mirror-then-explode form (2·E
    exploded to 4·E) — half the aggregate input at any scale, same
    output."""
    both = half.select(
        F.explode(F.array(F.col(src).alias("node"), F.col(dst).alias("node"))).alias(
            "node"
        )
    )
    d = both.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("__d"))
    return d.select("node", F.col("__d").alias("out_deg"), F.col("__d").alias("in_deg"))


def undirected_edges(
    facts: DataFrame,
    group_col: str,
    item_col: str,
    max_group: int = 64,
) -> DataFrame:
    """Unique undirected co-occurrence edges (u < v): two items are
    linked when they appear in the same group (parts in one order,
    docs in one bucket). Pairs are generated INSIDE each group after a
    collect_set bounded by `max_group`, and groups above the bound are
    dropped the same way dedup drops degenerate LSH mega-buckets (a
    group that large links everything to everything and carries no
    signal). The fact table is never self-joined."""
    items = (
        facts.groupBy(group_col)
        .agg(F.collect_set(F.col(item_col)).alias("__items"))
        .filter(F.size("__items").between(2, max_group))
    )
    pairs = items.select(
        F.explode(F.col("__items")).alias("u"), F.col("__items")
    ).select(F.col("u"), F.explode(F.col("__items")).alias("v")).filter(
        F.col("u") < F.col("v")
    )
    return pairs.distinct()


def triangle_stats(
    facts: "DataFrame | None",
    group_col: str,
    item_col: str,
    max_group: int = 64,
    half: "DataFrame | None" = None,
) -> DataFrame:
    """Triangle census of the co-occurrence graph: nodes, unique
    edges, wedges (Σ d·(d-1)/2 from the degree table — never
    enumerated), triangles (oriented wedge join: e1=(u,v), e2=(u,w)
    with v<w, closed by probing (v,w) — each triangle counted exactly
    once), and the global clustering coefficient 3·Δ/wedges.

    The edge list is localCheckpoint-ed before the triple self-join so
    the (collect_set → explode → distinct) derivation runs once, and
    the join graph is three equi-joins over the materialized edges —
    no cartesian anywhere. Wedge generation is the standard scale
    cost (Σ deg²); the `max_group` bound caps it the same way it caps
    pair explosion, and at 100 TB the orientation (v < w) halves the
    candidate set."""
    if half is not None:
        # Prebuilt (src < dst) half set — the curated graph layout
        # (io.layout.write_curated_edges): skip the derivation, the
        # census reads the stored edges directly. localCheckpoint
        # still isolates the triple self-join from re-reading the
        # catalog scan three times with three distinct aliases.
        und = half.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).localCheckpoint()
    else:
        und = undirected_edges(facts, group_col, item_col, max_group).localCheckpoint()
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges"),
    )
    ne = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .join(e3, (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        nn.crossJoin(ne)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


def item_cf_topk(
    facts: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 5,
    max_group: int = 64,
) -> DataFrame:
    """Item-item collaborative filtering: cosine over the group-item
    incidence matrix — cos(a,b) = |groups with both| / √(|a|·|b|) —
    top-k neighbors per item. Pair counts come from in-group
    generation (bounded by `max_group`), degrees from one wordcount
    aggregate joined back; ranking is a window keyed by item whose
    partitions are degree-bounded. The classic basket recommender,
    all equi-joins."""
    from pyspark.sql import Window

    items = (
        facts.groupBy(group_col)
        .agg(F.collect_set(F.col(item_col)).alias("__items"))
        .filter(F.size("__items").between(2, max_group))
    )
    ex = items.select(F.explode(F.col("__items")).alias("item"), F.col("__items"))
    pairc = (
        ex.select(F.col("item").alias("u"), F.explode(F.col("__items")).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    deg = items.select(F.explode(F.col("__items")).alias("item")).groupBy("item").agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    du = deg.select(F.col("item").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("item").alias("v"), F.col("d").alias("dv"))
    scored = (
        pairc.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cnt",
            F.round(F.col("cnt") / F.sqrt(F.col("du") * F.col("dv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("cos").desc(), "v")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("u").alias("item"),
            F.col("v").alias("neighbor"),
            F.col("cnt").cast("long").alias("n_co"),
            "cos",
        )
    )


def co_occurrence_weighted_half(
    facts: DataFrame,
    group_col: str,
    item_col: str,
    max_group: int = 64,
) -> DataFrame:
    """The (src < dst, w) weighted half-edge set of the co-occurrence
    graph — the canonical stored form (io.layout.write_curated_edges):
    every graph consumer derives from it (unweighted = drop w;
    undirected half = as-is; full directed = mirror union). Bounded
    in-group generation, one map-side-combinable count."""
    items = (
        facts.groupBy(group_col)
        .agg(F.collect_set(F.col(item_col)).alias("__items"))
        .filter(F.size("__items").between(2, max_group))
    )
    return (
        items.select(F.explode(F.col("__items")).alias("src"), F.col("__items"))
        .select(F.col("src"), F.explode(F.col("__items")).alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def mirror_edges(half: DataFrame) -> DataFrame:
    """Full directed edge set from a (src < dst[, w]) half set — a
    shuffle-free union of the half set and its column-swapped mirror
    (weights, when present, are symmetric by construction)."""
    cols = half.columns
    swapped = half.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        *[F.col(c) for c in cols if c not in ("src", "dst")],
    )
    return half.unionByName(swapped.select(*cols))
