"""Graph analytics + ML-primitive tests: PageRank against a numpy
power-iteration reference, Lloyd assignment against numpy argmax,
histogram quantiles against the true quantile with the bin-width
error bound, and plan pins for the new operators.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from seqdatapipeline_spark.extensions import graph as gr
from seqdatapipeline_spark.extensions import similarity as sim
from seqdatapipeline_spark.ops import aggregates as ag


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- pagerank


_TIERS = pytest.mark.parametrize(
    "cutover,bcast",
    [(100_000, 1_000_000), (0, 1_000_000), (0, 0)],
    ids=["local-finish", "broadcast-rounds", "partitioned-rounds"],
)


def _numpy_pagerank(half, iters=3, damping=0.85):
    """Reference power iteration over the mirrored (src, dst, w) list:
    each node sends rank · w / Σw along every incident edge."""
    n = 1 + max(max(s, d) for s, d, _ in half)
    wsum = np.zeros(n)
    for s, d, w in half:
        wsum[s] += w
        wsum[d] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        for s, d, w in half:
            nxt[d] += damping * r[s] * w / wsum[s]
            nxt[s] += damping * r[d] * w / wsum[d]
        r = nxt
    return r


def _assert_pagerank_matches_numpy(spark, half, cutover, bcast):
    # All three tiers — driver-side finish, broadcast-rank rounds
    # (broadcast_min_edges forced to 0 so the tiny graph takes that
    # tier), fully partitioned rounds — must match the reference power
    # iteration, raw and mean-1 normalized.
    hdf = spark.createDataFrame(half, "src int, dst int, w double").localCheckpoint()
    want = _numpy_pagerank(half)
    for normalize, scale in [(False, 1.0), (True, float(len(want)))]:
        got = {
            r["node"]: r["rank"]
            for r in gr.weighted_pagerank_from_half(
                hdf, iters=3, damping=0.85, normalize=normalize,
                local_finish_edges=cutover, broadcast_nodes=bcast,
                broadcast_min_edges=0,
            ).collect()
        }
        assert set(got) == set(range(len(want)))
        for i, r in enumerate(want):
            assert got[i] == pytest.approx(r * scale, abs=1e-12)


@_TIERS
def test_pagerank_matches_numpy_power_iteration(spark, cutover, bcast):
    # Unweighted PageRank is unit weights: share = 1 / degree. An
    # undirected graph with a hub (node 0) and a pendant (node 5).
    half = [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (3, 5), (1, 2)]
    _assert_pagerank_matches_numpy(
        spark, [(s, d, 1.0) for s, d in half], cutover, bcast
    )


def test_pagerank_conserves_mass(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    half = gr.co_occurrence_weighted_half(li, "l_orderkey", "l_partkey")
    pr = gr.weighted_pagerank_from_half(
        half.select("src", "dst", F.lit(1.0).alias("w")), iters=3, damping=0.85
    )
    row = pr.agg(F.sum("rank").alias("s"), F.count("*").alias("n")).collect()[0]
    # Undirected edge set -> no dangling mass: total rank stays 1.
    assert row["s"] == pytest.approx(1.0, abs=1e-9)
    assert row["n"] > 0


def test_degree_stats_from_half_matches_mirrored(spark):
    half = [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (3, 5)]
    hdf = spark.createDataFrame(half, "src int, dst int")
    mirrored = half + [(d, s) for s, d in half]
    nodes = {u for e in mirrored for u in e}
    want = sorted(
        (u, sum(s == u for s, _ in mirrored), sum(d == u for _, d in mirrored))
        for u in nodes
    )
    got = sorted(map(tuple, gr.degree_stats_from_half(hdf).collect()))
    assert got == want


def test_co_occurrence_edges_symmetric_no_self_loops(spark):
    facts = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 10), (3, 99)],
        "g int, item int",
    )
    e = gr.co_occurrence_edges(facts, "g", "item").collect()
    pairs = {(r["src"], r["dst"]) for r in e}
    assert all(s != d for s, d in pairs)
    assert pairs == {(a, b) for a, b in pairs if (b, a) in pairs}  # symmetric
    # group 2 collapses to one distinct item (no pair), group 3 is a singleton
    assert {10, 11, 12} == {s for s, _ in pairs}


def test_co_occurrence_mega_group_dropped(spark):
    rows = [(1, i) for i in range(80)] + [(2, 1), (2, 2)]
    facts = spark.createDataFrame(rows, "g int, item int")
    e = gr.co_occurrence_edges(facts, "g", "item", max_group=64)
    assert e.count() == 2  # only group 2 survives the bound


@pytest.mark.parametrize("bcast", [0, 1_000_000],
                         ids=["partitioned-rounds", "broadcast-rounds"])
def test_pagerank_plan_no_cartesian(spark, sf_dir, bcast):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    half = gr.co_occurrence_weighted_half(li, "l_orderkey", "l_partkey")
    plan = _plan(
        gr.weighted_pagerank_from_half(
            half, iters=3, local_finish_edges=0,
            broadcast_nodes=bcast, broadcast_min_edges=0,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------- nearest_centroid


def test_nearest_centroid_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    rows = emb.select("vec_id", "embedding").collect()
    seeds = sorted(rows, key=lambda r: r["vec_id"])[:4]
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in s["embedding"]]) for i, s in enumerate(seeds)],
        "cell int, centroid array<double>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in sim.nearest_centroid(emb, cdf).collect()
    }
    cm = np.array([s["embedding"] for s in seeds], dtype=np.float64)
    cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        cos = (v / np.linalg.norm(v)) @ cm.T
        assert got[r["vec_id"]] == int(np.argmax(cos))


def test_nearest_centroid_is_broadcast(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [-1.0] * 64)], "cell int, centroid array<double>"
    )
    plan = _plan(sim.nearest_centroid(emb, cdf))
    assert "SortMergeJoin" not in plan  # model side must broadcast


# ---------------------------------------------------------- binned_quantiles


def test_binned_quantiles_within_bin_width(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["event_type"], r["p"]): r["q"]
        for r in ag.binned_quantiles(e, ["event_type"], "value", [0.5, 0.9]).collect()
    }
    pdf = e.select("event_type", "value").toPandas()
    for et, grp in pdf.groupby("event_type"):
        v = np.sort(grp["value"].to_numpy())
        width = (v[-1] - v[0]) / 1000.0
        for p in (0.5, 0.9):
            # The histogram estimator's contract is the inverse-CDF
            # order statistic (rank ceil(p*n)): it lands in that
            # value's bin, so the error is bounded by one bin width.
            # (numpy's interpolated quantile can sit a whole
            # order-stat gap away in sparse tails — not the bound.)
            true = float(v[min(len(v) - 1, int(np.ceil(p * len(v))) - 1)])
            assert abs(got[(et, p)] - true) <= width + 1e-9, (et, p)


def test_binned_quantiles_degenerate_group(spark):
    df = spark.createDataFrame([("a", 7.0)] * 5, "g string, v double")
    rows = ag.binned_quantiles(df, ["g"], "v", [0.5, 0.99]).collect()
    assert {r["q"] for r in rows} == {7.0}


def test_binned_quantiles_monotone_in_p(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ag.binned_quantiles(
        e, ["event_type"], "value", [0.1, 0.5, 0.9, 0.99]
    ).collect()
    by_g: dict[str, dict[float, float]] = {}
    for r in rows:
        by_g.setdefault(r["event_type"], {})[r["p"]] = r["q"]
    for qs in by_g.values():
        ordered = [qs[p] for p in sorted(qs)]
        assert ordered == sorted(ordered)


# ----------------------------------------------------------------- bm25/pmi


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["bm25_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_pmi_matches_hand_computation(spark):
    # 'a b' appears 6x, 'b a' 5x; unigrams a=7, b=7, tail c..
    docs = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "b a b a b a c"), (3, "a b a b b a c")],
        "doc_id long, text string",
    )
    w = F.split(F.col("text"), " ")
    # replicate the query body on the toy corpus via the registered fn
    # bound to a fake sf_dir is impossible; recompute expected by hand:
    # bigrams: each doc has 6 bigrams -> 18 total
    # 'a b': doc1 3, doc2 2(?), count by hand below instead.
    toks = [r["text"].split(" ") for r in docs.collect()]
    big: dict[tuple[str, str], int] = {}
    uni: dict[str, int] = {}
    for t in toks:
        for x in t:
            uni[x] = uni.get(x, 0) + 1
        for x, y in zip(t, t[1:]):
            big[(x, y)] = big.get((x, y), 0) + 1
    tb = sum(big.values())
    tu = sum(uni.values())
    expected = {
        k: round(math.log((c / tb) / ((uni[k[0]] / tu) * (uni[k[1]] / tu))), 6)
        for k, c in big.items()
        if c >= 5
    }
    assert expected, "fixture must produce at least one >=5 bigram"

    # run the same pipeline shape as q_pmi_bigrams on the toy docs
    hi = (F.size(w) - 1).cast("int")
    idx = F.when(hi >= 1, F.sequence(F.lit(1), hi)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1))
    )
    allb = docs.select(F.explode(gram).alias("gram"))
    bc0 = allb.groupBy("gram").agg(F.count(F.lit(1)).cast("double").alias("cab"))
    nb = bc0.agg(F.sum("cab").alias("tb"))
    unid = docs.select(F.explode(w).alias("term"))
    uc = unid.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("c"))
    nu = uc.agg(F.sum("c").alias("tu"))
    bc = bc0.filter(F.col("cab") >= 5).select(
        F.element_at(F.split(F.col("gram"), " "), 1).alias("w1"),
        F.element_at(F.split(F.col("gram"), " "), 2).alias("w2"),
        "cab",
    )
    ca = uc.select(F.col("term").alias("w1"), F.col("c").alias("ca"))
    cb = uc.select(F.col("term").alias("w2"), F.col("c").alias("cb"))
    j = bc.join(ca, "w1").join(cb, "w2").crossJoin(nb).crossJoin(nu)
    pmi = F.log(
        (F.col("cab") / F.col("tb"))
        / ((F.col("ca") / F.col("tu")) * (F.col("cb") / F.col("tu")))
    )
    got = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in j.select("w1", "w2", F.round(pmi, 6).alias("pmi")).collect()
    }
    assert got == expected


def test_new_query_plans_no_bnlj(spark, sf_dir):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ["bm25_topk", "pmi_bigrams", "approx_quantile_bins", "kmeans_assign"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------- triangles / CF / fusion


def test_triangle_stats_matches_brute_force(spark):
    # groups: {1,2,3} and {2,3,4} -> edges 12,13,23,24,34; triangles 123, 234
    facts = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (2, 4)], "g int, item int"
    )
    row = gr.triangle_stats(facts, "g", "item").collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 5
    # degrees: 1->2, 2->3, 3->3, 4->2 ; wedges = 1+3+3+1 = 8
    assert row["n_wedges"] == 8
    assert row["n_triangles"] == 2
    assert row["global_clustering"] == pytest.approx(3 * 2 / 8, abs=1e-9)


def test_item_cf_topk_matches_hand_computation(spark):
    # item 1 co-occurs with 2 in two groups; deg(1)=2, deg(2)=3
    facts = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 2), (3, 9)], "g int, item int"
    )
    rows = gr.item_cf_topk(facts, "g", "item", k=5).collect()
    got = {(r["item"], r["neighbor"]): (r["n_co"], r["cos"]) for r in rows}
    assert got[(1, 2)] == (2, round(2 / math.sqrt(2 * 3), 6))
    assert got[(2, 9)] == (1, round(1 / math.sqrt(3 * 1), 6))
    # per-item neighbor lists are ranked by cos desc
    for item in {r["item"] for r in rows}:
        cs = [r["cos"] for r in rows if r["item"] == item]
        assert cs == sorted(cs, reverse=True)


def test_rank_fusion_rrf_shape(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["rank_fusion_rrf"](spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # rrf of rank-1 in both lists is the max achievable
    assert all(s <= round(2 / 61, 6) + 1e-12 for s in scores)


# ------------------------------------ containment / streaming quantiles


def test_minhash_containment_detects_subdocument(spark):
    from seqdatapipeline_spark.extensions import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    sup = base + " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    docs = spark.createDataFrame(
        [(1, base), (2, sup)], "doc_id long, text string"
    )
    rows = dd.minhash_containment_pairs(docs).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (1, 2) in got, "sub/superdoc pair must surface as LSH candidates"
    r = got[(1, 2)]
    # every shingle of doc 1 appears in doc 2
    assert r["true_cont_a_in_b"] == pytest.approx(1.0)
    assert r["true_cont_b_in_a"] < 0.5  # but not vice versa
    assert 0.0 <= r["est_cont_a_in_b"] <= 1.0
    assert 0.0 <= r["est_jaccard"] <= 1.0


def test_grid_quantiles_batch_stream_identity(spark, sf_dir, tmp_path):
    """The additive fixed-grid makes the sketch replay-invariant:
    2-batch and 4-batch drains and the one-shot batch all agree."""
    from seqdatapipeline_spark.streaming import rollup as ru

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    probs = [0.5, 0.9]

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    one_shot = ru.grid_quantiles(
        e.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(0.25)).cast("long").alias("b"),
        ).agg(F.count(F.lit(1)).cast("double").alias("c")),
        ["event_type"],
        probs,
        0.25,
    )
    two = ru.replay_grid_quantiles(
        e, str(tmp_path / "s2"), ["event_type"], "value", "event_id", probs,
        grid=0.25, n_batches=2,
    )
    four = ru.replay_grid_quantiles(
        e, str(tmp_path / "s4"), ["event_type"], "value", "event_id", probs,
        grid=0.25, n_batches=4,
    )
    assert rows_of(one_shot) == rows_of(two) == rows_of(four)


def test_grid_quantiles_error_bound(spark, sf_dir):
    from seqdatapipeline_spark.streaming import rollup as ru

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = e.groupBy(
        "event_type", F.floor(F.col("value") / F.lit(0.25)).cast("long").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    got = {
        (r["event_type"], r["p"]): r["q"]
        for r in ru.grid_quantiles(hist, ["event_type"], [0.5, 0.9], 0.25).collect()
    }
    pdf = e.select("event_type", "value").toPandas()
    for et, grp in pdf.groupby("event_type"):
        v = np.sort(grp["value"].to_numpy())
        for p in (0.5, 0.9):
            true = float(v[min(len(v) - 1, int(np.ceil(p * len(v))) - 1)])
            assert abs(got[(et, p)] - true) <= 0.25 + 1e-9, (et, p)


def test_setsim_prefix_join_no_false_negatives(spark, sf_dir):
    """Prefix filtering must find EVERY pair >= threshold: compare
    against brute-force Jaccard over all doc pairs on a small slice."""
    from itertools import combinations

    from seqdatapipeline_spark.extensions import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.setsim_prefix_join(docs, threshold=0.7).collect()
    }

    rows = docs.select("doc_id", "text").collect()
    shingle = lambda t: {
        " ".join(ws) for ws in zip(*(t.split(" ")[i:] for i in range(3)))
    }
    sets = {r["doc_id"]: shingle(r["text"]) for r in rows}
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.7:
            expected[(a, b)] = round(j, 6)
    assert got == expected


@_TIERS
def test_weighted_pagerank_matches_numpy(spark, cutover, bcast):
    # Node 0 sends 3/6 of its rank to 1, 1/6 to 2 and 2/6 to 4.
    half = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (1, 3, 4.0), (2, 3, 1.0), (0, 4, 2.0)]
    _assert_pagerank_matches_numpy(spark, half, cutover, bcast)


def test_weighted_pagerank_reduces_to_uniform_on_equal_weights(spark):
    half = [(0, 1), (1, 2), (0, 2), (2, 3)]
    ranks = [
        {
            r["node"]: r["rank"]
            for r in gr.weighted_pagerank_from_half(
                spark.createDataFrame(
                    [(s, d, w) for s, d in half], "src int, dst int, w double"
                ),
                iters=3,
            ).collect()
        }
        for w in (1.0, 7.0)
    ]
    assert set(ranks[0]) == set(ranks[1]) == {0, 1, 2, 3}
    for k in ranks[0]:
        assert ranks[0][k] == pytest.approx(ranks[1][k], abs=1e-12)


def test_plan_fingerprint_refuses_driver_built_frames(spark, sf_dir):
    """Memo keys must never collide across different literal datasets:
    createDataFrame canonicalizes without its rows, so plan_fingerprint
    returns None for it and a stable string for file-backed plans."""
    import os

    from seqdatapipeline_spark.session import plan_fingerprint

    local = spark.createDataFrame([(1, 2)], "src int, dst int")
    assert plan_fingerprint(local) is None
    p = os.path.join(sf_dir, "part.parquet")
    a = plan_fingerprint(spark.read.parquet(p))
    b = plan_fingerprint(spark.read.parquet(p))
    assert a is not None and a == b


def test_plan_fingerprint_distinguishes_same_schema_datasets(spark, tmp_path):
    """The canonicalized analyzed plan ELIDES the parquet path on
    Spark 4.x ('Relation [none#0L...] parquet' for any dataset of the
    schema), so the fingerprint must fold in the concrete file listing
    — otherwise the stats/rank memos serve dataset A's cached result
    for dataset B (the r7 ADVICE-high collision, reproduced on
    interval_count_adaptive)."""
    from seqdatapipeline_spark.session import plan_fingerprint

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(10).selectExpr("id AS src", "id + 1 AS dst").write.parquet(pa)
    spark.range(20).selectExpr("id * 2 AS src", "id AS dst").write.parquet(pb)
    fa = plan_fingerprint(spark.read.parquet(pa))
    fb = plan_fingerprint(spark.read.parquet(pb))
    assert fa is not None and fb is not None
    assert fa != fb
    # identical transformations over different files still differ
    ta = plan_fingerprint(spark.read.parquet(pa).filter("src > 2"))
    tb = plan_fingerprint(spark.read.parquet(pb).filter("src > 2"))
    assert ta != tb
    # ... and the same file re-read fingerprints identically
    assert plan_fingerprint(spark.read.parquet(pa)) == fa
