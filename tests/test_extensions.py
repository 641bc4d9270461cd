"""Tests for the training-data pipeline extensions (dedup, similarity,
multimodal, streaming) — the properties the DuckDB oracle can't check:
IVF recall vs the exact baseline, LSH near-dup detection, streaming
exactly-once, Arrow batch plumbing."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from seqdatapipeline_spark.extensions import dedup as dd
from seqdatapipeline_spark.extensions import multimodal as mm
from seqdatapipeline_spark.extensions import similarity as sim
from seqdatapipeline_spark.extensions import textstats as tx
from seqdatapipeline_spark.streaming import watch


# ---------------------------------------------------------------- similarity

def test_ivf_kmeans_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.query_id, r.neighbor_id) for r in sim.brute_topk_cosine(qs, emb, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk_cosine(qs, emb, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall} below 0.8"


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe == ncells must reproduce the exact baseline."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.query_id, r.neighbor_id) for r in sim.brute_topk_cosine(qs, emb, k=5).collect()}
    full = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk_cosine(qs, emb, k=5, nprobe=10, kmeans_k=10).collect()
    }
    assert full == exact


def test_kmeans_cells_deterministic(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    c1 = sorted(map(tuple, sim.kmeans_cells(emb, k=5, iters=2).collect()))
    c2 = sorted(map(tuple, sim.kmeans_cells(emb, k=5, iters=2).collect()))
    assert c1 == c2


# ---------------------------------------------------------------------- dedup

def _doc_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"


def test_minhash_lsh_finds_near_dup(spark):
    docs = _doc_df(
        spark,
        [
            (1, BASE),
            (2, BASE.replace("today", "tonight")),  # 1-word edit → near dup
            (3, "completely different words about spark dataframes and shuffles here now"),
        ],
    )
    pairs = {(r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_collapse_dispatch_is_adaptive(spark):
    """The exact-dup collapse on a content_hash-bearing corpus is
    gated on the measured duplication factor (r12: the collapse costs
    ~8 extra driver jobs and only pays under duplication —
    scripts/ab_lsh_curated.py). Both dispatch outcomes must return the
    plain pipeline's exact pair set."""
    from pyspark.sql import functions as F

    uniq = _doc_df(
        spark,
        [
            (1, BASE),
            (2, BASE.replace("today", "tonight")),
            (3, "completely different words about spark dataframes and shuffles here now"),
        ],
    )
    want = {(r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(uniq).collect()}

    hashed = uniq.withColumn("content_hash", F.md5("text"))
    dd._dup_stats_clear()
    got = {(r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(hashed).collect()}
    assert got == want
    # unique corpus → factor ~1.0 → the direct branch was dispatched
    (factor,) = [v for v in dd._DUP_STATS_MEMO.values()]
    assert factor < 1.25

    # mass duplication: every text x3 → factor ~3 → collapse branch;
    # the fan-out recovery must reproduce the uncollapsed pair set.
    dup = uniq.union(
        uniq.withColumn("doc_id", F.col("doc_id") + 10)
    ).union(uniq.withColumn("doc_id", F.col("doc_id") + 20))
    want_dup = {(r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(dup).collect()}
    dup_hashed = dup.withColumn("content_hash", F.md5("text"))
    dd._dup_stats_clear()
    got_dup = {
        (r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(dup_hashed).collect()
    }
    assert got_dup == want_dup
    (factor_dup,) = [v for v in dd._DUP_STATS_MEMO.values()]
    assert factor_dup >= 1.25
    # the stat memoizes per (session, plan): a second call is a dict hit
    assert dd._duplication_factor(dup_hashed.select("doc_id", "text", "content_hash"), "content_hash") >= 1.25
    dd._dup_stats_clear()
    assert not dd._DUP_STATS_MEMO


def test_lsh_max_bucket_drops_mega_buckets(spark):
    # 6 identical docs share every band → bucket of 6; cap at 5 kills it.
    docs = _doc_df(spark, [(i, BASE) for i in range(6)])
    sig = dd.minhash_signature(docs)
    uncapped = dd.lsh_candidate_pairs(sig).count()
    capped = dd.lsh_candidate_pairs(sig, max_bucket=5).count()
    assert uncapped == 15 and capped == 0


def _sig_df(spark, rows):
    """Hand-built signature rows (doc_id, mh0..mh11) — direct control
    over band structure, bypassing minhash_signature."""
    cols = "doc_id long, " + ", ".join(f"mh{j} long" for j in range(12))
    return spark.createDataFrame(rows, cols)


def test_lsh_max_bucket_bounds_combined_band_fanout(spark):
    """ADVICE r6: a band with S signatures x m copies (S, m <= cap but
    S*m > cap) must be dropped — max_bucket caps the DOC-level band
    population, not the two axes independently."""
    # 3 distinct signatures, identical in band 0 (mh0, mh1), unique
    # elsewhere; 3 docs per signature -> band-0 population 9.
    rows = []
    for s in range(3):
        sig = [7, 7] + [100 * s + j for j in range(10)]
        for c in range(3):
            rows.append(tuple([s * 10 + c] + sig))
    sig = _sig_df(spark, rows)
    uncapped = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(sig).collect()}
    assert len(uncapped) == 36  # C(9,2): all docs collide via band 0
    capped = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(sig, max_bucket=5).collect()}
    # Cross-signature pairs ride only the mega band 0 -> dropped; the
    # within-group pairs survive via each signature's 5 private bands.
    assert capped == {p for p in uncapped if p[0] // 10 == p[1] // 10}
    assert len(capped) == 9


def test_lsh_max_bucket_drops_same_sig_pairs_when_all_bands_mega(spark):
    """Identical docs whose EVERY band is over the cap get no pairs,
    matching the pre-collapse doc-level semantics."""
    rows = []
    sig_a = [5] * 12
    sig_b = [5] * 12; sig_b[11] = 6  # shares bands 0-4 with sig_a
    for c in range(2):
        rows.append(tuple([c] + sig_a))
    for c in range(4):
        rows.append(tuple([10 + c] + sig_b))
    sig = _sig_df(spark, rows)
    # Bands 0-4 hold both groups (population 6); band 5 splits 2 vs 4.
    capped = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(sig, max_bucket=5).collect()}
    # sig_a's band-5 bucket (population 2) and sig_b's (population 4)
    # survive -> within-group pairs only.
    assert capped == {(0, 1), (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)}
    tight = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(sig, max_bucket=3).collect()}
    # cap 3: sig_b's multiplicity 4 > cap -> gone entirely; sig_a's
    # band-5 bucket (population 2) still carries its within pair.
    assert tight == {(0, 1)}


def test_simhash_pairs_close_docs(spark):
    docs = _doc_df(
        spark,
        [
            (1, BASE),
            (2, BASE + " extra"),
            (3, "zzz qqq vvv www uuu ttt sss rrr"),
        ],
    )
    sig = dd.simhash_signature(docs)
    pairs = {(r.doc_a, r.doc_b) for r in dd.simhash_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs


def test_exact_dedup_counts(spark):
    docs = _doc_df(spark, [(1, "aa"), (2, "aa"), (3, "bb")])
    got = {r.keep_id: r.n_dups for r in dd.exact_dedup_groups(docs).collect()}
    assert got == {1: 2, 3: 1}


# ----------------------------------------------------------------- multimodal

def test_decode_media_stub_gate(spark):
    media = mm.to_media(_doc_df(spark, [(1, "abc")]), "doc_id", "text")
    if mm._pil_available():
        pytest.skip("Pillow installed: the real path runs instead of the gate")
    with pytest.raises(NotImplementedError):
        mm.decode_media(media)  # real codecs absent → explicit stub


@pytest.mark.skipif(not mm._pil_available(), reason="Pillow not installed")
def test_decode_media_real_pil_path(spark):
    """When Pillow IS importable, fake=False decodes real image bytes:
    a 4x2 solid-red PNG must featurize to [w, h, channels, R, G, B]."""
    from io import BytesIO

    from PIL import Image

    buf = BytesIO()
    Image.new("RGB", (4, 2), (255, 0, 0)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, "image", buf.getvalue(), {})],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    row = mm.decode_media(df).collect()[0]
    assert row.features[:3] == [4.0, 2.0, 3.0]
    assert abs(row.features[3] - 1.0) < 1e-6 and row.features[4] == 0.0

    resized = mm.resize_media(df, target_bytes=2).collect()[0]
    with Image.open(BytesIO(bytes(resized.payload))) as im:
        assert max(im.size) <= 2


def test_decode_media_fake_features(spark):
    media = mm.to_media(_doc_df(spark, [(1, "abc"), (2, "")]), "doc_id", "text")
    rows = {r.media_id: r for r in mm.decode_media(media, fake=True).collect()}
    assert rows[1].n_bytes == 3 and len(rows[1].features) == 8
    assert abs(sum(rows[1].features) - 1.0) < 1e-9  # histogram sums to 1
    assert rows[2].n_bytes == 0 and rows[2].features == [0.0] * 8


def test_frame_sample_rows(spark):
    media = mm.to_media(_doc_df(spark, [(1, "x" * 200)]), "doc_id", "text")
    frames = mm.frame_sample(media, every_n_bytes=64).collect()
    assert len(frames) == 3  # 200 // 64
    assert [f.frame_no for f in frames] == [0, 1, 2]


# ------------------------------------------------------------------ streaming

def test_dir_poll_stream_glob_and_exactly_once(spark):
    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "inbox"), os.path.join(tmp, "ckpt")
    os.makedirs(inbox)
    try:
        with open(os.path.join(inbox, "1job.txt"), "w") as f:
            f.write("alpha\n")
        with open(os.path.join(inbox, "notes.txt"), "w") as f:
            f.write("ignored\n")  # fails ^[0-9] glob

        seen: list[list] = []

        def collect_batch(df, _epoch):
            seen.append([r.value for r in df.select("value").collect()])

        stream = watch.dir_poll_stream(spark, inbox)
        watch.run_batches(stream, collect_batch, checkpoint=ckpt, once=True)
        assert [v for b in seen for v in b] == ["alpha"]

        # second drain with the same checkpoint: nothing reprocessed,
        # only the new file arrives (the @-rename guard, natively).
        with open(os.path.join(inbox, "2job.txt"), "w") as f:
            f.write("beta\n")
        watch.run_batches(stream, collect_batch, checkpoint=ckpt, once=True)
        assert [v for b in seen for v in b] == ["alpha", "beta"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_event_counts_semantics(spark):
    # Batch-mode check of the streaming aggregation expression.
    rows = [
        ("2026-01-01 10:01:00", "click", 1.0),
        ("2026-01-01 10:04:00", "click", 2.0),
        ("2026-01-01 10:11:00", "click", 4.0),
    ]
    df = spark.createDataFrame(rows, "ts string, event_type string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r.window.start.minute, r.n, r.total_value)
        for r in watch.windowed_event_counts(df, window_len="10 minutes").collect()
    }
    assert out == {(0, 2, 3.0), (10, 1, 4.0)}


def test_brute_topk_strategies_agree(spark, sf_dir):
    """The jvm and arrow physical paths of brute_topk_cosine must
    return identical rows (same rounding, same tie-break)."""
    from seqdatapipeline_spark.extensions import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    a = sim.brute_topk_cosine(queries, emb, k=5, strategy="jvm")
    b = sim.brute_topk_cosine(queries, emb, k=5, strategy="arrow")
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b


def test_pack_sequences_partitions_docs_exactly_once(spark, sf_dir):
    """Packing covers every doc exactly once, bins are id-contiguous
    within a shard, and fills are positive and bounded by
    budget + max_doc (concat-and-chunk semantics)."""
    from seqdatapipeline_spark.extensions import corpus as cp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cp.pack_sequences(docs, budget=128, n_shards=4).collect()
    assert len(out) == docs.count()
    assert len({r["doc_id"] for r in out}) == len(out)
    budget = 128
    max_doc = max(min(r["n_tokens"], budget) for r in out)
    by_bin = {}
    for r in out:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for rows in by_bin.values():
        fill = rows[0]["bin_fill"]
        assert fill == sum(min(r["n_tokens"], budget) for r in rows)
        assert 0 < fill < budget + max_doc
    # bins within a shard cover contiguous id ranges
    for rows in by_bin.values():
        shard_rows = sorted(r["doc_id"] for r in rows)
        others = [
            r["doc_id"]
            for r in out
            if r["shard"] == rows[0]["shard"] and r["bin_id"] != rows[0]["bin_id"]
        ]
        assert not any(shard_rows[0] < o < shard_rows[-1] for o in others)


def test_stratified_sample_is_monotone_and_deterministic(spark, sf_dir):
    """Lowering a stratum's rate yields a subset; equal calls yield
    identical rows (hash-gated, not partition-dependent)."""
    from seqdatapipeline_spark.extensions import corpus as cp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo = {r["doc_id"] for r in cp.stratified_sample(docs, "lang", {"en": 0.2}).collect()}
    hi = {r["doc_id"] for r in cp.stratified_sample(docs, "lang", {"en": 0.6}).collect()}
    again = {r["doc_id"] for r in cp.stratified_sample(docs, "lang", {"en": 0.6}).collect()}
    assert lo <= hi
    assert hi == again
    langs = {r["lang"] for r in cp.stratified_sample(docs, "lang", {"en": 1.0}).collect()}
    assert langs == {"en"}  # default_rate=0 drops other strata


def test_vocab_top_terms_matches_local_counter(spark, sf_dir):
    from collections import Counter

    from seqdatapipeline_spark.extensions import corpus as cp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = [(r["token"], r["n"]) for r in cp.vocab_top_terms(docs, top_n=10).collect()]
    c = Counter()
    for r in docs.select("text").collect():
        c.update(r["text"].split(" "))
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == want


def test_resize_media_stub_gates_real_codecs(spark, sf_dir):
    """resize_media must refuse to pretend: the codec-less environment
    raises unless the deterministic stand-in is requested explicitly,
    and the fake path truncates payloads with recomputed sizes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = mm.to_media(docs, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        mm.resize_media(media, fake=False).collect()
    out = mm.resize_media(media, target_bytes=16, fake=True).collect()
    assert len(out) == 20
    assert all(r["n_bytes"] <= 16 and len(r["payload"]) == r["n_bytes"] for r in out)


def test_mix_resample_repetition_semantics(spark):
    """Rate 2.3 gives every row epoch 1..2 plus a 30%-gated 3rd; rate
    0.5 gives 0 or 1 copies; default 1.0 exactly one; epochs are
    contiguous from 1."""
    from seqdatapipeline_spark.extensions import corpus as cp

    rows = [(i, "de" if i % 3 == 0 else ("en" if i % 3 == 1 else "fr")) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = cp.mix_resample(df, "lang", {"de": 2.3, "en": 0.5}, default_rate=1.0)
    per_doc = {
        (r.doc_id, r.lang): r.n
        for r in out.groupBy("doc_id", "lang").agg(F.count("*").alias("n")).collect()
    }
    de = [n for (_, l), n in per_doc.items() if l == "de"]
    en = [n for (_, l), n in per_doc.items() if l == "en"]
    fr = [n for (_, l), n in per_doc.items() if l == "fr"]
    assert set(de) <= {2, 3} and 2 in de
    assert set(en) == {1}  # dropped rows never appear in the groupBy
    assert set(fr) == {1}
    # roughly 30% of de docs get the third epoch (100 docs, wide band)
    frac3 = sum(1 for n in de if n == 3) / len(de)
    assert 0.1 < frac3 < 0.5
    # en kept-fraction ~0.5 of 100
    assert 25 < len(en) < 75
    # epochs contiguous from 1
    sample = out.filter(F.col("lang") == "de").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("epoch")).alias("eps")
    ).limit(5).collect()
    for r in sample:
        assert r.eps == list(range(1, len(r.eps) + 1))


def test_scrub_pii_hits(spark):
    from seqdatapipeline_spark.extensions import textstats as tx

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "server at 192.168.1.254 down"),
            (3, "call +1 (555) 867-5309 today"),
            (4, "clean text stays clean"),
            (5, "two ids: a@b.io and c@d.org"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.scrubbed for r in tx.scrub_pii(df).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "server at <IP> down"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "clean text stays clean"
    assert got[5] == "two ids: <EMAIL> and <EMAIL>"


def test_repetition_metrics_values(spark):
    from seqdatapipeline_spark.extensions import textstats as tx

    df = spark.createDataFrame(
        [
            (1, "spam spam spam ham"),          # top ratio 3/4
            (2, "a\nb\na\na"),                  # 4 lines, 2 distinct -> dup 0.5
            (3, "all words differ here"),       # top ratio 1/4, no dup lines
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.top_word_ratio, r.dup_line_frac)
        for r in tx.repetition_metrics(df).collect()
    }
    assert got[1] == (4, 0.75, 0.0)
    assert got[2][2] == 0.5
    assert got[3] == (4, 0.25, 0.0)


def test_kmv_sketch_merges(spark):
    """KMV partials must merge losslessly: the global top-k of the
    union of per-day top-k hash sets equals the top-k over all data —
    so a daily sketch cascade gives the identical estimate."""
    from seqdatapipeline_spark.ops import aggregates as agg

    rows = [("d1" if i % 2 else "d2", f"u{i % 500}") for i in range(3000)]
    df = spark.createDataFrame(rows, "day string, v string")
    direct = agg.approx_ndv_kmv(
        df.select(F.lit("all").alias("g"), "v"), ["g"], "v", k=64
    ).collect()[0].ndv_est
    partials = agg.kmv_partial(df.withColumn("g", F.lit("all")), ["day", "g"], "v", k=64)
    merged = agg.kmv_merge(partials, ["g"], k=64).collect()[0].ndv_est
    assert merged == direct
    # and the estimate is in the right neighborhood of the 500 truth
    assert abs(direct - 500) / 500 < 0.5


def test_l2_normalize_unit_norm(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.5, 0.0])], "vec_id long, embedding array<double>")
    got = {r.vec_id: r.unit_vec for r in sim.l2_normalize(df).collect()}
    assert got[1] == [0.6, 0.8]
    assert got[2] == [1.0, 0.0]


def test_quantize_int8_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in sim.quantize_int8(df).collect()}
    assert rows[1].qvec == [127, -64, 32]  # scale = 1/127
    assert max(abs(q) for q in rows[1].qvec) == 127
    # dequantized max error is bounded by scale/2
    scale = rows[1].scale
    deq = [q * scale for q in rows[1].qvec]
    assert all(abs(a - b) <= scale / 2 + 1e-9 for a, b in zip(deq, [1.0, -0.5, 0.25]))
    assert rows[2].qvec == [0, 0, 0] and rows[2].scale == 0.0


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing a 4-gram with the bench set is flagged with
    the right distinct-overlap count; clean docs are absent."""
    from seqdatapipeline_spark.extensions import corpus as cp

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # shares two distinct bench 4-grams (positions 1-4 and 2-5)
            (1, "alpha beta gamma delta epsilon zeta"),
            # shares zero 4-grams (only a 3-gram overlap)
            (2, "beta gamma delta xxx yyy zzz www"),
            (3, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_shared for r in cp.decontaminate(train, bench, n=4).collect()}
    assert got == {1: 2}


def test_shuffle_shards_is_permutation_and_seed_sensitive(spark, sf_dir):
    """Every doc appears exactly once, pos is dense 1..N per shard,
    and a different seed draws a different permutation while the same
    seed reproduces exactly."""
    from seqdatapipeline_spark.extensions import corpus as cp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    a = cp.shuffle_shards(docs, "doc_id", n_shards=8, seed="42").collect()
    assert len(a) == n and len({r.doc_id for r in a}) == n
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = cp.shuffle_shards(docs, "doc_id", n_shards=8, seed="42").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, again))
    other = cp.shuffle_shards(docs, "doc_id", n_shards=8, seed="7").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, other))


def test_quality_gate_finds_planted_violations(spark):
    """Planted orphans, duplicate keys, and range breaches are each
    counted by their rule; clean rules report zero; null FKs are not
    orphans (SQL FK semantics)."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.ops import quality as dq

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None)], "id long, fk long"
    )
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
    got = {
        r.rule: r.n_violations
        for r in dq.dq_counts(
            {
                "fk": dq.fk_orphans(child, parent, "fk", "pk"),
                "pk": dq.pk_duplicates(dup, ["k"]),
                "rng": child.filter(F.col("id") > 100),
            }
        ).collect()
    }
    assert got == {"fk": 1, "pk": 1, "rng": 0}


def test_table_profile_stats(spark):
    """Profile of a toy table: nulls, exact NDV, numeric vs string
    min/max routing."""
    from seqdatapipeline_spark.ops import quality as dq

    df = spark.createDataFrame(
        [(1, "b"), (2, None), (2, "a")], "x long, s string"
    )
    rows = {r.col_name: r for r in dq.table_profile(df, ["x"], ["s"]).collect()}
    x, s = rows["x"], rows["s"]
    assert (x.n, x.n_null, x.ndv, x.min_num, x.max_num) == (3, 0, 2, 1.0, 2.0)
    assert (x.min_str, x.max_str) == (None, None)
    assert (s.n, s.n_null, s.ndv, s.min_str, s.max_str) == (3, 1, 2, "a", "b")
    assert (s.min_num, s.max_num) == (None, None)


def test_fuzzy_match_blocked_pairs(spark):
    """Within-block pairs at edit distance <= 1 are found; cross-block
    near-identical names are (deliberately) not compared."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "smith"),
            (2, "smyth"),   # dist 1, same block 's'
            (3, "smithe"),  # dist 1 from smith, same block
            (4, "zmith"),   # dist 1 from smith but block 'z' — never compared
            (5, "stone"),   # same block, dist > 1 from all
            (6, "smith"),   # exact duplicate of 1: dist-0 within pair
                            # plus fan-out to smyth/smithe
        ],
        "id long, name string",
    )
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in dd.fuzzy_match_pairs(
            df, "id", "name", block=F.substring("name", 1, 1), max_dist=1
        ).collect()
    }
    assert pairs == {
        (1, 2): 1,
        (1, 3): 1,
        (1, 6): 0,
        (2, 6): 1,
        (3, 6): 1,
    }
    # Degenerate max_dist < 0 admits nothing — including exact
    # duplicates, whose within-group fan-out previously emitted dist=0
    # pairs unconditionally.
    assert (
        dd.fuzzy_match_pairs(
            df, "id", "name", block=F.substring("name", 1, 1), max_dist=-1
        ).count()
        == 0
    )


def test_cooccurrence_counts_and_heavy_cap(spark):
    """Pair counts match the by-hand matrix; duplicate events don't
    double-count; a group over the cap contributes nothing."""
    from seqdatapipeline_spark.ops import aggregates as agg

    df = spark.createDataFrame(
        [
            ("u1", "a"), ("u1", "b"), ("u1", "b"),  # dup (u1,b) ignored
            ("u2", "a"), ("u2", "b"), ("u2", "c"),
            ("u3", "a"), ("u3", "b"), ("u3", "c"), ("u3", "d"),  # capped out
        ],
        "user string, item string",
    )
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in agg.cooccurrence_counts(df, "user", "item", max_group=3).collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_mixture_weights_flatten_and_normalize(spark):
    """alpha=0.5 pulls weights toward uniform relative to shares, and
    both columns sum to 1."""
    from seqdatapipeline_spark.extensions import corpus as cp

    df = spark.createDataFrame(
        [("big", "w " * 99 + "w"), ("small", "w")], "source string, text string"
    )
    rows = {r.source: r for r in cp.mixture_weights(df, "source", alpha=0.5).collect()}
    assert rows["big"].n_tokens == 100 and rows["small"].n_tokens == 1
    assert abs(rows["big"].share + rows["small"].share - 1.0) < 1e-9
    assert abs(rows["big"].weight + rows["small"].weight - 1.0) < 1e-9
    # flattening: the scarce source is upweighted relative to its share
    assert rows["small"].weight > rows["small"].share
    assert abs(rows["small"].weight - 1 / 11) < 1e-6  # 1 / (10 + 1)


def test_corr_matrix_known_correlations(spark):
    """Perfectly correlated, anti-correlated, and independent pairs
    produce 1, -1, and ~0 from a single-pass aggregate."""
    from seqdatapipeline_spark.ops import quality as dq

    df = spark.createDataFrame(
        [(float(i), 2.0 * i, -3.0 * i, float(i % 2)) for i in range(20)],
        "a double, b double, c double, d double",
    )
    got = {(r.col_a, r.col_b): r.corr for r in dq.corr_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert got[("a", "b")] == 1.0 and got[("a", "c")] == -1.0
    assert abs(got[("a", "d")]) < 0.2
    assert len(got) == 6


# ------------------------------------------------------- dedup reporting

def test_exact_dup_rate_per_source(spark):
    rows = [
        (1, "clean", "aaa bbb ccc"),
        (2, "clean", "ddd eee fff"),
        (3, "dirty", "same text here"),
        (4, "dirty", "same text here"),
        (5, "dirty", "same text here"),
        (6, "dirty", "unique text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in dd.exact_dup_rate(df).collect()}
    assert out["clean"].n_dup_rows == 0 and out["clean"].dup_rate == 0.0
    assert out["dirty"].n_docs == 4 and out["dirty"].n_dup_rows == 2
    assert out["dirty"].dup_rate == 0.5


def test_source_overlap_matrix_counts_band_pairs(spark):
    # three identical docs (identical signatures -> 6 shared bands):
    # sources a,a,b  =>  (a,a): C(2,2)=1 per band x6, (a,b): 2x1=2 per band x6
    text = "w0 w1 w2 w3 w4 w5 w6 w7"
    rows = [
        (1, "a", text),
        (2, "a", text),
        (3, "b", text),
        (4, "b", "completely different words entirely here now today friend"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.source_a, r.source_b): r.n_band_pairs for r in dd.source_overlap_matrix(df).collect()}
    assert out[("a", "a")] == 6
    assert out[("a", "b")] == 12
    # doc 4 shares no shingles -> contributes no collisions with anyone
    assert out.get(("b", "b"), 0) == 0


# --------------------------------------------------------- label_centroids

def test_label_centroids_per_dimension_mean(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [3.0, 2.0], 0),
        (3, [10.0, 10.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r.label, r.dim): r for r in sim.label_centroids(df).collect()}
    assert out[(0, 0)].centroid == 2.0 and out[(0, 1)].centroid == 1.0
    assert out[(0, 0)].n_vectors == 2
    assert out[(1, 0)].centroid == 10.0 and out[(1, 1)].n_vectors == 1


def test_minhash_estimate_tracks_true_jaccard(spark):
    # identical docs: estimate and truth both exactly 1.0
    text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    near = "t0 t1 t2 t3 t4 t5 t6 t7 t8 zz"
    rows = [(1, text), (2, text), (3, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r for r in dd.minhash_estimate_pairs(df).collect()}
    assert out[(1, 2)].est_jaccard == 1.0 and out[(1, 2)].true_jaccard == 1.0
    assert out[(1, 2)].abs_err == 0.0
    if (1, 3) in out:  # near-dup pair surfaces only if a band collides
        r = out[(1, 3)]
        # 8 shingles each, 7 shared -> J = 7/9
        assert abs(r.true_jaccard - 7 / 9) < 1e-6
        assert 0.0 <= r.est_jaccard <= 1.0


def test_simhash_hamming_exact_distance_and_pigeonhole(spark):
    # identical docs -> hamming 0; disjoint-vocab docs -> far apart
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "alpha beta gamma delta epsilon eta"
    rows = [(1, t1), (2, t1), (3, t2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.hamming for r in
           dd.simhash_hamming_pairs(df, max_hamming=16).collect()}
    assert out[(1, 2)] == 0
    # pigeonhole: every pair within max_hamming=3 must be generated by
    # banding (no false negatives) — verify vs brute force signatures
    sig = {r.doc_id: r.simhash for r in
           dd.simhash_signature(df).collect()}
    for (a, b), h in out.items():
        brute = sum(x != y for x, y in zip(sig[a], sig[b]))
        assert h == brute


def test_lm_doc_score_prefers_in_distribution_text(spark):
    # corpus dominated by "a b" bigrams; the odd doc pays in log-prob
    rows = [(i, "a b a b a b") for i in range(10)] + [(99, "q r q r q r")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lm_score for r in tx.lm_doc_score(df).collect()}
    assert out[0] > out[99]
    # single-token docs carry no bigram and are excluded
    df2 = spark.createDataFrame([(1, "solo"), (2, "a b")], "doc_id long, text string")
    assert {r.doc_id for r in tx.lm_doc_score(df2).collect()} == {2}


def test_srp_finds_constructed_near_dups(spark):
    import random

    rnd = random.Random(7)
    base = [rnd.gauss(0, 1) for _ in range(64)]
    near = [x + rnd.gauss(0, 0.05) for x in base]  # cos ~0.999
    noise = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = [(1, base), (2, near)] + [(10 + i, v) for i, v in enumerate(noise)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.vec_a, r.vec_b): r.cos for r in
           dd.srp_near_dup_pairs(df, bits=24, band_bits=6, threshold=0.9).collect()}
    # a 0.999-cosine pair agrees on ~23.7/24 SRP bits in expectation;
    # missing all 4 bands is vanishingly unlikely
    assert (1, 2) in out and out[(1, 2)] > 0.99


_VECTOR_PATHS = {
    # srp has no block column: id 5 (v1 in block b) joins the v1 group.
    "embedding": (
        lambda df, t: dd.embedding_near_dup_pairs(df, block_col="label", threshold=t),
        {(1, 2), (1, 3), (2, 3)},
    ),
    "srp": (
        lambda df, t: dd.srp_near_dup_pairs(df, band_bits=4, threshold=t),
        {(1, 2), (1, 3), (2, 3), (1, 5), (2, 5), (3, 5)},
    ),
}


@pytest.mark.parametrize("path", sorted(_VECTOR_PATHS))
def test_embedding_near_dup_collapse_branches(spark, path):
    """The distinct-vector collapse must reproduce the uncollapsed
    semantics: exact-duplicate vectors pair at cos 1.0 (within-group
    fan-out), duplicates of a matched vector inherit the
    representative pair's cosine (cross-group fan-out), zero vectors
    never pair (NaN cosine), and different blocks never compare."""
    pairs, want = _VECTOR_PATHS[path]
    v1 = [1.0] + [0.0] * 63
    v2 = [1.0, 0.2] + [0.0] * 62          # cos(v1,v2) ~ 0.9806
    v3 = [0.0] * 63 + [1.0]               # orthogonal to v1/v2
    z = [0.0] * 64
    rows = [
        (1, "a", v1), (2, "a", v1),        # dup group in block a
        (3, "a", v2),                       # near-dup of the group
        (4, "a", v3),                       # below threshold
        (5, "b", v1),                       # same vector, other block
        (6, "a", z), (7, "a", z),           # zero vectors: never pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    out = {(r.vec_a, r.vec_b): r.cos for r in pairs(df, 0.5).collect()}
    assert set(out) == want
    assert all(out[p] == 1.0 for p in want if 3 not in p)
    assert out[(1, 3)] == out[(2, 3)] and 0.97 < out[(1, 3)] < 0.99
    # Degenerate threshold > 1.0 admits nothing — cos caps at 1.0, so
    # the within-group cos=1.0 fan-out must be gated too.
    assert pairs(df, 1.1).count() == 0


def test_setsim_collapsed_degenerate_threshold(spark):
    """threshold > 1.0 admits nothing (Jaccard caps at 1.0): the
    within-group jaccard=1.0 fan-out must be gated like the
    uncollapsed verify filter."""
    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dd.setsim_prefix_join_collapsed(df, threshold=1.1).count() == 0
    assert dd.setsim_prefix_join_collapsed(df, threshold=1.0).count() == 3


def test_srp_signature_is_deterministic_and_balanced(spark):
    rows = [(i, [float((i * 7 + d) % 13 - 6) for d in range(64)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {r.vec_id: r.srp for r in dd.srp_signature(df).collect()}
    b = {r.vec_id: r.srp for r in dd.srp_signature(df.repartition(7)).collect()}
    assert a == b  # partition-layout independent
    assert all(len(s) == 24 and set(s) <= {"0", "1"} for s in a.values())


def test_span_dedup_c4_semantics(spark):
    """Doc 20 repeats doc 10's first 5-word span; only its own novel
    span survives, and the shared span stays with the lower doc id."""
    shared = "alpha beta gamma delta epsilon"
    novel = "zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(10, shared), (20, f"{shared} {novel}")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dd.span_dedup(df, k=5).collect()}
    assert out[10].n_spans == 1 and out[10].n_spans_kept == 1
    assert out[10].clean_text == shared
    assert out[20].n_spans == 2 and out[20].n_spans_kept == 1
    assert out[20].clean_text == novel


def test_stream_span_dedup_cross_batch(spark, tmp_path):
    """A span first seen in batch 1 must be dropped when batch 2
    repeats it — the store carries first-occurrence across batches."""
    from seqdatapipeline_spark.streaming import neardup as nd

    shared = "alpha beta gamma delta epsilon"
    novel = "zeta eta theta iota kappa"
    state = str(tmp_path / "spans")
    b1 = _doc_df(spark, [(1, shared)])
    b2 = _doc_df(spark, [(2, f"{shared} {novel}")])
    out1 = {r.doc_id: r for r in nd.merge_span_store(b1, state).collect()}
    out2 = {r.doc_id: r for r in nd.merge_span_store(b2, state).collect()}
    assert out1[1].n_spans_kept == 1 and out1[1].clean_text == shared
    assert out2[2].n_spans == 2 and out2[2].n_spans_kept == 1
    assert out2[2].clean_text == novel


def test_pca_project_invariants(spark, sf_dir):
    """pca_project must behave like a real PCA: deterministic across
    runs (sign convention), and per-component projected variance
    descending and matching the covariance model's eigenvalues."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    k = 4
    p1 = {r[0]: list(r[1]) for r in sim.pca_project(emb, k=k).collect()}
    p2 = {r[0]: list(r[1]) for r in sim.pca_project(emb, k=k).collect()}
    assert p1 == p2  # deterministic incl. eigenvector signs

    proj = np.array([p1[i] for i in sorted(p1)])
    var = proj.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))  # descending

    cov_rows = sim.embedding_covariance(emb, ndigits=12).collect()
    dims = max(r.dim_i for r in cov_rows) + 1
    cov = np.zeros((dims, dims))
    for r in cov_rows:
        cov[r.dim_i, r.dim_j] = r.cov
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:k]
    assert np.allclose(np.sort(var)[::-1], evals, rtol=1e-4, atol=1e-8)


def test_curated_collapse_short_and_empty_text_parity(spark, tmp_path):
    """Curated-vs-plain parity on the adversarial corpus the generated
    tables may not contain: duplicated sub-shingle texts (< 3 words,
    empty string) alongside real near-dup groups. Empty-shingle docs
    have no bands and undefined Jaccard — they must vanish from pair
    lists and cluster labelings identically on both paths."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.io import layout as lay

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog today"),
        (3, ""),
        (4, ""),
        (5, "two words"),
        (6, "two words"),
        (7, "completely different text about spark physical plans"),
    ]
    sf = str(tmp_path / "sfx")
    import os

    os.makedirs(sf, exist_ok=True)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    plain_docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    plain_pairs = set(map(tuple, dd.minhash_dedup_pairs(plain_docs).collect()))
    sig = dd.minhash_signature(plain_docs, num_hashes=12, shingle_n=3)
    inc = dd.lsh_band_incidence(sig, num_hashes=12, band_size=2)
    plain_cc = set(
        map(tuple, dd.connected_components(inc, node_col="doc_id", key_col="band_key").collect())
    )

    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    try:
        lay.write_curated_bucketed(
            plain_docs.withColumn("content_hash", F.md5("text")),
            name,
            "content_hash",
            n_buckets=4,
        )
        cur = spark.table(name)
        assert set(map(tuple, dd.minhash_dedup_pairs(cur).collect())) == plain_pairs
        # the registry's curated clusters branch, replicated here on
        # the fixture corpus
        groups, members = dd.collapse_exact_text(cur, "doc_id", "text", 3)
        reps = groups.select(F.col("__rep").alias("doc_id"), "text")
        rsig = dd.minhash_signature(reps, num_hashes=12, shingle_n=3)
        rcc = dd.connected_components(
            dd.lsh_band_incidence(rsig, num_hashes=12, band_size=2),
            node_col="doc_id",
            key_col="band_key",
        ).select(F.col("doc_id").alias("__ccrep"), "cluster_id")
        got = set(
            map(
                tuple,
                members.join(rcc, members["__rep"] == rcc["__ccrep"])
                .select(members["doc_id"], rcc["cluster_id"])
                .collect(),
            )
        )
        assert got == plain_cc, (got, plain_cc)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_adversarial_corpus_no_ansi_crashes(spark, tmp_path):
    """Spark 4 runs with ANSI enabled, where ANY division by zero
    throws mid-job. Empty/whitespace texts and zero-norm embeddings —
    guaranteed to exist in a real crawl corpus — must produce rows,
    not DIVIDE_BY_ZERO (r8 found five such latent crashes:
    punct_ratio on empty text, the datacard's inline quality blend,
    l2_normalize, and cosine on zero vectors). NULL ratios are the
    contract: DuckDB's /0 is NULL and least() skips NULLs in both
    engines."""
    import os

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    src = "/root/testdata/sf0.001"
    adv = str(tmp_path / "adv")
    os.makedirs(adv, exist_ok=True)
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ]:
        os.symlink(os.path.join(src, f"{t}.parquet"), os.path.join(adv, f"{t}.parquet"))
    docs = spark.read.parquet(f"{src}/documents.parquet")
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
        .when(F.col("doc_id") % 4 == 1, F.lit("word"))
        .when(F.col("doc_id") % 4 == 2, F.lit("  "))
        .otherwise(F.col("text")),
    ).write.mode("overwrite").parquet(f"{adv}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 == 0, F.array(*[F.lit(0.0).cast("float")] * dim)
        ).otherwise(F.col("embedding")),
    ).write.mode("overwrite").parquet(f"{adv}/embeddings.parquet")

    qs = entrymod.queries()
    probe = [
        "text_quality_score", "corpus_prepare", "corpus_datacard",
        "quality_percentile_by_source", "embedding_normalize",
        "quality_features_vector", "dsir_importance_weights",
        "ann_topk_cosine", "ann_ivf_topk", "semdedup_prune", "knn_graph",
        "dedup_minhash_lsh", "setsim_prefix_join", "token_entropy",
        "tokenizer_fertility", "clean_text", "lang_id_ngram_model",
    ]
    for name in probe:
        qs[name](spark, adv).limit(10000).collect()  # must not raise


def test_adversarial_corpus_nulls_no_crashes(spark, tmp_path):
    """The NULL twin of the ANSI test: a crawl corpus carries NULL
    payload cells (text, lang, source, embedding, label, value,
    props), and every operator must produce rows, not crash. r9's
    all-212 NULL sweep found seven latent failures in exactly two
    classes — NULL vectors reaching an np.stack inside a BLAS batch
    or a driver-side seed collect ("all input arrays must have the
    same shape" / "'NoneType' object is not iterable"), and
    format_string rendering a NULL argument as literal text that ANSI
    cast then explodes on ('nue+9'). The fixes drop NULL vectors at
    each operator's vector-projection entry (the SQL analog: any
    cosine/distance against NULL is NULL and never qualifies) and
    gate format_string + try_cast. This pins all seven plus the
    sci_notation format path."""
    import os

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    src = "/root/testdata/sf0.001"
    adv = str(tmp_path / "advn")
    os.makedirs(adv, exist_ok=True)
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem",
    ]:
        os.symlink(os.path.join(src, f"{t}.parquet"), os.path.join(adv, f"{t}.parquet"))
    docs = spark.read.parquet(f"{src}/documents.parquet")
    (
        docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string")).otherwise(
                F.col("lang")
            ),
        )
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 6 == 0, F.lit(None).cast("string")).otherwise(
                F.col("source")
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{adv}/documents.parquet")
    )
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    (
        emb.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % 9 == 0,
                F.lit(None).cast(emb.schema["embedding"].dataType),
            ).otherwise(F.col("embedding")),
        )
        .withColumn(
            "label",
            F.when(F.col("vec_id") % 8 == 0, F.lit(None).cast("string")).otherwise(
                F.col("label")
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{adv}/embeddings.parquet")
    )
    from seqdatapipeline_spark.registry import _t

    ev = _t(spark, src, "events")
    (
        ev.withColumn(
            "value",
            F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
                F.col("value")
            ),
        )
        .withColumn(
            "props",
            F.when(F.col("event_id") % 6 == 0, F.lit(None).cast("string")).otherwise(
                F.col("props")
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{adv}/events.parquet")
    )

    qs = entrymod.queries()
    probe = [
        # the seven r9 NULL-sweep failures
        "ann_ivf_topk", "dedup_embedding_clusters", "dedup_embedding_cosine",
        "embedding_covariance", "knn_graph", "sci_notation_num",
        "semdedup_prune",
        # neighbors in the same two classes, kept honest
        "kmeans_assign", "ivf_pq_topk", "embedding_normalize",
        "dedup_minhash_lsh", "text_quality_score", "lang_id_ngram_model",
    ]
    for name in probe:
        qs[name](spark, adv).limit(10000).collect()  # must not raise


def test_ann_family_null_vector_contract(spark):
    """ANN-family NULL contract (r11): NULL vectors are neither
    queries, candidates, seeds, nor encodable — every vector operator
    excludes them instead of ranking NULL cosines (which diverges
    across engines) or crashing an Arrow matrix build."""
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.extensions import similarity as sim

    dim = 4
    rows = [(i, [float(i + j) for j in range(dim)]) for i in range(1, 9)]
    rows += [(0, None), (9, None)]  # NULL query candidate + NULL corpus row
    emb = spark.createDataFrame(rows, f"vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    # brute: NULL query 0 emits no rows; NULL corpus 9 never a neighbor
    out = sim.brute_topk_cosine(queries, emb, k=3)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert all(q != 0 for q, _ in got)
    assert all(n != 9 and n != 0 for _, n in got)
    assert {q for q, _ in got} == {1, 2}
    # ivf (trained): same exclusions
    out2 = sim.ivf_topk_cosine(queries, emb, k=3, nprobe=2, kmeans_k=2)
    got2 = {(r.query_id, r.neighbor_id) for r in out2.collect()}
    assert all(q != 0 and n not in (0, 9) for q, n in got2)
    # nearest_centroid: NULL vectors unassigned
    cents = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [-1.0] * dim)], "cell int, centroid array<double>"
    )
    asg = sim.nearest_centroid(emb, cents)
    assert {r.vec_id for r in asg.collect()} == set(range(1, 9))
    # PQ build: NULL vectors neither seed nor encode
    *_, vassign, codes = sim.pq_ivf_build(emb, n_coarse=2, n_cents=2, n_subs=2, sub_dim=2)
    assert {r.vec_id for r in vassign.collect()} == set(range(1, 9))
    assert 0 not in {r.vec_id for r in codes.collect()}
    # SRP pairs: NULL vectors emit no pairs
    pairs = dd.srp_near_dup_pairs(emb, bits=8, band_bits=4, dims=dim, threshold=0.0)
    ids = {v for r in pairs.collect() for v in (r.vec_a, r.vec_b)}
    assert 0 not in ids and 9 not in ids
