"""Deduplication operators for large-scale training-data pipelines.

Scale contract (the non-negotiable at 100 TB): **no all-pairs
crossJoin anywhere**. Every near-dup variant reduces to
equi-join-on-bucket:

- exact:      groupBy(content hash)                — 1 shuffle
- minhash:    shingle → signature → LSH band keys  — equi-join on band
- simhash:    bitwise signature → band keys        — equi-join on band
- ngram:      candidate pairs from shared shingles — equi-join on shingle
- embedding:  coarse partition (label/IVF cell)    — equi-join on cell

Hashes are md5-based (lexicographic min over hex strings for minhash
permutations) so results are engine-portable and deterministic — no
dependence on Spark's murmur seed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import fan_out, ring_persist


def _bucket_pairs(keyed: DataFrame, id_col: str, bucket_col: str, max_bucket: int | None = None) -> DataFrame:
    """Distinct (a < b) pairs of ids sharing a bucket, generated
    **inside** each bucket from a sorted id array — one groupBy pass
    instead of a bucket self-join (which would compute the whole
    upstream signature pipeline twice; Spark has no automatic CTE reuse
    across self-join branches).

    ``max_bucket`` drops degenerate mega-buckets (a band shared by
    thousands of docs explodes quadratically); leave None to keep exact
    parity with a SQL self-join oracle."""
    ids = F.array_sort(F.collect_set(id_col))
    buckets = keyed.groupBy(bucket_col).agg(ids.alias("ids")).filter(F.size("ids") > 1)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def word_shingles_of(words: Column, n: int = 3) -> Column:
    """Distinct word n-grams over a pre-split word-array column.

    Use this form (with the split bound to a real column first) when
    the result feeds ``F.explode``: a Generate whose generator child
    embeds the split re-evaluates it per ``element_at`` — generators
    with lambda functions can't whole-stage-codegen and the
    interpreted path has no common-subexpression elimination —
    measured 3x slower at 32 partitions (23x on one) than referencing
    a bound attribute. Inside a codegen'd Project (non-explode
    callers) CSE handles it, so ``word_shingles`` below stays the
    convenient form.

    Docs with fewer than ``n`` words yield an EMPTY array: Spark's
    sequence(1, 0) auto-steps NEGATIVE ([1, 0]) instead of returning
    empty, and the grams it would build then element_at past the end
    of the word array (ANSI ArrayIndexOutOfBounds) — guard with an
    explicit emptiness branch."""
    cnt = (F.size(words) - (n - 1)).cast("int")
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(" ", *[F.element_at(words, i + k) for k in range(n)])
    return F.array_distinct(F.transform(idx, gram))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams via higher-order functions (JVM-side)."""
    return word_shingles_of(F.split(text, " "), n)


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content. Returns one row per
    distinct content with the kept (min) id and duplicate count.
    Map-side combine makes this a single cheap shuffle at any scale."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")
    )


def duplicate_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Soft dedup: keep every document but emit a loss weight 1/n for
    content appearing n times — the alternative to hard removal when
    duplicates carry signal (natural duplication correlates with
    quality/popularity) and the training objective should see each
    distinct content with total weight 1 regardless of copy count.

    Executed as a map-side-combinable groupBy on the content hash
    plus an equi-join back to attribute each doc its count — NOT a
    content-keyed window: viral content duplicated 10⁸ times would
    single-task a window partition, while the aggregate collapses hot
    hashes before the exchange. The join-back routes through
    ops.joins.skew_router_join, because AQE's skew splitter cannot
    help this groupBy→join-back shape (the aggregate between shuffle
    and join defeats OptimizeSkewedJoin's pattern — see that
    docstring): hashes whose count exceeds ``hot_threshold`` (the
    power-law head, model-sized by construction) broadcast and
    resolve map-side, so viral fact rows never hit the join exchange.
    The weight column rides next to the id so the training loader
    applies it without a second lookup."""
    from ..ops.joins import skew_router_join

    h = F.md5(F.col(text_col))
    counts = docs.groupBy(h.alias("__h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return skew_router_join(
        docs.select(F.col(id_col), h.alias("__h")),
        counts,
        "__h",
        "n_copies",
        hot_threshold=hot_threshold,
    ).select(
        F.col(id_col),
        F.col("n_copies"),
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """C4-style cross-corpus span deduplication (Raffel et al. 2020
    §2.2 removed any three-sentence span occurring more than once in
    the corpus): split every document into consecutive non-overlapping
    ``k``-word spans, keep only the globally FIRST occurrence of each
    distinct span (ordered by (doc_id, span_no) — deterministic), and
    reassemble each document from its surviving spans in order.

    Scale shape: explode is a narrow map; first-occurrence is a
    groupBy-min on the span hash, NOT a span-keyed window — a window
    would route every occurrence of a hot boilerplate span (the exact
    thing this step removes, 10⁸ copies at crawl scale) through one
    reducer task, while the hash-keyed aggregate collapses hot keys
    map-side before the exchange and its min-struct carries the
    surviving (doc, position, text) out directly, so no join back to
    the span stream is ever needed. Reassembly is one groupBy on doc
    id over the *distinct* spans; per-doc totals come from arithmetic
    on a second column-pruned scan (the price of skew immunity — an
    extra linear scan instead of an unbounded hot partition). Output
    per doc: n_spans, n_spans_kept, clean_text (empty when every span
    was seen earlier). NULL-text rows are excluded (text-family NULL
    contract: nothing to span; keeping them emitted phantom
    ''-span rows that no SQL oracle reproduces)."""
    docs = docs.filter(F.col(text_col).isNotNull())
    w = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(w) / F.lit(k)).cast("int")
    spans = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(F.slice(w, i * k + 1, k), " "),
            )
        ).alias("span_no", "span"),
    )
    kept = (
        spans.groupBy(F.md5(F.col("span")).alias("__h"))
        .agg(F.min(F.struct(F.col(id_col), F.col("span_no"), F.col("span"))).alias("__f"))
        .select(
            F.col(f"__f.{id_col}").alias(id_col),
            F.col("__f.span_no").alias("span_no"),
            F.col("__f.span").alias("span"),
        )
    )
    kept_by_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_no", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = docs.select(F.col(id_col), n_spans.cast("long").alias("n_spans"))
    return totals.join(kept_by_doc, id_col, "left").select(
        F.col(id_col),
        "n_spans",
        F.coalesce(F.col("n_spans_kept"), F.lit(0)).alias("n_spans_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# 56-bit modulus for double-hashed minhash: h1 + 11*h2 < 12*2^56 < 2^63,
# so the combination never overflows signed 64-bit in either engine.
MINHASH_MOD = 1 << 56


def minhash_signature(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 12, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures via Kirsch–Mitzenmacher double hashing:
    permutation j = min over shingles of (h1 + j*h2) mod 2^56, where
    h1/h2 are the two 56-bit halves of one md5 per shingle. One md5
    instead of `num_hashes` md5s per shingle — hashing is the dominant
    CPU cost of a minhash pass at corpus scale, and the K-M
    construction preserves the minhash collision property. One explode
    + one groupBy: the signature build is a single shuffle on doc id,
    and hex-digit arithmetic keeps both engines bit-identical (no
    murmur seed dependence)."""
    # Hash pairs per shingle, then all permutation minima in ONE
    # traversal — an aggregate fold whose accumulator is the
    # num_hashes-wide min array (transform's second lambda arg is the
    # permutation index). The signature build is a pure narrow
    # projection: no explode, no groupBy, ZERO shuffles (the former
    # explode+groupBy form shuffled |shingles| rows per doc), and the
    # single fold measures ~20% faster than num_hashes separate
    # array_min passes. The __hx / __hp / __sig intermediates live in
    # their own projections: CollapseProject's cheap-expression rule
    # keeps each evaluated once, not once per consumer (SPARK-36718).
    # Words bound to a column (word_shingles_of): interpreted HOF
    # lambdas get no CSE even inside a codegen'd Project, so an
    # inlined split(text) re-runs per element_at — which is also why
    # the md5 gets its OWN transform (__hx): referencing F.md5(s)
    # twice inside one lambda (h1 + h2 substrings) evaluates the
    # digest twice per shingle (measured ~11% of the signature stage
    # at sf0.1, pure waste at any scale).
    hx = F.transform(word_shingles_of(F.col("__w"), shingle_n), F.md5)
    hp = F.transform(
        F.col("__hx"),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 15, 14), 16, 10).cast("long").alias("h2"),
        ),
    )
    init = F.array(*[F.lit(1 << 62).cast("long")] * num_hashes)
    fold = F.aggregate(
        F.col("__hp"),
        init,
        lambda acc, h: F.transform(
            acc, lambda m, j: F.least(m, (h["h1"] + j.cast("long") * h["h2"]) % F.lit(MINHASH_MOD))
        ),
    )
    return (
        fan_out(docs, id_col)
        .withColumn("__w", F.split(F.col(text_col), " "))
        # A doc with fewer than shingle_n words has an EMPTY shingle
        # set: its minhash is undefined, and the SQL mirror (shingle
        # explode) drops it before the signature aggregate. Without
        # this filter every such doc would carry the identical
        # all-init sentinel signature and they would all band
        # together — a silent divergence AND a degenerate mega-bucket.
        .filter(F.size(F.col("__w")) >= F.lit(shingle_n))
        .select(F.col(id_col), hx.alias("__hx"))
        .select(F.col(id_col), hp.alias("__hp"))
        .select(F.col(id_col), fold.alias("__sig"))
        .select(
            F.col(id_col),
            *[F.element_at("__sig", j + 1).alias(f"mh{j}") for j in range(num_hashes)],
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: signature → band keys → group by band bucket →
    in-bucket (a < b) pair generation. No pair outside a shared
    bucket is ever materialized — this is what makes near-dup
    feasible at 100 TB. At real scale set ``max_bucket`` to drop
    degenerate mega-buckets (boilerplate bands shared by thousands of
    docs).

    Banding runs over DISTINCT signatures, doc-level pairs come back
    by fan-out (the simhash_candidate_pairs structure): identical
    texts have identical signatures, so doc-level buckets carry every
    duplicate copy and the in-bucket pair emission goes C(m,2) per
    m-copy group PER BAND — the r6 1000x replication (1000-member
    groups) is ~10^10 pre-distinct rows, while the signature universe
    stays corpus-shaped. One groupBy on the signature string both
    dedupes signatures AND collects each signature's sorted id array,
    so the (expensive: one md5 per shingle) signature pipeline has
    exactly ONE consumer and the fan-out is array explosion on the
    tiny qualifying pair set, not id-level joins. Same-signature docs
    share every band by definition and pair directly from their own
    array; an id array's size is the signature's duplicate
    multiplicity (a 10^7-copy viral duplicate means an 80 MB array —
    at that point the output itself is 10^13 pairs and the CLUSTER
    form, lsh_band_incidence + connected_components, is the tool)."""
    mh_cols = [F.col(f"mh{j}") for j in range(num_hashes)]
    # localCheckpoint(eager), re-decided r13 (it was ring_persist since
    # r7): under Spark 4 AQE every one of the FOUR single-action
    # consumers below materializes the persisted frame through its own
    # TableCacheQueryStage driver job (measured: 4 extra one-task jobs
    # per run, 11 -> 7 with the checkpoint), while the checkpoint costs
    # one job and its consumers are leaf scans. The r7 objection —
    # driver-side analysis+toRdd at build time — was measured against
    # a LAZY checkpoint of the full signature pipeline (0.7-2.9 s);
    # for this post-aggregate plan the eager checkpoint's driver cost
    # is ~0.3 s and the same-session alternating A/B at matched λ
    # still favors it (1.627 vs 1.751 s min, ≤1% steal, λ122).
    sgroups = (
        sig.select(F.col(id_col), F.concat_ws("|", *mh_cols).alias("__sk"))
        .groupBy("__sk")
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .localCheckpoint(eager=True)
    )
    if max_bucket is not None:
        # Multiplicity pre-cut: an m-copy group with m > max_bucket
        # would fan out >= C(m,2) pairs no matter how clean its bands
        # are, and every band containing it already exceeds the
        # DOC-level population cap below — dropping it here just keeps
        # the mega id-array out of the banding stage.
        sgroups = sgroups.filter(F.size("__ids") <= max_bucket)
    parts = F.split(F.col("__sk"), "\\|")
    n_bands = num_hashes // band_size
    # Same band keys as lsh_band_incidence: concat_ws of the band
    # index and the (stringified) minhash values of the band.
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.element_at(parts, b * band_size + k + 1)
                    for k in range(band_size)
                ],
            )
            for b in range(n_bands)
        ]
    )
    keyed = sgroups.select(
        F.col("__sk"), F.size("__ids").alias("__m"), F.explode(bands).alias("band_key")
    )
    same_src = sgroups
    if max_bucket is not None:
        # DOC-level band-population cap — the knob's pre-collapse
        # semantics. Without it a band with S signatures x m copies
        # (S, m <= cap but S·m >> cap) slips both per-axis filters yet
        # fans out ~C(S,2)·m² pairs. sum(multiplicity) over the band
        # IS the doc-level bucket size the uncollapsed form capped;
        # the window's band_key hash partitioning is reused verbatim
        # by _bucket_pairs' groupBy, so this adds no extra exchange.
        wb = Window.partitionBy("band_key")
        keyed = (
            keyed.withColumn("__bm", F.sum("__m").over(wb))
            .filter(F.col("__bm") <= max_bucket)
            .drop("__bm")
        )
        # Within-group (same-signature) pairs exist only where at
        # least one of the group's bands survived — identical docs
        # whose every band is mega are dropped, as pre-collapse.
        same_src = sgroups.join(
            keyed.select("__sk").distinct(), "__sk", "left_semi"
        )
    keyed = keyed.drop("__m")
    # The band-population cap already bounds distinct signatures per
    # band (each multiplicity >= 1), so _bucket_pairs needs no cap of
    # its own when one is set here.
    spairs = _bucket_pairs(keyed, "__sk", "band_key", None).select(
        F.col("doc_a").alias("__ska"), F.col("doc_b").alias("__skb")
    )
    a = sgroups.select(F.col("__sk").alias("__ska"), F.col("__ids").alias("__idsa"))
    b = sgroups.select(F.col("__sk").alias("__skb"), F.col("__ids").alias("__idsb"))
    cross = (
        spairs.join(a, "__ska")
        .join(b, "__skb")
        .select(
            F.explode("__idsa").alias("__da"), F.col("__idsb")
        )
        .select(
            F.col("__da"), F.explode("__idsb").alias("__db")
        )
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
        )
    )
    within_pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + F.lit(2), F.size("__ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    same = (
        same_src.filter(F.size("__ids") > 1)
        .select(F.explode(within_pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    return cross.unionByName(same)


def lsh_band_incidence(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """Signature → (id, band_key) incidence rows — the LSH bucket
    membership list. Pairs come from it via _bucket_pairs; CLUSTERS
    come from it directly (connected_components), without ever
    enumerating pairs — a q-member bucket costs q rows per round
    instead of q²/2 pairs, which is the form that survives boilerplate
    mega-buckets at corpus scale."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * band_size + k}") for k in range(band_size)],
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("band_key"))


_DUP_STATS_MEMO: dict = {}


def _dup_stats_clear() -> None:
    """Drop the memoized duplication-factor stats (bench measurement
    integrity: a timed run must pay the stats job, not a dict hit)."""
    _DUP_STATS_MEMO.clear()


def _duplication_factor(docs: DataFrame, key_col: str) -> float:
    """rows / approx-distinct(``key_col``) — the dispatch statistic for
    the adaptive exact-dup collapse. HLL (approx_count_distinct)
    instead of exact: one map-side-combinable pass, no second shuffle,
    and a dispatch threshold needs no exactness. Memoized per
    (session, plan semantics) like the interval dispatcher's stats —
    serving sessions pay it once."""
    key = (id(docs.sparkSession), docs.semanticHash())
    hit = _DUP_STATS_MEMO.get(key)
    if hit is not None:
        return hit
    row = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.approx_count_distinct(key_col).alias("__d"),
    ).first()
    factor = float(row["__n"]) / float(max(row["__d"], 1))
    _DUP_STATS_MEMO[key] = factor
    return factor


def minhash_dedup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 12, band_size: int = 2, shingle_n: int = 3,
    collapse_threshold: float = 1.25,
) -> DataFrame:
    """MinHash + LSH near-dup candidates end-to-end.

    When ``docs`` carries a stored ``content_hash`` column (the
    curated corpus convention — io.layout.write_curated_bucketed on
    that column), exact duplicates are collapsed FIRST: on a curated
    scan the collapse groupBy runs against the reported clustering
    (no Exchange), and the expensive md5-per-shingle signature stage
    runs over DISTINCT texts only — under mass duplication that cuts
    the dominant map stage by the duplication factor, mirroring the
    genomics bucketed-layout win. Doc-level pairs come back by
    member fan-out, exactly the setsim_prefix_join_collapsed
    recovery: identical texts have identical signatures, so
    x~y ⟺ rep(x)~rep(y) for cross-group pairs, and a non-empty
    shingle set means every within-group pair shares all bands
    (empty-shingle docs have no bands and never pair, matching the
    uncollapsed form where they vanish at the explode). Output set
    is identical either way.

    The collapse is ADAPTIVE (r12): it costs ~8 extra driver jobs of
    AQE stage barriers (collapse groupBy + checkpoint + two member
    fan-out joins — measured 19 vs 11 jobs, scripts/ab_lsh_curated.py)
    and only pays when exact duplication actually shrinks the
    signature stage. One memoized HLL stat on the stored hash (a
    map-side-combinable agg, exchange-free on the bucketed curated
    scan; ~1 job, once per (session, source)) dispatches: corpus
    duplication factor >= ``collapse_threshold`` -> collapse path,
    else the direct pipeline (which still reads the curated scan).
    On the low-duplication bench corpus this returns the plain plan
    + 1 stats job; under mass duplication (the r6 1000x sweep) the
    collapse cuts the dominant md5-per-shingle stage by the dup
    factor. At 100 TB the stats job amortizes over the session and
    the 8 fixed jobs are noise — production can set the threshold
    near 1.0; the default keeps small-corpus serving honest."""
    if "content_hash" in docs.columns and (
        _duplication_factor(docs, "content_hash") >= collapse_threshold
    ):
        groups, members = collapse_exact_text(
            docs, id_col, text_col, shingle_n, members_materialize="checkpoint"
        )
        reps = groups.select(F.col("__rep").alias(id_col), text_col)
        sig = minhash_signature(reps, id_col, text_col, num_hashes, shingle_n)
        rep_pairs = lsh_candidate_pairs(sig, id_col, num_hashes, band_size)
        return fan_out_rep_pairs(
            rep_pairs, members, id_col, groups.filter("__has_sh"), {}
        )
    sig = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
    return lsh_candidate_pairs(sig, id_col, num_hashes, band_size)


def simhash_signature(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash over word tokens: bit b = majority vote of bit b of
    md5(token) across the doc's distinct tokens. `bits` ≤ 32 hex
    nibbles' high bits; portable (hex-digit test, no murmur)."""
    tok = fan_out(docs, id_col).select(
        F.col(id_col),
        F.size(F.array_distinct(F.split(F.col(text_col), " "))).cast("long").alias("n_tok"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    # high bit of hex nibble b: digit in 8..f
    bit_aggs = [
        F.sum(
            F.when(F.substring(h, b + 1, 1).isin(*list("89abcdef")), 1).otherwise(0)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    votes = tok.groupBy(id_col, "n_tok").agg(*bit_aggs)
    sig = F.concat(
        *[F.when(F.col(f"b{b}") * 2 > F.col("n_tok"), F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", band_bits: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """Near-dup candidates: docs agreeing on any simhash band
    (Hamming-distance blocking). Blocked over DISTINCT signatures —
    a band_bits-bit band has only 2^band_bits values, so doc-level
    buckets grow with the corpus and explode quadratically, while the
    signature universe is fixed (2^bits) and the qualifying signature
    pairs expand to doc pairs through equi-joins, output-bound (same
    structure as simhash_hamming_pairs; ``max_bucket`` caps the
    signature-bucket size)."""
    n = 16  # matches simhash_signature default
    usig = sig.select("simhash").distinct()
    bands = F.array(
        *[
            F.concat_ws("|", F.lit(str(i)), F.substring("simhash", i * band_bits + 1, band_bits))
            for i in range(n // band_bits)
        ]
    )
    keyed = usig.select(F.col("simhash"), F.explode(bands).alias("band_key"))
    spairs = _bucket_pairs(keyed, "simhash", "band_key", max_bucket).select(
        F.col("doc_a").alias("__sa"), F.col("doc_b").alias("__sb")
    )
    a = sig.select(F.col("simhash").alias("__sa"), F.col(id_col).alias("__da"))
    b = sig.select(F.col("simhash").alias("__sb"), F.col(id_col).alias("__db"))
    cross = (
        spairs.join(a, "__sa")
        .join(b, "__sb")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
        )
    )
    same = (
        a.join(b.withColumnRenamed("__sb", "__sa"), "__sa")
        .filter(F.col("__da") < F.col("__db"))
        .select(F.col("__da").alias("doc_a"), F.col("__db").alias("doc_b"))
    )
    return cross.unionByName(same)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 64,
) -> DataFrame:
    """n-gram Jaccard for candidate pairs *generated by shared
    shingles* (inverted index, never all-pairs):
    J = |A∩B| / (|A|+|B|−|A∩B|) over the eligible-shingle universe.

    ``max_df`` is the stop-gram cutoff: shingles shared by more than
    max_df documents are excluded from the universe entirely (both the
    pair generation AND the per-doc set sizes, so J stays a true
    Jaccard over the filtered universe). Without it, one boilerplate
    shingle shared by 10k docs emits 50M pairs from a single bucket —
    the posting-list explosion every production near-dup pipeline caps
    with a DF cutoff (measured: 18s -> 1s at sf0.1 on a small-vocab
    corpus). Set None for the exact un-filtered semantics.

    Shape: one shingle explode + groupBy shingle (the inverted index),
    in-bucket (a < b) pair generation, pair-count groupBy, then two
    joins against the (doc-count-sized) eligible-size table."""
    sh = (
        fan_out(docs, id_col)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(word_shingles_of(F.col("__w"), shingle_n)).alias("shingle"),
        )
    )
    buckets = sh.groupBy("shingle").agg(F.array_sort(F.collect_set("__id")).alias("ids"))
    if max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    # Per-doc eligible-shingle counts: singleton buckets still count
    # toward the denominator (they are in the universe, just shared by
    # no one).
    sizes = (
        buckets.select(F.explode("ids").alias("__id"))
        .groupBy("__id")
        .agg(F.count("*").alias("__n_sh"))
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    shared = (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col("__id").alias("doc_a"), F.col("__n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("__id").alias("doc_b"), F.col("__n_sh").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double via
    zip_with + aggregate (JVM-side fold, deterministic order).
    NULL when either norm is zero: cosine is undefined there, and
    under Spark 4's default ANSI mode an unguarded division THROWS
    DIVIDE_BY_ZERO mid-job on the first zero vector (found by the
    pq_ivf_build property test) — NULL instead propagates the
    engine-wide zero-norm-drop convention (max_by skips it, filters
    reject it, semdedup/knn leave such vectors unassigned).
    try_divide, not when(denom > 0, …): the when-guard duplicates the
    denominator subtree, and the norm folds are interpreted HOFs with
    no cross-subtree CSE — measured 14% slower on kmeans_assign;
    try_divide evaluates each operand once."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.try_divide(dot, na * nb)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.4,
    chunk_rows: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup within coarse blocks (IVF-style):
    cost is Σ per-block n², not global n². Swap `block_col` for an
    LSH/IVF cell id at 100 TB (see similarity.ivf_assign) — cell
    sizing is what bounds a block to executor memory.

    Each block is scored with one `applyInPandas` matmul over the
    normalized block matrix (row chunks of ``chunk_rows`` bound the
    similarity tile to chunk×n doubles), emitting only the (a < b)
    pairs at or above threshold — a 64-dim 200-vector block is one
    BLAS call instead of 20k interpreted array folds, measured ~20x
    faster, and the pair set never materializes below the threshold.

    Cosine is a pure function of the two vectors, so the matmul runs
    over DISTINCT (block, vector) values only (groupBy on the raw
    array — no hash, no collision risk) and the full pair list comes
    back by member fan-out: cross-group products carry the
    representative pair's cosine, within-group id pairs are cos 1.0
    (zero-norm groups excluded — 0/0 cosine is NaN and never
    qualifies, matching the uncollapsed arithmetic). An m-member
    exact-duplicate group contributes one matrix row instead of m —
    at 100x replication (m=100) the block tile shrinks 10^4-fold;
    measured 17.9 s → output-bound seconds on the same data."""
    import numpy as np
    import pandas as pd

    def score_block(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = np.inf  # zero vectors score 0, never NaN
        m = m / norms
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, chunk_rows):
            hi = min(lo + chunk_rows, n)
            tile = np.round(m[lo:hi] @ m.T, 6)  # (hi-lo) x n
            # keep strictly-upper pairs (a < b by sorted id position)
            rows, cols = np.nonzero(tile >= threshold)
            keep = cols > rows + lo
            out_a.append(ids[rows[keep] + lo])
            out_b.append(ids[cols[keep]])
            out_c.append(tile[rows[keep], cols[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    # NULL vectors (or NULL blocks) cannot pair: any cosine against
    # NULL is NULL and never reaches a threshold — dropping them here
    # keeps every block's np.stack shape-stable on crawl-dirty data.
    # The NULL-block filter is equality-join semantics made explicit,
    # not a behavior change: the members fan-out join below keys on
    # blk, and NULL join keys never match, so NULL-block rows already
    # produced no output pairs (and the SQL oracle's label-equality
    # join excludes them identically).
    base = emb.select(
        F.col(block_col).alias("blk"), F.col(id_col), F.col(vec_col)
    ).filter(F.col(vec_col).isNotNull() & F.col("blk").isNotNull())
    groups = (
        base.groupBy("blk", vec_col)
        .agg(F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__nz",
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            > 0,
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select("blk", F.col("__rep").alias(id_col), F.col(vec_col))
    rep_pairs = (
        fan_out(reps, "blk")
        .groupBy("blk")
        .applyInPandas(score_block, schema="vec_a long, vec_b long, cos double")
    )
    # Narrow (id, rep) membership map, checkpointed once for the two
    # fan-out consumers.
    members = (
        base.join(groups.select("blk", vec_col, "__rep"), ["blk", vec_col])
        .select(F.col(id_col), "__rep")
        .localCheckpoint(eager=True)
    )
    # Degenerate threshold > 1.0 admits nothing (cos caps at 1.0 for
    # identical vectors), matching the uncollapsed form: no diagonal.
    diag = groups.filter("__nz") if threshold <= 1.0 else None
    return fan_out_rep_pairs(
        rep_pairs, members, id_col, diag, {"cos": 1.0}, "vec_a", "vec_b"
    )


def connected_components(
    incidence: DataFrame,
    node_col: str = "node",
    key_col: str = "key",
    max_iter: int = 25,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components of the
    node–bucket incidence graph (nodes sharing any bucket key are
    connected), labeling every node with the minimum node id of its
    component.

    Pair lists (minhash/simhash/ngram candidates) tell you *which*
    documents collide; corpus dedup needs the transitive closure — one
    canonical survivor per duplicate *cluster*, even when A~B and B~C
    but A and C never share a bucket. Iterative min-label propagation
    through the buckets: comp(node) ← min over its buckets of the min
    comp in each bucket, repeated to fixpoint. The component minimum
    travels two hops per round, so rounds ≈ half the cluster diameter
    (LSH dup clusters are shallow — single digits in practice).

    Algorithm: alternating large-star/small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    the same scheme GraphFrames/GraphX ship for CC). Buckets first
    contract to star edges (node → bucket-min), then each round hangs
    every node onto the minimum of its neighborhood from both
    directions. Where plain min-label propagation needs rounds
    proportional to the cluster *diameter* (measured here: 21 rounds on
    the sf0.1 embedding graph, 4 at sf0.01 — the round count itself
    grew with data), star contraction squares the label's reach each
    round, converging in O(log d): the round count stays flat as data
    grows, which is what survives a 100 TB corpus with mega-clusters.

    Scale shape: every step is a keyed aggregation or equi-join on the
    *edge* set — a q-member bucket contributes q star edges, never q²
    pairs — and the edge set shrinks toward one edge per non-root node
    as stars form. Lineage is truncated per round with localCheckpoint
    (else the plan doubles every iteration); convergence checks are
    scalar counts, never collects.

    Local finish: once the (always-counted) edge set fits under
    ``local_finish_edges`` (≈2 MB collected at the 100k default — a
    model-sized cutover like Catalyst's broadcast threshold), the
    remaining contraction happens as driver-side union-find instead
    of more Spark rounds. Each distributed round costs ~0.5s of pure
    sequential AQE-stage latency (6 shuffle stages) no matter how few
    edges remain, so finishing a few-hundred-edge graph locally turns
    2 rounds + convergence subtract into one collect (measured
    dedup_clusters 2.71s → 1.41s at sf0.1). The cutover is sized so
    the driver pass stays well under one distributed round (~7.5 µs
    per collected edge measured: 100k ≈ 0.75s); 500k was measured
    SLOWER at 100× replication (9.6s vs 5.9s — 495k star edges fell
    just under it and serialized through the driver). At 100 TB the
    distributed rounds still run — the converged star keeps ~one edge
    per duplicate doc, far above the cutover — and the label set
    returned is identical either way (union by min-root ⇒ every root
    is its component's minimum).
    """
    inc = (
        incidence.select(F.col(node_col).alias("node"), F.col(key_col).alias("key"))
        .distinct()
        .localCheckpoint()  # one materialization of the upstream
        # subtree (signatures, banding): nodes / edges / the final
        # labeling all branch from it, and without this each branch
        # would recompute the whole signature pipeline.
    )
    nodes = inc.select("node").distinct()
    # Bucket contraction: node → min node of its bucket (u > v edges).
    bmin = inc.groupBy("key").agg(F.min("node").alias("v"))
    edges = (
        inc.join(bmin, "key")
        .filter(F.col("node") != F.col("v"))
        .select(F.col("node").alias("u"), "v")
        .distinct()
        .localCheckpoint()
    )
    return connected_components_edges(
        edges, nodes, node_col, max_iter, local_finish_edges
    )


def connected_components_edges(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node",
    max_iter: int = 25,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Star-contraction connected components over a READY edge list —
    the core `connected_components` delegates to after contracting its
    node-bucket incidence. Call this directly when the input already
    IS an edge list (a verified near-dup pair set): wrapping pairs
    back into a synthetic incidence costs an incidence distinct, a
    bucket-min groupBy, and an edge-rebuild join — three corpus-pair
    -sized shuffles that exist only to recover the edges you started
    with (measured ~0.4s of fixed stage latency at sf0.1 on
    setsim_clusters, and at 100 TB three needless shuffles of the
    full pair set).

    Contract: ``edges`` holds (u, v) with u > v, deduplicated, and
    should be checkpoint/persist-backed (it is counted, iterated, and
    joined — an expensive lineage would re-execute per round).
    ``nodes`` is the full node universe (isolated nodes label
    themselves). Labels: every node → minimum node id of its
    component, exactly as `connected_components`."""
    edges = contracted_star_edges(edges, max_iter, local_finish_edges)
    # Converged state: disjoint stars, center = component min; each
    # non-center node carries exactly one edge to its center.
    return nodes.join(edges, nodes["node"] == edges["u"], "left").select(
        nodes["node"].alias(node_col),
        F.coalesce(edges["v"], nodes["node"]).alias("cluster_id"),
    )


def contracted_star_edges(
    edges: DataFrame,
    max_iter: int = 25,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """The star-contraction loop of `connected_components_edges`,
    returning the CONVERGED edge state instead of a label table:
    disjoint stars, each non-center node u carrying exactly one
    (u, v=component-min) edge; centers and isolated nodes carry no
    u-row. Callers that fan labels out through their own membership
    table join this directly (label(x) = coalesce(v, x) via a left
    join on u) instead of paying an intermediate node-universe join
    whose output is immediately re-joined — one equi-join less on the
    label path at any scale (r13, setsim_clusters)."""
    n_edges = edges.count()

    def _local_finish(e: DataFrame) -> DataFrame:
        # Union-find over the collected star edges, union by min-root:
        # the smaller root always becomes parent, so find() lands on
        # the component minimum. Output joins back exactly like the
        # converged distributed state (u -> component-min edges).
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        rows = e.collect()
        for u, v in rows:
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi_ = (ru, rv) if ru < rv else (rv, ru)
                parent[hi_] = lo
        labels = [(n, find(n)) for n in parent]
        # createDataFrame over a driver list is RDD-backed: Catalyst
        # sees NO size statistics (default = huge) and plans the
        # downstream label join as a sort-merge, shuffling the
        # corpus-scale membership side against <= local_finish_edges
        # rows (r13 job profile: two extra exchanges + their AQE
        # stage jobs). The bound is known RIGHT HERE — the local
        # finish collected at most local_finish_edges (u, v) pairs,
        # ~1.6 MB at the 100k default — so hint the broadcast where
        # the knowledge lives.
        return F.broadcast(e.sparkSession.createDataFrame(labels, schema=e.schema))

    for _ in range(max_iter):
        if n_edges == 0:
            break
        if n_edges <= local_finish_edges:
            edges = _local_finish(edges)
            break
        # Large-star: for each node, hang all STRICTLY LARGER
        # neighbors onto min(N(u) ∪ {u}).
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("u"), F.col("mv")).alias("m")
        )
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # Small-star: edges stay (larger → smaller); hang each node's
        # smaller neighbors and the node itself onto the minimum.
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        n_small = small.count()
        converged = (
            n_small == n_edges
            and small.subtract(edges).limit(1).count() == 0
        )
        edges, n_edges = small, n_small
        if converged:
            break
    return edges


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 1,
) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): candidate pairs
    share a blocking key, survivors are within ``max_dist`` edit
    distance. The classic record-linkage shape — customer/supplier
    name dedup, near-identical identifiers — where an all-pairs
    levenshtein over the table is quadratic and impossible, but a
    good blocking key (prefix, soundex, sorted-token signature) bounds
    each comparison set to a bucket.

    Scale contract: the self-join is an EQUI-join on the block key,
    and — because edit distance is a pure function of the two names —
    it runs over DISTINCT (name, block) values only: rows collapse to
    their value group first, levenshtein evaluates once per distinct
    name pair (never once per row pair), and the answer fans back out
    through equi-joins — cross-name member products for matched name
    pairs, within-group id pairs at dist 0. A bucket holding 10^4
    copies of one hot name costs one comparison plus its output-sized
    fan-out instead of 10^8 levenshtein calls (the 100x-replication
    sweep caught exactly that: the row-pair form ran >25 min where
    this form is output-bound). Residual hazard is a block with many
    DISTINCT near-identical names: profile with skew_profile and
    tighten the key before running corpus-wide. Output:
    (id_a, id_b, dist), id_a < id_b."""
    # One checkpointed 3-column projection feeds the value-group
    # distinct, both fan-out sides, and the within-group pairing —
    # without it the source is scanned six times (setsim_prefix_join
    # precedent for its token table).
    keyed = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__n"), block.alias("__blk")
    ).localCheckpoint(eager=True)
    groups = keyed.select("__n", "__blk").distinct()
    ga = groups.select(F.col("__n").alias("__na"), "__blk")
    gb = groups.select(F.col("__n").alias("__nb"), "__blk")
    name_pairs = (
        ga.join(gb, "__blk")
        .filter(F.col("__na") < F.col("__nb"))
        .withColumn("dist", F.levenshtein("__na", "__nb"))
        .filter(F.col("dist") <= max_dist)
    )
    ma = keyed.select(F.col("__id").alias("__ida"), F.col("__n").alias("__na"), "__blk")
    mb = keyed.select(F.col("__id").alias("__idb"), F.col("__n").alias("__nb"), "__blk")
    cross = (
        name_pairs.join(ma, ["__blk", "__na"])
        .join(mb, ["__blk", "__nb"])
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "dist",
        )
    )
    # Degenerate max_dist < 0 admits nothing (the uncollapsed form's
    # levenshtein <= max_dist filter rejects even identical strings),
    # so the dist=0 within-group fan-out must not emit either.
    if max_dist < 0:
        return cross
    within = (
        ma.join(
            mb.withColumnRenamed("__nb", "__na"), ["__blk", "__na"]
        )
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.lit(0).cast("int").alias("dist"),
        )
    )
    return cross.unionByName(within)


def exact_dup_rate(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source exact-duplicate rate: how many rows each source
    would lose to content-hash dedup — the per-provider quality
    report that decides which feeds need upstream fixing. One
    map-side-combinable groupBy (count + distinct-hash count)."""
    return docs.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col))))
        .cast("long")
        .alias("n_dup_rows"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col))))
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


def source_overlap_matrix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """Cross-source near-duplicate pressure: for every source pair,
    the number of LSH band collisions between their documents — the
    contamination matrix that tells you which feeds are re-crawling
    each other before you pay for pairwise verification.

    Counts come from the per-band SOURCE HISTOGRAM, never from
    enumerating document pairs: a band shared by n_a docs of source a
    and n_b of source b contributes n_a*n_b (or n(n-1)/2 within a
    source), computed from a collect_list over the per-band histogram
    — sources are O(10), so the struct array is tiny even when the
    band bucket holds thousands of docs. Mega-buckets cost their
    histogram, not their square.

    Rows with a NULL source are excluded: the matrix's dimensions ARE
    the sources, a NULL stratum has no pair identity, and the SQL
    oracle's `a.src <= b.src` join drops NULLs anyway — keeping them
    Spark-side emitted phantom (NULL, src) rows no oracle matches."""
    docs = docs.filter(F.col(strata_col).isNotNull())
    sig = minhash_signature(docs, id_col, text_col, num_hashes)
    inc = lsh_band_incidence(sig, id_col, num_hashes, band_size)
    src = docs.select(F.col(id_col), F.col(strata_col).alias("__src"))
    per = (
        inc.join(src, id_col)
        .groupBy("band_key", "__src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hist = per.groupBy("band_key").agg(
        F.array_sort(F.collect_list(F.struct("__src", "n"))).alias("h")
    )
    pairs = F.flatten(
        F.transform(
            "h",
            lambda a, i: F.transform(
                F.slice("h", i + 1, F.size("h")),
                lambda b: F.struct(
                    a["__src"].alias("source_a"),
                    b["__src"].alias("source_b"),
                    F.when(
                        a["__src"] == b["__src"],
                        (a["n"] * (a["n"] - 1) / 2).cast("long"),
                    )
                    .otherwise(a["n"] * b["n"])
                    .alias("cnt"),
                ),
            ),
        )
    )
    return (
        hist.select(F.explode(pairs).alias("p"))
        .select("p.source_a", "p.source_b", "p.cnt")
        .groupBy("source_a", "source_b")
        .agg(F.sum("cnt").alias("n_band_pairs"))
        .filter(F.col("n_band_pairs") > 0)
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Sketch-accuracy report: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (fraction of agreeing signature
    components) next to the TRUE shingle Jaccard — the calibration
    table that tells you whether num_hashes is sized right for your
    dedup threshold before you trust the sketch at corpus scale.

    The signature table is persisted once and feeds all three
    consumers (band pairs + both sides of the pair join) — the
    production pattern of materializing sketches rather than
    recomputing the shingle/hash pipeline per branch. The true-Jaccard
    branch joins the exact shingle sets only for candidate DOCUMENTS
    (the pair join prunes first), never all pairs.

    Exact duplicates are pre-collapsed (collapse_exact_text): both
    est and true Jaccard are pure functions of the two TEXTS, so the
    scoring joins run over distinct-content representative pairs and
    the doc-level pair list fans back out arithmetically —
    cross-group pairs carry the rep pair's scores verbatim; a
    within-group pair of identical texts scores est = 1.0 (identical
    signatures) and truth = 1.0 for a non-empty shingle set, 0.0 for
    an empty one (0/0 → the same `otherwise` the pair form hits).
    Without this, 1000x mass duplication pushes the doc-level scoring
    joins to ~10^9 rows per side (the r6 SCALING note's known gap);
    the contract OUTPUT is still every candidate pair."""
    groups, members = collapse_exact_text(
        docs, id_col, text_col, shingle_n, members_materialize="checkpoint"
    )
    reps = groups.select(F.col("__rep").alias(id_col), text_col)
    sig = minhash_signature(reps, id_col, text_col, num_hashes, shingle_n).transform(ring_persist)
    pairs = lsh_candidate_pairs(sig, id_col, num_hashes, band_size)

    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int") for j in range(num_hashes)
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a",
        "doc_b",
        F.round(agree / F.lit(num_hashes), 6).alias("est_jaccard"),
    )

    # Exact shingle SETS as one persisted array column (distinct by
    # construction in word_shingles), built for REPRESENTATIVES only:
    # the pair join then computes the true Jaccard with
    # array_intersect — no shingle explode, no per-branch
    # re-shingling. At production scale this table persists to
    # storage once.
    sh_arr = (
        fan_out(reps, id_col)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col), word_shingles_of(F.col("__w"), shingle_n).alias("__sh")
        )
        .transform(ring_persist)
    )
    shared = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - shared
    truth = (
        pairs.join(
            sh_arr.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sha")),
            "doc_a",
        )
        .join(
            sh_arr.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__shb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.when(union > 0, F.round(shared / union, 6))
            .otherwise(F.lit(0.0))
            .alias("true_jaccard"),
        )
    )
    rep_scored = est.join(truth, ["doc_a", "doc_b"]).withColumn(
        "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 6)
    )
    # Within-group pairs of identical texts score est = truth = 1.0
    # and abs_err = 0.0 exactly. Only groups with a non-empty shingle
    # set pair within themselves: shingle-less docs never get a
    # signature (minhash_signature drops them, like the SQL mirror's
    # explode), so identical short texts are NOT candidates in the
    # pair form either.
    return fan_out_rep_pairs(
        rep_scored, members, id_col, groups.filter("__has_sh"),
        {"est_jaccard": 1.0, "true_jaccard": 1.0, "abs_err": 0.0},
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Production-grade SimHash dedup: band blocking generates the
    candidates, then the EXACT Hamming distance between full
    signatures filters them to ``max_hamming`` — the two-stage shape
    (recall from banding, precision from the distance check) that
    turns simhash from a blocking heuristic into a dedup decision.

    With bits=16, band_bits=4, max_hamming=3 the guarantee is exact
    by pigeonhole: any pair within Hamming distance 3 differs in at
    most 3 of the 4 bands, so at least one band matches and the pair
    is generated — zero false negatives, no all-pairs scan.

    Blocking runs over DISTINCT signatures, never over documents: a
    b-bit band has only 2^band_bits values, so doc-level band buckets
    grow with the corpus and their in-bucket pair generation is
    O(n²/buckets) — it heap-OOMed at 10x data. Distinct signatures
    are bounded by min(2^bits, n_docs) (a fixed universe, 65536 at 16
    bits), the signature-pair candidate set is bounded by that
    universe squared regardless of corpus size, and the qualifying
    signature pairs expand back to doc pairs through equi-joins on
    the signature — work proportional to the TRUE output (every
    emitted doc pair is a result row), with duplicate-heavy corpora
    collapsing into the signature groups instead of exploding the
    buckets. Hamming distance runs JVM-side as bit_count(xor) over
    the integer form of the bit-string signature."""
    sig = simhash_signature(docs, id_col, text_col, bits)
    sig = sig.localCheckpoint(eager=True)
    usig = sig.select("simhash").distinct()
    bands = F.array(
        *[
            F.concat_ws(
                "|", F.lit(str(i)), F.substring("simhash", i * band_bits + 1, band_bits)
            )
            for i in range(bits // band_bits)
        ]
    )
    keyed = usig.select(F.col("simhash"), F.explode(bands).alias("band_key"))
    spairs = _bucket_pairs(keyed, "simhash", "band_key", max_bucket).select(
        F.col("doc_a").alias("__sa"), F.col("doc_b").alias("__sb")
    )
    as_int = lambda c: F.conv(c, 2, 10).cast("long")
    ham = F.bit_count(as_int(F.col("__sa")).bitwiseXOR(as_int(F.col("__sb")))).cast("long")
    squal = spairs.select("__sa", "__sb", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    # Cross-signature doc pairs: one row per (member of sa) x (member
    # of sb); each unordered doc pair maps to exactly one signature
    # pair, so no distinct is needed.
    a = sig.select(F.col("simhash").alias("__sa"), F.col(id_col).alias("__da"))
    b = sig.select(F.col("simhash").alias("__sb"), F.col(id_col).alias("__db"))
    cross = (
        squal.join(a, "__sa")
        .join(b, "__sb")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "hamming",
        )
    )
    # Identical-signature doc pairs (Hamming 0): within-group (a < b).
    same = (
        a.join(
            b.withColumnRenamed("__sb", "__sa"), "__sa"
        )
        .filter(F.col("__da") < F.col("__db"))
        .select(
            F.col("__da").alias("doc_a"),
            F.col("__db").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def srp_signs(bits: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for signed random
    projection, derived from md5 of the (bit, dim) index — computed
    driver-side ONCE and inlined as literals, so Spark and any SQL
    oracle share bit-identical hyperplanes with no RNG-seed
    dependence."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{b},{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dims)
        ]
        for b in range(bits)
    ]


def srp_signature(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 24,
    dims: int = 64,
) -> DataFrame:
    """SRP (sign-of-random-projection) signature for embeddings — the
    SimHash of vector space (Charikar 2002): bit b = sign(v · r_b)
    with r_b a fixed ±1 hyperplane. Collision probability is
    1 − angle(u,v)/π, so near-duplicate vectors agree on almost all
    bits. Pure fixed-order double arithmetic inside codegen — the
    projection is deterministic across engines AND partition layouts
    (no float-accumulation ambiguity: one expression, one evaluation
    order).

    The expression is assembled as ONE SQL string fed to F.expr, not
    as a Python Column tree: bits x dims = 1536 terms means ~5000
    py4j round-trips when composed operator-by-operator in Python —
    measured 10-13 s of DRIVER time per plan build (the execution
    itself is sub-second), all of it py4j chatter. The string parses
    JVM-side in one call. The `+` chain is left-associative in SQL
    exactly like Python's sum(), so the fold order — and therefore
    every sign bit — is unchanged."""
    signs = srp_signs(bits, dims)

    def bit_sql(b: int) -> str:
        terms = " + ".join(
            f"{signs[b][d]} * CAST(element_at({vec_col}, {d + 1}) AS DOUBLE)"
            for d in range(dims)
        )
        return f"CASE WHEN ({terms}) >= 0.0 THEN '1' ELSE '0' END"

    sig = F.expr("concat(" + ", ".join(bit_sql(b) for b in range(bits)) + ")")
    return fan_out(emb, id_col).select(F.col(id_col), sig.alias("srp"))


def srp_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 24,
    band_bits: int = 8,
    dims: int = 64,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup WITHOUT a precomputed block key: SRP
    signature → band buckets → in-bucket pairs → exact cosine filter.
    The label-blocked variant (embedding_near_dup_pairs) needs a
    partitioner someone already built; this one manufactures its own
    buckets from the geometry, which is what you do on a fresh 100 TB
    embedding table. Candidates are band-collisions only — random
    pairs collide on a band with p≈2^-band_bits, so the candidate set
    is a thin slice of n², never all-pairs.

    Exact-duplicate vectors are pre-collapsed first (same contract as
    embedding_near_dup_pairs): identical arrays have identical SRP
    signatures, so m copies of one vector collide in EVERY band and
    the raw bucket-pair set carries C(m,2) rows per group times the
    band count — the r6 1000x embeddings sweep (1000-member groups)
    crashed here. Signatures, buckets, and the exact-cosine verify
    run over DISTINCT vectors; the full pair list is recovered by
    member fan-out (cross pairs carry the representative cosine —
    identical arrays make it the same value — and within-group pairs
    are cos 1.0, zero-norm groups excluded because 0/0 cosine is NaN
    and never qualifies, matching the uncollapsed arithmetic).
    NULL vectors have no geometry and are excluded (ANN-family NULL
    contract; a NULL would also make every projection sign NULL).
    NaN/Inf-poisoned vectors too (r12 nonfinite contract): Spark SQL
    ranks NaN GREATER than everything, so a NaN cosine would PASS the
    `>= threshold` confirm — and every NaN vector shares one all-'1'
    SRP signature (NaN >= 0 is true), so one poisoned batch floods the
    pair set through a single mega-bucket (measured: 3,008 bogus
    NaN-cos pairs vs 122 real on the nonfinite corpus). The Σx² fold
    below excludes them: `sq < inf` is false for both NaN (NaN ranks
    above inf) and Inf; NULL elements make sq NULL (also false);
    zero-norm vectors stay, excluded downstream exactly as before."""
    sq = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    base = emb.filter(
        F.col(vec_col).isNotNull() & (sq < F.lit(float("inf")))
    ).select(F.col(id_col), F.col(vec_col))
    groups = (
        base.groupBy(vec_col)
        .agg(F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__nz",
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            > 0,
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select(F.col("__rep").alias(id_col), F.col(vec_col))
    sig = srp_signature(reps, id_col, vec_col, bits, dims)
    sig = sig.localCheckpoint(eager=True)
    n_bands = bits // band_bits
    bands = F.array(
        *[
            F.concat_ws("|", F.lit(str(i)), F.substring("srp", i * band_bits + 1, band_bits))
            for i in range(n_bands)
        ]
    )
    keyed = sig.select(F.col(id_col), F.explode(bands).alias("band_key"))
    pairs = _bucket_pairs(keyed, id_col, "band_key", max_bucket)
    va = reps.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("__va"))
    vb = reps.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("__vb"))
    rep_pairs = (
        pairs.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    members = (
        base.join(groups.select(F.col(vec_col), "__rep"), vec_col)
        .select(F.col(id_col), "__rep")
        .localCheckpoint(eager=True)
    )
    # Degenerate threshold > 1.0 admits nothing (cos caps at 1.0 for
    # identical vectors), matching the uncollapsed form: no diagonal.
    diag = groups.filter("__nz") if threshold <= 1.0 else None
    return fan_out_rep_pairs(
        rep_pairs, members, id_col, diag, {"cos": 1.0}, "vec_a", "vec_b"
    )


def minhash_containment_pairs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 3,
):
    """Directional near-dup scoring: for every LSH candidate pair,
    the estimated and true CONTAINMENT in both directions —
    C(A in B) = |A∩B| / |A| — the statistic that separates "B quotes
    all of A" (sub-document duplication: C(A in B) ≈ 1, Jaccard
    small) from symmetric near-identity. Jaccard-threshold dedup
    misses exactly these pairs; corpus pipelines drop the contained
    side instead.

    Estimated intersection from the MinHash Jaccard estimate:
    I = J/(1+J) · (|A|+|B|) (inclusion-exclusion solved for I), then
    C = I/|size|. Same physical shape as minhash_estimate_pairs:
    persisted signature table feeds bands + both join sides; exact
    shingle sets join only onto CANDIDATE pairs.

    Exact duplicates are pre-collapsed (the minhash_estimate_pairs
    move): every score is a pure function of the two texts, so the
    joins run over representative pairs; the doc-level fan-out SWAPS
    the directional columns when least/greatest flips the pair's
    orientation relative to its rep pair, and within-group pairs of
    identical texts emit 1.0 across the board (A = B makes both
    directions exact and the estimate saturates)."""
    groups, members = collapse_exact_text(
        docs, id_col, text_col, shingle_n, members_materialize="checkpoint"
    )
    reps = groups.select(F.col("__rep").alias(id_col), text_col)
    sig = minhash_signature(reps, id_col, text_col, num_hashes, shingle_n).transform(ring_persist)
    pairs = lsh_candidate_pairs(sig, id_col, num_hashes, band_size)

    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int") for j in range(num_hashes)
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", (agree / F.lit(num_hashes)).alias("__j")
    )

    sh_arr = (
        fan_out(reps, id_col)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col), word_shingles_of(F.col("__w"), shingle_n).alias("__sh")
        )
        .transform(ring_persist)
    )
    shared = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    za = F.size("__sha").cast("double")
    zb = F.size("__shb").cast("double")
    est_i = F.col("__j") / (1 + F.col("__j")) * (za + zb)
    rep_scored = (
        est.join(
            sh_arr.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sha")),
            "doc_a",
        )
        .join(
            sh_arr.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__shb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("__j", 6).alias("est_jaccard"),
            F.round(F.least(est_i / za, F.lit(1.0)), 6).alias("est_cont_a_in_b"),
            F.round(F.least(est_i / zb, F.lit(1.0)), 6).alias("est_cont_b_in_a"),
            F.round(shared / za, 6).alias("true_cont_a_in_b"),
            F.round(shared / zb, 6).alias("true_cont_b_in_a"),
        )
    )
    # Within-group pairs of identical texts score exactly 1.0 on all
    # five columns, so the directional swap is the identity on them.
    return fan_out_rep_pairs(
        rep_scored, members, id_col, groups.filter("__has_sh"),
        dict.fromkeys(
            ["est_jaccard", "est_cont_a_in_b", "est_cont_b_in_a",
             "true_cont_a_in_b", "true_cont_b_in_a"],
            1.0,
        ),
        swap=(
            ("est_cont_a_in_b", "est_cont_b_in_a"),
            ("true_cont_a_in_b", "true_cont_b_in_a"),
        ),
    )


def setsim_prefix_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family): all pairs with shingle-set Jaccard ≥ threshold,
    ZERO false negatives — the complement to LSH, whose banding
    trades recall for speed. The filter chain:

    1. impose the canonical PPJoin global token order — ascending
       document frequency, ties by term: prefix filtering is correct
       under ANY fixed total order, but the order decides how many
       FALSE candidates the prefix join emits. Under a hash (random)
       order — the r5 plan — prefixes hold average-frequency tokens,
       and shared boilerplate shingles put pairs of unrelated docs in
       the same bucket: measured 68k distinct candidates for 241 true
       pairs at sf0.1. Rarest-first pushes corpus-common shingles out
       of every prefix, so collisions concentrate on genuinely rare
       shared content (measured ~300 candidates on the same data).
       Cost: one map-combinable groupBy(term) for the df table + one
       join-back over the token mass — linear shuffles; the join-back
       rides skew_router_join so a viral boilerplate shingle
       broadcasts instead of pinning one reducer — + one groupBy(id)
       to re-collect the sorted arrays. Worth it at every scale: the
       candidate mass this kills feeds TWO shuffles (distinct +
       verify) and the array_intersect verify compute;
    2. a pair with Jaccard ≥ t must share a token among each side's
       first  l - ⌈t·l⌉ + 1  tokens of that order (the prefix) —
       candidates come from an equi-join on PREFIX tokens only, so
       only ~(1-t) of each doc's tokens are ever exploded;
    3. length filter min(|A|,|B|) ≥ t·max(|A|,|B|) — applied on the
       joined prefix rows themselves (each explode row carries its
       doc's length), BEFORE the candidate distinct shuffle;
    4. PPJoin positional filter: a prefix row matching A at position
       pa and B at pb bounds the overlap by 1 + min(|A|-pa, |B|-pb)
       (for the EARLIEST common prefix token nothing common precedes
       it — arrays share one global order — so the bound is exact
       there, and a qualifying pair therefore always keeps its
       first-match row: per-row pruning has zero false negatives).
       Jaccard ≥ t needs overlap ≥ t·(|A|+|B|)/(1+t); rows whose
       bound can't reach that die map-side, ahead of the same
       distinct shuffle — the filter that cuts the candidate-pair
       mass the r5 plan shuffled in full;
    5. exact verification by array_intersect on the full sets —
       only over surviving candidates.

    The token-array table is checkpointed once and feeds the prefix
    explode, the size table, and both verify sides. Docs with an
    empty shingle set drop out at the explode — they can never pair
    (undefined Jaccard), matching the previous plan's output."""
    from ..ops.joins import skew_router_join

    # Materialize the shingle arrays BEFORE the explode: a Generate
    # whose generator child holds the higher-order shingle expression
    # can't whole-stage-codegen, and the interpreted path loses
    # common-subexpression elimination — split(text) re-evaluates per
    # element_at, measured 3.5s vs 0.15s for the same expression
    # inside a codegen'd projection at sf0.1.
    #
    # The eager checkpoints below deliberately KEEP AQE (unlike the
    # interval dispatcher's stats jobs): an r10 A/B that scoped them
    # in no_aqe cut 3 launch-latency jobs but cost +0.6 s — AQE's
    # runtime re-plan turns the router's cold-route join into a
    # broadcast (the post-agg df table's size is invisible to static
    # planning), which outweighs the barrier tax here.
    raw = (
        fan_out(docs, id_col)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col), word_shingles_of(F.col("__w"), shingle_n).alias("__raw")
        )
        .localCheckpoint(eager=True)
    )
    tok = raw.select(F.col(id_col), F.explode("__raw").alias("term"))
    df_tbl = tok.groupBy("term").agg(F.count("*").alias("__df"))
    ranked = skew_router_join(tok, df_tbl, on="term", hot_col="__df")
    toks = (
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("term")))
            ).alias("__keyed")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("__keyed"), lambda s: s["term"]).alias("__ts"),
            F.col("__keyed"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = toks.select(
        F.col(id_col), F.size("__ts").cast("long").alias("__l"), F.col("__ts")
    )
    plen = (
        F.size("__keyed")
        - F.ceil(F.lit(threshold) * F.size("__keyed"))
        + 1
    ).cast("int")
    pref = toks.select(
        F.col(id_col),
        F.size("__keyed").cast("long").alias("__l"),
        F.posexplode(
            F.transform(F.slice("__keyed", F.lit(1), plen), lambda s: s["term"])
        ).alias("__p0", "term"),
    ).select(F.col(id_col), "__l", (F.col("__p0") + 1).alias("__p"), "term")
    pa = pref.select(
        F.col(id_col).alias("doc_a"),
        F.col("__l").alias("__la"),
        F.col("__p").alias("__pa"),
        "term",
    )
    pb = pref.select(
        F.col(id_col).alias("doc_b"),
        F.col("__l").alias("__lb"),
        F.col("__p").alias("__pb"),
        "term",
    )
    # Overlap upper bound at this match row; 1e-9 slack keeps float
    # rounding from ever pruning a boundary-equal pair (looser never
    # breaks exactness — verification is still the full intersect).
    ubound = 1 + F.least(
        F.col("__la") - F.col("__pa"), F.col("__lb") - F.col("__pb")
    )
    need_reachable = (
        (F.lit(1.0) + F.lit(threshold)) * ubound
        >= F.lit(threshold) * (F.col("__la") + F.col("__lb")) - F.lit(1e-9)
    )
    # Dedupe LATE: a pair reaches verification once per shared prefix
    # token (multiplicity bounded by prefix length and, under the
    # rarest-first order, ≈1 in practice), so verifying the slightly
    # redundant row stream and distinct-ing the tiny QUALIFIED output
    # is cheaper than a distinct shuffle over the full candidate mass
    # before the verify joins (measured 1.3s -> 0.6s at sf0.1).
    # Lengths ride the candidate rows from the prefix explode, so the
    # verify joins fetch only the token arrays.
    cand = (
        pa.join(pb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("__la", "__lb") >= F.lit(threshold) * F.greatest("__la", "__lb")
        )
        .filter(need_reachable)
        .select("doc_a", "doc_b", "__la", "__lb")
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("__ts").alias("__tsa"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("__ts").alias("__tsb"))
    inter = F.size(F.array_intersect("__tsa", "__tsb")).cast("double")
    jac = inter / (F.col("__la") + F.col("__lb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .distinct()
    )


def collapse_exact_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    checkpoint: bool = True,
    members_materialize: str = "persist",
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-collapse for similarity operators whose
    metric is a pure function of the text (shingle Jaccard, minhash
    signature, n-gram overlap): group on md5(text), keep the min-id
    representative per distinct content.

    Why this is THE scale fix for pair-emitting similarity ops: a
    viral boilerplate document duplicated 10^5 times contributes
    C(10^5, 2) ≈ 5·10^9 within-group J=1.0 pairs to any operator that
    materializes qualifying pairs — but every copy has the SAME
    similarity to everything, so all of that pair mass is redundant.
    Collapsing first makes downstream pair work proportional to
    DISTINCT content; exact counts/cluster labels over the full corpus
    are recovered arithmetically (counts multiply: |A|·|B| cross-group
    pairs, C(|A|,2) within-group) or by fanning the representative's
    label back out through the membership map.

    Returns ``(groups, members)``:

    - ``groups``: one row per distinct text — ``__k`` (content hash),
      ``__rep`` (min id), ``text_col``, ``__cnt`` (group size),
      ``__has_sh`` (≥ shingle_n words, i.e. a non-empty shingle set —
      empty-set docs have undefined Jaccard and never pair).
      localCheckpointed once: it feeds the rep-level similarity
      pipeline, the identity buckets, AND the fan-out join.
    - ``members``: (id, __rep, __has_sh) membership map for fan-out.

    Cost: one map-side-combinable groupBy on the content hash (the
    dedup_exact shuffle) + one equi-join back. Both scale linearly.
    And when ``docs`` carries a STORED ``content_hash`` column — the
    curated corpus convention (io.layout.write_curated_bucketed,
    bucketed on that column) — the groupBy keys on the stored column
    instead of recomputing md5, so on a curated scan Catalyst sees
    the clustering and BOTH the groupBy and the members join-back run
    exchange-free: the whole text-tier collapse becomes scan-side
    work, mirroring the genomics bucketed-layout win. The stored hash
    is definitionally md5(text), so the two paths are bit-identical.
    """
    key = (
        F.col("content_hash")
        if "content_hash" in docs.columns
        else F.md5(F.col(text_col))
    )
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        key.alias("__k"),
    )
    groups = (
        base.groupBy("__k")
        .agg(
            F.min(id_col).alias("__rep"),
            F.first(text_col).alias(text_col),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
        .withColumn(
            "__has_sh",
            F.size(F.split(F.col(text_col), " ")) >= F.lit(shingle_n),
        )
    )
    if checkpoint:
        # Materialized once: groups feeds the rep-level similarity
        # pipeline, the identity buckets, and the fan-out join.
        # checkpoint=False exposes the lineage plan so callers (and
        # the curated-layout tests) can verify the collapse groupBy
        # runs against the scan's reported clustering.
        groups = groups.localCheckpoint(eager=True)
    # members is built AFTER the checkpoint branch decides which
    # `groups` to use (building it first and rebuilding on the
    # checkpointed frame was dead plan construction). How it is
    # materialized depends on the CALLER's fan-out shape
    # (``members_materialize``), because Spark 4 AQE turns every USE
    # of a persisted frame into its own TableCacheQueryStage
    # materialization job (r13 job profile: setsim_prefix_join's four
    # member fan-out sides = four extra one-task driver jobs ≈ 4λ of
    # pure launch latency):
    #
    # - "persist" (default): ring_persist — right when members is
    #   consumed a few times ACROSS actions; one shared narrow
    #   (id, hash, rep, has_sh) cache, lazily filled.
    # - "checkpoint": localCheckpoint(eager) — right when ONE action
    #   references members from several plan branches: one
    #   materialization job up front, every consumer is a leaf
    #   ExistingRDD scan with zero per-use stage jobs.
    # - "none": leave the lineage — right for a SINGLE consumer,
    #   where any materialization is pure overhead (the one consumer
    #   re-derives the join exactly once either way; at scale the
    #   work is identical, one scan + one equi-join).
    members = base.select(F.col(id_col), "__k").join(
        groups.select("__k", "__rep", "__has_sh"), "__k"
    )
    if checkpoint:
        if members_materialize == "checkpoint":
            members = members.localCheckpoint(eager=True)
        elif members_materialize == "persist":
            members = ring_persist(members)
    return groups, members


def fan_out_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    diag_groups: DataFrame | None,
    scores: dict,
    a: str = "doc_a",
    b: str = "doc_b",
    swap: tuple = (),
) -> DataFrame:
    """Member-level pairs from the representative-level pairs of an
    exact-duplicate collapse (collapse_exact_text and the distinct-
    vector collapses): the one fan-out every collapsed pair operator
    shares.

    - ``rep_pairs``: (a, b, *scores) over representatives, a < b.
    - ``members``: (id_col, __rep) membership map; materialize it
      before the call (two plan branches read it).
    - ``diag_groups``: the collapse's (__rep, __cnt) group rows whose
      members pair AMONG THEMSELVES (a scoreable value: non-empty
      shingle set, non-zero vector), or None when no within-group pair
      qualifies. Each multi-member group becomes a DIAGONAL (rep, rep)
      row scoring ``scores`` — what two identical members score
      against each other.
    - ``swap``: (fwd, rev) directional score pairs, exchanged when the
      member order reverses the rep order.

    Cross-group pairs carry their rep pair's scores verbatim (identical
    content scores identically); within-group pairs are the diagonal
    rows' fan-out. ONE ma ⋈ mb join pair serves both, and the row
    filter ``a != b OR __ida < __idb`` is a no-op on cross rows
    (members of different groups are different ids) and the ordered
    within-group dedupe on diagonal rows. Cross and within sets are
    disjoint (cross spans two groups, within shares one), so there is
    no distinct over the result. Under AQE each member-side plan
    branch costs a materialization job, which is why the diagonal
    fuse beats a separate within-group self-join plus union."""
    if diag_groups is not None:
        rep_pairs = rep_pairs.unionByName(
            diag_groups.filter(F.col("__cnt") >= 2).select(
                F.col("__rep").alias(a),
                F.col("__rep").alias(b),
                *[F.lit(v).alias(c) for c, v in scores.items()],
            )
        )
    ma = members.select(F.col("__rep").alias(a), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("__rep").alias(b), F.col(id_col).alias("__idb"))
    keep = F.col("__ida") < F.col("__idb")  # member order == rep order?
    flip = {**dict(swap), **{rev: fwd for fwd, rev in swap}}
    return (
        rep_pairs.join(ma, a)
        .join(mb, b)
        .filter((F.col(a) != F.col(b)) | keep)
        .select(
            F.least("__ida", "__idb").alias(a),
            F.greatest("__ida", "__idb").alias(b),
            *[
                (
                    F.when(keep, F.col(c)).otherwise(F.col(flip[c]))
                    if c in flip
                    else F.col(c)
                ).alias(c)
                for c in scores
            ],
        )
    )


def setsim_prefix_join_collapsed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """The full exact Jaccard pair list (same contract as
    setsim_prefix_join) with exact duplicates collapsed BEFORE
    candidate generation. Jaccard is a pure function of the text, so
    the prefix join runs over DISTINCT content only and the full pair
    list is recovered by fan-out:

    - cross-group: member(A) × member(B) for each matched
      representative pair, carrying its jaccard — one equi-join per
      side, output-sized;
    - within-group: C(m, 2) id pairs at jaccard 1.0 per non-empty
      duplicate group (docs with < shingle_n words have an empty
      shingle set and undefined 0/0 Jaccard — they never pair, which
      the __has_sh flag preserves).

    Same output set as the uncollapsed form; what changes is the
    CANDIDATE mass: with m-member duplicate groups the raw prefix
    join shuffles ~m² candidate rows per distinct pair BEFORE
    verification — at 100x replication (m=100) that filled 75 GB of
    shuffle disk and died, while this form's pre-verify work is
    proportional to distinct content and its output to true pairs.

    Identical texts have identical shingle sets, so every non-empty
    duplicate group is a clique at Jaccard exactly 1.0: its pairs are
    the fan_out_rep_pairs diagonal of the group."""
    groups, members = collapse_exact_text(
        docs, id_col, text_col, shingle_n, members_materialize="checkpoint"
    )
    reps = groups.select(F.col("__rep").alias(id_col), text_col)
    rep_pairs = setsim_prefix_join(reps, id_col, text_col, threshold, shingle_n)
    # Degenerate threshold > 1.0 admits nothing (Jaccard caps at 1.0
    # for identical sets), matching the uncollapsed form: no diagonal.
    diag = groups.filter("__has_sh") if threshold <= 1.0 else None
    return fan_out_rep_pairs(rep_pairs, members, id_col, diag, {"jaccard": 1.0})


def setsim_clusters_collapsed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact near-dup clustering (transitive closure over the
    zero-false-negative setsim_prefix_join pair set) with exact
    duplicates pre-collapsed so pair mass is proportional to DISTINCT
    content, not corpus size.

    Equivalence argument (this is exact, not an approximation):
    Jaccard depends only on the shingle set, and docs with identical
    text have identical shingle sets, so doc x ~ doc y iff
    rep(x) ~ rep(y); within a group, J = 1 ≥ t connects every member
    to its representative (when the shingle set is non-empty — docs
    with < shingle_n words have undefined Jaccard and stay
    singletons, matching the SQL fixpoint where 0/0 is NULL). The
    component minimum over representatives equals the component
    minimum over all members because each representative IS its
    group's minimum id.

    Plan shape: content-hash groupBy → prefix join over distinct
    texts → star-contraction CC over representatives → one equi-join
    fan-out. The O(m²) within-group pair emission of the naive plan
    (12.4× wall at 10× replicated data) disappears entirely.

    Label-path shape (r13): the converged star edges join members
    DIRECTLY (label(rep) = coalesce(v, rep) on a left join over u) —
    the node-universe label table `connected_components_edges` builds
    is members'-rep-domain-sized and was immediately re-joined, so
    folding it away removes one corpus-scale equi-join from the
    output path. `members` itself stays un-materialized: it has
    exactly ONE consumer here, so a persist would only add a cache
    barrier for a table that is derived once either way.
    """
    groups, members = collapse_exact_text(
        docs, id_col, text_col, shingle_n, members_materialize="none"
    )
    reps = groups.select(F.col("__rep").alias(id_col), text_col)
    # Materialize the qualified pair list ONCE: the incidence below
    # references it from BOTH union branches (doc_a and doc_b sides),
    # and Spark does not dedupe common subplans across union arms —
    # without this the whole prefix-join + verify subtree executes
    # twice inside connected_components' incidence checkpoint
    # (measured 2.91s → ≈2.3s at sf0.1). The pair list is true-pair
    # sized (output-bound), so the checkpoint is tiny at any scale.
    # ring_persist, not localCheckpoint: the pair table is consumed by
    # the CC count, the contraction/local-finish, and the label join —
    # persist shares one materialization without localCheckpoint's
    # driver-side analysis+toRdd cost (the r7 lsh-signature lesson),
    # and the bounded ring releases the CacheManager entry later.
    pairs = ring_persist(
        setsim_prefix_join(reps, id_col, text_col, threshold, shingle_n)
    )
    # The verified pair list IS the edge list (doc_a < doc_b, distinct
    # by construction) — feed it to the star contraction directly
    # instead of wrapping it into a synthetic per-pair incidence,
    # which costs three pair-set-sized shuffles just to recover these
    # edges. Isolated reps label themselves via the node universe.
    edges = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    conv = contracted_star_edges(edges)
    # label(rep) = coalesce(center, rep): converged non-center reps
    # carry exactly one (u=rep, v=component-min) edge; centers and
    # isolated reps carry none and label themselves. Every member's
    # __rep is in the rep universe, so the left join covers all rows —
    # identical labels to the old nodes-join-then-members-join, one
    # join shorter.
    return members.join(conv, members["__rep"] == conv["u"], "left").select(
        members[id_col],
        F.when(members["__has_sh"], F.coalesce(conv["v"], members["__rep"]))
        .otherwise(members[id_col])
        .alias("cluster_id"),
    )


def lsh_recall_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """LSH-vs-exact-truth calibration counts (n_true, n_lsh, n_hit)
    with exact duplicates pre-collapsed — EXACT full-corpus counts
    recovered arithmetically, never materializing the within-group
    pair cliques.

    Decomposition (both pair predicates are pure functions of the
    text): for distinct-content groups A, B —

    - cross-group pairs: (x∈A, y∈B) qualifies iff (rep_A, rep_B)
      does, contributing |A|·|B| pairs — Σ cnt_a·cnt_b over the
      rep-level pair set (truth: prefix join; LSH: band join; hit:
      their intersection);
    - within-group pairs: identical shingle sets → J = 1 ≥ t (truth)
      AND identical minhash signatures → every band shared (LSH), so
      each group with a non-empty shingle set adds C(cnt, 2) to all
      three counts. Empty-shingle docs have no shingles, hence no
      bands and no defined Jaccard: they add nothing (this matches
      the SQL oracle, where such docs vanish at the explode).

    The naive form paid the 45× replicated-pair blow-up twice (truth
    AND candidates): 7.0× wall at 10× data. Here rep-level pair sets
    scale with distinct content and the group aggregate is one scan.
    """
    groups, _ = collapse_exact_text(docs, id_col, text_col, shingle_n)
    reps = groups.filter(F.col("__has_sh")).select(
        F.col("__rep").alias(id_col), text_col
    )
    cnts = groups.select(F.col("__rep"), F.col("__cnt"))
    truth = setsim_prefix_join(reps, id_col, text_col, threshold, shingle_n).select(
        "doc_a", "doc_b"
    )
    lsh = lsh_candidate_pairs(
        minhash_signature(reps, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        band_size,
    )
    ca = cnts.select(F.col("__rep").alias("doc_a"), F.col("__cnt").alias("__ca"))
    cb = cnts.select(F.col("__rep").alias("doc_b"), F.col("__cnt").alias("__cb"))

    def _mass(pairs_df: DataFrame, name: str) -> DataFrame:
        return (
            pairs_df.join(ca, "doc_a")
            .join(cb, "doc_b")
            .agg(
                F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
                .cast("long")
                .alias(name)
            )
        )

    hit = truth.join(lsh.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
    within = groups.filter(F.col("__has_sh")).agg(
        F.coalesce(F.sum(F.col("__cnt") * (F.col("__cnt") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("__w")
    )
    out = (
        _mass(truth, "n_true_x")
        .crossJoin(_mass(lsh, "n_lsh_x"))
        .crossJoin(_mass(hit, "n_hit_x"))
        .crossJoin(within)
    )
    n_true = F.col("n_true_x") + F.col("__w")
    n_lsh = F.col("n_lsh_x") + F.col("__w")
    n_hit = F.col("n_hit_x") + F.col("__w")
    return out.select(
        n_true.alias("n_true"),
        n_lsh.alias("n_lsh"),
        n_hit.alias("n_hit"),
        F.round(n_hit.cast("double") / n_true, 6).alias("recall"),
        F.round(n_hit.cast("double") / n_lsh, 6).alias("precision"),
    )
