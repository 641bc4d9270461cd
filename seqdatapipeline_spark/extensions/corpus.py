"""Corpus-level operators for pretraining-data preparation: vocabulary
statistics, sequence packing, and deterministic stratified sampling.

Scale notes per operator are on the functions; the common thread is
that each is a single map-side-combinable shuffle (or none at all) —
no driver-side loops, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import fan_out


def vocab_top_terms(
    docs: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """Corpus vocabulary pass: global token frequencies, top-N by
    (count desc, token asc). One explode + one groupBy with map-side
    partial aggregation — the wordcount shape that scales linearly —
    then a top-N. The final orderBy+limit only ever sees |vocab| rows
    (bounded by language, not corpus size), and Spark executes
    limit-after-sort as a TakeOrdered, so no global sort of the corpus
    happens."""
    tok = fan_out(docs).select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_n)


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed
    token-budget bins (training context windows), the packing pass
    that turns a deduped corpus into model batches.

    Documents are deterministically sharded by hash of id, then packed
    greedily in id order within each shard: bin boundary = the running
    token total crossing a multiple of ``budget``. The running sum is
    a window cumsum *partitioned by shard* — at 100 TB the window
    never sees more than 1/n_shards of the data, and shards pack
    independently (no global sequential scan, which is what makes
    naive greedy packing unscalable). Oversized documents (> budget)
    get a bin of their own, as in practice they are truncated
    downstream.

    Output: (doc_id, n_tokens, shard, bin_id, bin_fill) — bin_id is
    globally unique via (shard, per-shard bin index)."""
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    # md5-derived shard (not xxhash64): engine-portable, so the oracle
    # can replicate the exact packing.
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10).cast("long")
        % F.lit(n_shards)
    ).cast("int")
    d = fan_out(docs, id_col).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        shard.alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    # Greedy rule: a doc opens a new bin when the cumulative total
    # before it, floored to budget multiples, differs from after it.
    cum = F.sum(F.least(F.col("n_tokens"), F.lit(budget))).over(w)
    binned = d.select(
        id_col,
        "n_tokens",
        "shard",
        F.floor((cum - F.least(F.col("n_tokens"), F.lit(budget))) / budget).alias("__bin_in_shard"),
        cum.alias("__cum"),
    )
    out = binned.select(
        id_col,
        "n_tokens",
        "shard",
        (F.col("shard").cast("long") * F.lit(1_000_000_000) + F.col("__bin_in_shard")).alias(
            "bin_id"
        ),
    )
    fill = Window.partitionBy("bin_id")
    return out.withColumn(
        "bin_fill", F.sum(F.least(F.col("n_tokens"), F.lit(budget))).over(fill)
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    precision: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing pass that
    up/down-weights sources when assembling a training mix.

    Keep a row iff ``md5(id) mod precision < rate * precision`` for
    its stratum's rate. Hash-gated sampling is reproducible across
    runs, engines, and partitionings (unlike `df.sample`, which
    depends on partition layout), needs no shuffle at all — it is a
    pure filter that pushes into the scan — and composes: re-sampling
    with a lower rate yields a subset of the higher-rate sample.
    Rates fold into a CASE chain like band_classify (dim-sized by
    construction)."""
    gate = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10).cast(
        "long"
    ) % F.lit(precision)
    rate_expr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strata_col) == F.lit(stratum)
        thr = F.lit(int(rate * precision))
        rate_expr = F.when(cond, thr) if rate_expr is None else rate_expr.when(cond, thr)
    rate_expr = (
        rate_expr.otherwise(F.lit(int(default_rate * precision)))
        if rate_expr is not None
        else F.lit(int(default_rate * precision))
    )
    return docs.filter(gate < rate_expr)


def mix_resample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    precision: int = 1_000_000,
) -> DataFrame:
    """Mixture resampling WITH repetition — the generalization of
    ``stratified_sample`` to rates above 1, which is how a training
    mix up-weights a scarce high-quality source (rate 2.3 = every row
    twice, plus a third copy for a deterministic 30% of rows). Emits
    one output row per (input row, epoch), ``epoch`` = 1..n_copies, so
    downstream shuffling/packing treats repeats as independent docs.

    Same scale contract as the sampler: the whole operator is a CASE
    chain + one hash compare + an explode of a tiny sequence — a
    narrow projection that never shuffles, reproducible across runs,
    engines, and partition layouts. The fractional-copy gate hashes
    ``id || ':rep'`` so it decorrelates from any sampling gate applied
    upstream of the mix."""
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":rep"))), 1, 14
        ),
        16,
        10,
    ).cast("long") % F.lit(precision)
    base_expr = None
    thr_expr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strata_col) == F.lit(stratum)
        base = F.lit(int(rate))
        thr = F.lit(int(round((rate - int(rate)) * precision)))
        base_expr = F.when(cond, base) if base_expr is None else base_expr.when(cond, base)
        thr_expr = F.when(cond, thr) if thr_expr is None else thr_expr.when(cond, thr)
    d_base = F.lit(int(default_rate))
    d_thr = F.lit(int(round((default_rate - int(default_rate)) * precision)))
    base_expr = base_expr.otherwise(d_base) if base_expr is not None else d_base
    thr_expr = thr_expr.otherwise(d_thr) if thr_expr is not None else d_thr
    n_copies = base_expr + (gate < thr_expr).cast("int")
    return docs.withColumn(
        "epoch",
        F.explode(
            F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies))
        ),
    ).withColumn("epoch", F.col("epoch").cast("long"))


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with a held-out eval/benchmark set (the overlap check
    GPT-3/PaLM-style pipelines run before training so eval scores
    aren't memorization artifacts).

    Returns (id, n_shared) for contaminated docs only — ``n_shared``
    = number of distinct benchmark n-grams the doc contains; callers
    anti-join it against the corpus to drop (or mask) the hits.

    Scale contract: the benchmark side is eval-set-sized (MBs against
    a 100 TB corpus), so its distinct-gram set is explicitly
    ``broadcast()`` — the exploded train side map-side hash-probes it
    with NO shuffle of the exploded rows; the only shuffle is the
    map-side-combinable groupBy on doc id, which carries at most one
    row per (contaminated doc, gram hit). An eval set too big for one
    broadcast gets chunked and unioned — overlap-with-any distributes
    over union.

    Exact duplicates on the train side are pre-collapsed
    (dedup.collapse_exact_text): ``n_shared`` is a pure function of
    the text, so the explode + probe + groupBy run once per DISTINCT
    content and the representative's count fans back out through one
    equi-join. On a crawl corpus where boilerplate repeats 10^5
    times, probe/agg mass tracks distinct content instead of paying
    the duplication factor — exactly the same answer, linearly less
    work."""
    from .dedup import collapse_exact_text, word_shingles_of

    # Split bound to a column before each explode: see
    # dedup.word_shingles_of (Generate runs interpreted without CSE).
    bench_grams = (
        bench.select(F.col(text_col)).distinct()
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(F.explode(word_shingles_of(F.col("__w"), n)).alias("gram"))
        .distinct()
    )
    groups, members = collapse_exact_text(train, id_col, text_col, n)
    reps = groups.select(F.col("__rep"), F.col(text_col))
    rep_grams = (
        fan_out(reps, "__rep")
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(
            F.col("__rep"), F.explode(word_shingles_of(F.col("__w"), n)).alias("gram")
        )
    )
    # Both sides are distinct per key (word_shingles_of dedups per doc),
    # so count(*) after the join = |distinct shared n-grams|.
    rep_counts = (
        rep_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("__rep")
        .agg(F.count("*").alias("n_shared"))
    )
    return members.join(rep_counts, "__rep").select(F.col(id_col), "n_shared")


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: str = "42",
) -> DataFrame:
    """Deterministic global shuffle into training shards: the final
    pass that fixes a reproducible training order. Each row gets
    ``shard`` = hash-bucket of (seed, id) and ``pos`` = its rank in
    hash order within the shard; changing ``seed`` draws a fresh
    independent permutation, and every run / engine / partition layout
    agrees on the result (unlike ``orderBy(rand())``).

    Scale contract: md5 is computed in one narrow projection; the
    only shuffle is the window's hash partition on ``shard``, and each
    window partition sees 1/n_shards of the corpus — there is NO
    global sort. The physical writer mirrors the logical op:
    ``repartition(n_shards, "shard").sortWithinPartitions("pos")``
    streams each shard to its file in order."""
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 14), 16, 10).cast("long") % F.lit(n_shards)
    ).cast("int")
    d = fan_out(df, id_col).select(
        F.col(id_col), shard.alias("shard"), h.alias("__h")
    )
    w = Window.partitionBy("shard").orderBy("__h")
    return d.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def uniform_sample_k(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int = 100,
) -> DataFrame:
    """Exactly-k uniform sample per group, deterministically: keep the
    k smallest md5(id) in each group. An md5 ordering is a uniform
    random permutation of ids that every run, engine, and partition
    layout agrees on — so the sample is reproducible AND composable
    (the k'-sample for k' < k is a strict subset; a later rerun over
    grown data evicts rows only by hash order). Fixed-size per-group
    draws are what rate-based sampling (stratified_sample) can't give
    you: eval/holdout splits, per-source caps, debugging slices.

    One keyed window over (group, hash) — shuffle carries the input
    once; groups smaller than k pass through whole."""
    w = Window.partitionBy(*group_cols).orderBy(F.md5(F.col(id_col).cast("string")))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def mixture_weights(
    docs: DataFrame,
    strata_col: str,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture weights: per-source token counts and
    the sampling weight ``n_tokens^alpha / sum(n_tokens^alpha)`` —
    the multinomial that upsamples scarce sources (alpha < 1 flattens
    the natural distribution; alpha = 1 keeps it; alpha = 0 is
    uniform). This computes the rates that ``mix_resample`` consumes:
    weight / share > 1 means the source is repeated.

    One map-side-combinable groupBy over the corpus; the normalizing
    sum runs in an unpartitioned window over the per-source aggregate
    — source-cardinality-sized (tens of rows), never the corpus.
    Shares and weights are rounded to 6 so downstream threshold
    comparisons are engine-stable."""
    per = fan_out(docs).groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " ")).cast("long")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    powed = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    return per.select(
        strata_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias("share"),
        F.round(powed / F.sum(powed).over(w), 6).alias("weight"),
    )


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    ratios: tuple[tuple[str, int], ...] = (("train", 80), ("valid", 10), ("test", 10)),
) -> DataFrame:
    """Deterministic hash-based train/valid/test assignment: bucket =
    md5(id) mod 100, split = the ratio band the bucket falls in. The
    split is a pure row-wise function of the id — no shuffle, no state,
    stable under reruns, partition layout, and data growth (a doc never
    migrates between splits when the corpus grows, which random-split
    approaches can't guarantee). md5 keeps the gate engine-portable.

    ``ratios`` are integer percents summing to <= 100; any remainder
    falls into the last split."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10).cast("long")
        % 100
    )
    expr = F.lit(ratios[-1][0])
    cum = 0
    conds = []
    for name, pct in ratios[:-1]:
        cum += pct
        conds.append((cum, name))
    for cum, name in reversed(conds):
        expr = F.when(bucket < cum, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Fixed-size overlapping character chunks (the RAG / context-window
    preprocessing pass): chunk k covers [k*stride, k*stride + size).
    One narrow explode per document — output rows ~= chars/stride, no
    shuffle at all; at 100 TB this is a pure map stage whose output
    feeds the embedding/packing stages downstream.

    Empty documents emit one empty chunk (start index 0) so every doc
    survives into the chunk table. Guard: Spark's sequence(0, -1)
    yields [0, -1] (auto negative step), hence the greatest(len-1, 0)
    clamp mirrored in the oracle."""
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        fan_out(docs, id_col)
        .select(F.col(id_col), F.col(text_col), F.explode(starts).alias("__start"))
        .select(
            id_col,
            (F.col("__start") / stride).cast("long").alias("chunk_id"),
            F.substring(F.col(text_col), F.col("__start") + 1, size).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


def ngram_counts(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top_n: int = 50,
) -> DataFrame:
    """Corpus n-gram language-model counts: every (non-distinct) word
    n-gram with its corpus frequency, top-N by (count desc, gram asc).
    The wordcount shape — explode + map-side-combinable groupBy — so
    it scales linearly; the orderBy+limit is a TakeOrdered over the
    bounded vocabulary, never a global sort of the corpus. Documents
    shorter than n words contribute nothing (the when-guard avoids
    Spark's sequence(1, 0) -> [1, 0] negative-step surprise)."""
    # Split bound to a column before the explode (Generate runs
    # interpreted without CSE — see dedup.word_shingles_of).
    wc = F.col("__w")
    hi = (F.size(wc) - (n - 1)).cast("int")
    idx = F.when(hi >= 1, F.sequence(F.lit(1), hi)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(" ", *[F.element_at(wc, i + k) for k in range(n)])
    grams = (
        fan_out(docs)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(F.explode(F.transform(idx, gram)).alias("gram"))
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("gram")).limit(top_n)


def token_entropy(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source Shannon entropy of the token distribution (nats) —
    the diversity screen that separates boilerplate-heavy sources
    (low entropy: the same tokens over and over) from natural text
    when weighing a pretraining mix.

    Uses the one-pass identity H = ln(T) - (sum n_t ln n_t) / T over
    per-token counts, so the whole thing is two map-side-combinable
    groupBys (corpus -> (source, token) counts -> source) — no join
    back, no window, nothing driver-side. Rounded to 6 so the sum's
    float accumulation order can't flip the hash."""
    tok = fan_out(docs).select(
        F.col(strata_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    per = tok.groupBy(strata_col, "token").agg(F.count(F.lit(1)).alias("n"))
    agg = per.groupBy(strata_col).agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.col("n") * F.log("n")).alias("__s"),
    )
    return agg.select(
        strata_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(
            F.log("n_tokens") - F.col("__s") / F.col("n_tokens"), 6
        ).alias("entropy_nats"),
    )


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    domain_col: str = "domain",
    path_col: str = "path",
    disallow_col: str = "disallow",
) -> DataFrame:
    """Robots/compliance path filter: drop every page whose path
    starts with ANY disallow prefix registered for its domain — the
    gate a crawl corpus applies between URL canonicalization and
    content processing (robots.txt Disallow lines, site opt-outs,
    per-directory license carve-outs all share this prefix-match
    shape).

    The rules side is site-policy-sized by construction (a few rows
    per domain — robots files are human-written), so it broadcasts
    and the filter is ONE map-side left_anti pass over the corpus:
    equi-key on domain, prefix predicate as the residual join
    condition, no shuffle of page rows at any scale. Pages whose
    domain has no rules pass through (anti-join semantics), matching
    robots' allow-by-default.

    Directory-root semantics (ADVICE r10): ``path_col`` holds the
    trailing-slash-STRIPPED path (ops.strings.url_path), so a page
    whose real path is exactly a disallowed directory ('/de/' stored
    as '/de') would escape a raw prefix match on '/de/'. A disallow
    ending in '/' therefore ALSO blocks the page whose stripped path
    equals the disallow minus its trailing slashes. Deliberate
    over-block on the slashless spelling ('/de' the file): with
    stripped storage it is indistinguishable from '/de/' the
    directory root, and url_normalize canonicalizes both to the same
    key anyway — blocking is the compliance-safe default."""
    r = rules.select(
        F.col(domain_col).alias("__rd"),
        F.col(disallow_col).alias("__dis"),
        F.regexp_replace(F.col(disallow_col), "/+$", "").alias("__dis_root"),
        F.col(disallow_col).endswith("/").alias("__dis_is_dir"),
    )
    cond = (F.col(domain_col) == F.col("__rd")) & (
        F.col(path_col).startswith(F.col("__dis"))
        | (F.col("__dis_is_dir") & (F.col(path_col) == F.col("__dis_root")))
    )
    return pages.join(F.broadcast(r), cond, "left_anti")


def boilerplate_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 3,
    max_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate removal — the C4/RefinedWeb corpus
    step that DISCARDS any text span occurring in too many documents
    (navigation bars, cookie banners, license footers), as opposed to
    repetition_metrics (intra-doc) and decontaminate_* (benchmark
    overlap). Text is flat word streams here, so the 'line' unit is a
    fixed ``chunk_words`` window; a span kept iff it appears in at
    most ``max_docs`` distinct documents.

    Plan: chunk explode → one map-combinable distinct-doc count per
    chunk → join-back via skew_router_join (THE boilerplate join is
    skew incarnate: a viral cookie banner is one key carrying a large
    share of the corpus — the router broadcasts the power-law head so
    those rows never shuffle) → per-doc ordered reassembly of
    surviving chunks. Two shuffles + the routed join at any scale.
    Returns (id, clean_text, n_dropped_chunks); docs whose every
    chunk is boilerplate come back with clean_text ''."""
    from ..ops.joins import skew_router_join

    cw = chunk_words
    n_chunks = F.ceil(F.size("__ws") / F.lit(float(cw))).cast("int")
    chunk_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("__ws"), i * cw + 1, cw), " "
    )
    chunks = (
        fan_out(docs, id_col)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ws"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_at)
            ).alias("pos", "chunk"),
        )
    )
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct(id_col).cast("long").alias("n_docs")
    )
    joined = skew_router_join(chunks, freq, on="chunk", hot_col="n_docs")
    per_doc = joined.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("pos"),
                    F.col("chunk"),
                    (F.col("n_docs") <= F.lit(max_docs)).alias("keep"),
                )
            )
        ).alias("__cs")
    )
    kept = F.filter(F.col("__cs"), lambda s: s["keep"])
    return per_doc.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["chunk"]), " ").alias("clean_text"),
        (F.size("__cs") - F.size(kept)).cast("long").alias("n_dropped_chunks"),
    )
