"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure Catalyst expressions (split / regexp / higher-order
functions) — these run inside WholeStageCodegen over the raw text
column, so a 100 TB corpus pass is scan-bound, not CPU-bound in
Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import fan_out

# Tiny stopword marker sets per language for the n-gram/stopword
# language heuristic. Deliberately minimal and deterministic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "y"],
    "fr": ["le", "la", "et", "de"],
    "de": ["der", "die", "und", "das"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def re_token_count(t: Column) -> Column:
    """COUNT of TOKEN_RE matches without materializing them:
    ``size(regexp_extract_all(t, TOKEN_RE))`` allocates a string per
    match plus the array just to take its length — measured 112s for
    5M docs (270M tokens) where this arithmetic form takes 8.6s
    (13x): collapse each alnum run to one char, strip whitespace, and
    the remaining length IS the token count (runs -> 1, each
    non-alnum-non-space char -> 1). Verified equal to the extract_all
    form on the full sf0.1 corpus; the DuckDB oracles keep
    regexp_extract_all — same values either way."""
    return F.length(
        F.regexp_replace(F.regexp_replace(t, r"[A-Za-z0-9]+", "a"), r"\s+", "")
    ).cast("long")


def marker_hits(text: Column, markers: list[str]) -> Column:
    """Occurrences of any marker word (whitespace tokenization)."""
    words = F.split(text, " ")
    lit_markers = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(lit_markers, F.lower(w)))).cast("long")


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Stopword-marker language heuristic: score each language by
    marker-word density, argmax with a deterministic tie-break order.
    (A real n-gram model drops into the same shape: score columns +
    greatest().)"""
    t = F.col(text_col)
    scored = fan_out(df)
    for lang, markers in LANG_MARKERS.items():
        scored = scored.withColumn(f"__s_{lang}", marker_hits(t, markers))
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # dict order = deterministic tie-break
        pred = pred.when(F.col(f"__s_{lang}") == best, F.lit(lang))
    scored = scored.withColumn(out_col, pred)
    return scored.drop(*[f"__s_{lang}" for lang in LANG_MARKERS])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document quality features: length, word count, mean word length,
    punctuation ratio, stopword ratio, and a blended 0-1 score.
    Everything is length arithmetic — no tokenizing UDF."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    words = F.split(t, " ")
    n_words = F.size(words).cast("long")
    mean_word_len = (n_chars - (n_words - 1)) / n_words  # single-spaced text
    n_punct = (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("long")
    # try_divide: an EMPTY text has n_chars 0, and ANSI division
    # throws mid-job; NULL matches the DuckDB oracle's /0 behavior,
    # and least() skips the NULL identically in both engines.
    punct_ratio = F.try_divide(n_punct, n_chars)
    stop_lit = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_lit, F.lower(w)))).cast("long")
    stop_ratio = n_stop / n_words
    # Blend: long enough, some stopwords (fluency), low punctuation noise.
    len_term = F.least(n_words.cast("double") / 50.0, F.lit(1.0))
    score = F.round(0.4 * len_term + 0.4 * F.least(stop_ratio * 5.0, F.lit(1.0)) + 0.2 * (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))), 6)
    return fan_out(df).select(
        "*",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        F.round(mean_word_len, 6).alias("q_mean_word_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(stop_ratio, 6).alias("q_stop_ratio"),
        score.alias("q_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (alnum runs + single punctuation marks) — the pretraining
    size-accounting pass."""
    t = F.col(text_col)
    return fan_out(df).select(
        "*",
        F.size(F.split(t, r"\s+")).cast("long").alias("n_ws_tokens"),
        re_token_count(t).alias("n_re_tokens"),
    )


def tokenizer_fertility(
    df: DataFrame,
    group_cols: list[str] = ("lang",),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per group (typically language): chars per
    BPE-ish token and tokens per whitespace word — the compression
    stats multilingual data work tracks, since a tokenizer that
    fragments a language inflates its effective token share and
    training cost. One corpus scan, map-side-combinable sums; output
    cardinality = group count."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_ws = F.size(F.split(t, r"\s+")).cast("long")
    n_re = re_token_count(t)
    rows = fan_out(df).select(*group_cols, n_chars.alias("__c"), n_ws.alias("__w"), n_re.alias("__t"))
    return rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").alias("n_tokens"),
        F.round(F.sum("__c") / F.sum("__t"), 6).alias("chars_per_token"),
        F.round(F.sum("__t") / F.sum("__w"), 6).alias("tokens_per_word"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 5) -> DataFrame:
    """Document fingerprint: minimum hash over word n-gram shingles
    (winnowing-lite / rolling-hash family). Equal fingerprints ⇒
    near-dup candidates; groupable at any scale.

    The word array is bound to a column: with split(text) inlined
    into the shingle lambda, interpreted HOF evaluation re-splits per
    element_at — 5 splits x 50 shingles per doc, measured 215s at 5M
    docs vs ~8s bound (the multi-reference projection survives
    CollapseProject; see dedup.word_shingles_of)."""
    from ..session import fan_out
    from .dedup import word_shingles_of

    fp = F.array_min(
        F.transform(word_shingles_of(F.col("__w"), shingle_n), lambda s: F.md5(s))
    )
    return (
        fan_out(df)
        .withColumn("__w", F.split(F.col(text_col), " "))
        .select(F.col(id_col), fp.alias("fingerprint"))
        # Docs too short to yield a single shingle have no fingerprint
        # row at all (a SQL unnest-over-shingles drops them naturally;
        # emitting a NULL fingerprint made every such doc a phantom
        # "duplicate" of every other short doc — dirty-parity r11).
        .filter(F.col("fingerprint").isNotNull())
    )


# Ordered: emails first (they contain dots and digits), IPs before
# phones (a phone pattern would eat dotted quads). Patterns restricted
# to syntax shared by Java regex (Spark) and RE2 (DuckDB) so the
# oracle replays them verbatim.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9 ().-]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """PII scrubbing — the redaction pass a training corpus gets
    before anything else sees it: emails, IPv4 addresses, and
    phone-number shapes replaced with typed placeholders. A chain of
    native regexp_replace calls — pure narrow projection inside
    codegen, pushes nothing, shuffles nothing; at 100 TB this runs at
    scan speed."""
    out = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn(out_col, out)


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals: most-frequent-word ratio and
    duplicate-line fraction per document — the quality rules that cull
    boilerplate and spam from a pretraining corpus (Rae et al. 2021
    §A1.1 use thresholds on exactly these).

    One corpus scan: the per-row line stats (pure array expressions,
    no explode) ride along through the word explode + two-level
    aggregation, so the fact table is read once. Shuffle carries one
    row per (doc, distinct word) — the wordcount shape."""
    lines = F.split(F.col(text_col), "\n")
    base = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("__n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("__n_uniq"),
        F.explode(F.split(F.col(text_col), " ")).alias("__w"),
    )
    wc = base.groupBy(id_col, "__w").agg(
        F.count("*").alias("__n"),
        F.first("__n_lines").alias("__n_lines"),
        F.first("__n_uniq").alias("__n_uniq"),
    )
    return wc.groupBy(id_col).agg(
        F.sum("__n").cast("long").alias("n_words"),
        F.round(F.max("__n") / F.sum("__n"), 6).alias("top_word_ratio"),
        F.round(
            F.lit(1.0) - F.first("__n_uniq") / F.first("__n_lines"), 6
        ).alias("dup_line_frac"),
    )


def clean_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """HTML/markup stripping + whitespace normalization — the first
    pass of every web-scrape ingestion pipeline: drop tags, decode the
    common entities, collapse runs of whitespace, trim. Pure row-wise
    JVM regex (no UDF), so it rides inside whole-stage codegen and
    costs one scan at any scale. Patterns stay in the Java-regex ∩ RE2
    dialect so the DuckDB oracle replays them byte-identically."""
    t = F.regexp_replace(F.col(text_col), "<[^>]+>", " ")
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, rep)
    t = F.trim(F.regexp_replace(t, "\\s+", " "))
    return df.select(
        id_col,
        t.alias(out_col),
        F.length(t).cast("long").alias("n_chars_clean"),
    )


def lm_doc_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_types: int = 2_000_000,
) -> DataFrame:
    """Bigram language-model scoring — the KenLM-style perplexity
    filter of web-corpus pipelines, re-expressed relationally: train
    add-one-smoothed bigram probabilities on the corpus itself, then
    score every document by the mean log-probability of its bigram
    instances. Low scores mark boilerplate-free but incoherent text;
    high scores mark repetitive/templated text.

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)

    Shape: the bigram-instance stream (doc_id, w1, w2) is scanned
    TWICE — once into the c(w1,w2) aggregate, once for scoring — and
    never materialized: the r5 form localCheckpointed it, which at 5M
    docs pinned ~25 GB of instance rows in block-manager storage and
    starved the downstream hash aggregations outright
    (AGGREGATE_OUT_OF_MEMORY at 1000x replication with a 48g heap),
    where the two extra narrow scans cost seconds. Everything else
    derives from the bigram-TYPE table, which IS materialized
    (localCheckpoint — type-sized: grows with the vocabulary, not the
    corpus): c(w1,·) = Σ_w2 c(w1,w2) and V = |distinct tokens over
    its keys| (every token occurs in some bigram position), so the
    context and vocab aggregates read the checkpointed type table —
    without the checkpoint each of their FOUR references re-derived
    it from the corpus (5 full scans in the printed plan). The vocab
    size V rides in on a 1-row broadcast equi-join (constant key),
    never a driver-side collect. Docs with fewer than 2 tokens carry
    no bigram and are excluded, matching the SQL mirror."""
    # Split bound to a column before the explode: a Generate whose
    # generator embeds split(text) re-evaluates it per element_at
    # (no codegen/CSE in Generate) — see dedup.word_shingles_of.
    w = F.split(F.col(text_col), " ")
    wc = F.col("__w")
    bi = F.transform(
        F.sequence(F.lit(1), (F.size(wc) - 1).cast("int")),
        lambda i: F.struct(
            F.element_at(wc, i).alias("w1"), F.element_at(wc, i + 1).alias("w2")
        ),
    )
    inst = (
        fan_out(df.filter(F.size(w) >= 2), id_col)
        .withColumn("__w", w)
        .select(F.col(id_col), F.explode(bi).alias("b"))
        .select(F.col(id_col), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c_bi = (
        inst.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_bi"))
        .localCheckpoint(eager=True)
    )
    c_ctx = c_bi.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx"))
    vocab = (
        c_bi.select(F.col("w1").alias("t"))
        .union(c_bi.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").cast("long").alias("v"))
    )
    # The 1-row vocab count crosses into the vocab-BOUNDED context
    # table (an O(|vocab|) nested-loop by construction), never into
    # the corpus-sized instance table.
    c_ctx_v = c_ctx.crossJoin(F.broadcast(vocab))
    # Broadcast guard: the model tables grow with the bigram TYPE
    # count, not the corpus — bounded for a fixed-vocab contract, but
    # an unbounded-vocab 100 TB corpus (URLs, code, numerals) can blow
    # past driver/executor broadcast memory. The checkpointed c_bi is
    # already materialized, so counting it is a cheap scan of stored
    # blocks; above the threshold both scoring joins drop the hint and
    # fall to shuffled hash/SMJ joins, which only need the shuffle the
    # instance stream would pay anyway. Same tiering pattern as
    # extensions.graph.weighted_pagerank_from_half's broadcast-rounds
    # cutover.
    small_model = c_bi.count() <= broadcast_types
    bi_side = F.broadcast(c_bi) if small_model else c_bi
    ctx_side = F.broadcast(c_ctx_v) if small_model else c_ctx_v
    logp = F.log((F.col("c_bi") + 1) / (F.col("c_ctx") + F.col("v")))
    return (
        inst.join(bi_side, ["w1", "w2"])
        .join(ctx_side, "w1")
        .groupBy(id_col)
        .agg(
            F.round(F.avg(logp), 6).alias("lm_score"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
    )


def rule_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 1000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_ratio: float = 0.0,
    max_repeat_ratio: float = 0.6,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """C4/Gopher-style rule gate with per-rule attribution: each
    heuristic is its own 0/1 column next to the final ``keep``, so a
    corpus report can say *which* rule removed *how much* — the
    difference between a filter you can tune and one you can only
    rerun (C4 and Gopher both publish their rules precisely so they
    can be audited this way).

    Rules: word-count band, mean-word-length band, stopword floor
    (fluency proxy), repeated-token ceiling (1 − distinct/total —
    boilerplate proxy). All pure length/array arithmetic in one
    whole-stage-codegen pass — the gate costs one corpus scan at any
    scale. Flags are ints, not bools, for cross-engine hash parity."""
    w = F.split(F.col(text_col), " ")
    n_words = F.size(w).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    mean_wl = (n_chars - (n_words - 1)) / n_words
    stop_lit = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_lit, x))) / n_words
    repeat_ratio = 1.0 - F.size(F.array_distinct(w)) / n_words
    r_len = (n_words >= min_words) & (n_words <= max_words)
    r_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_stop = stop_ratio > min_stop_ratio
    r_rep = repeat_ratio <= max_repeat_ratio
    return fan_out(df, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(repeat_ratio, 6).alias("repeat_ratio"),
        r_len.cast("long").alias("pass_len"),
        r_wl.cast("long").alias("pass_word_len"),
        r_stop.cast("long").alias("pass_stopword"),
        r_rep.cast("long").alias("pass_repeat"),
        (r_len & r_wl & r_stop & r_rep).cast("long").alias("keep"),
    )
