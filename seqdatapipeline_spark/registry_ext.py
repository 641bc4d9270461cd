"""Training-data pipeline extension registry: dedup, similarity
search, text analysis, multimodal plumbing — each a graded
`queries()` entry, SQL-oracled wherever DuckDB can express the same
semantics (md5-based hashing keeps both engines bit-identical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extensions import dedup as dd
from .extensions import multimodal as mm
from .extensions import similarity as sim
from .extensions import textstats as tx
from .io import layout as lay
from .registry import _t, _t_events_curated, q
from .session import fan_out, persist_for_rescan

# Shared CTE fragments for shingle-based oracles.
_SHINGLES3 = """
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS shingle
  FROM documents
"""


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy — one map-side-combinable
    shuffle at any scale. When the session carries a curated corpus
    copy with a STORED content_hash column, bucketed on it
    (io.layout.write_curated_bucketed — the ingest-time convention a real
    100 TB corpus store follows), even that one exchange disappears:
    the groupBy runs against the scan's reported clustering. The
    stored hash is definitionally md5(text), so both paths are
    bit-identical."""
    src, curated = lay.curated_or_parquet(
        spark, sf_dir, "documents", "content_hash"
    )
    if curated and "content_hash" in src.columns:
        return src.groupBy("content_hash").agg(
            F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups")
        )
    if curated:
        # Anomalous curated table (no stored hash — the condition the
        # guard exists for): degrade to the known-good plain read, do
        # NOT feed the anomalous table onward.
        return dd.exact_dedup_groups(_t(spark, sf_dir, "documents"))
    # Reuse the detection read — re-reading via _t() paid a second
    # driver-side parquet footer/schema pass per call (r8 bench creep).
    return dd.exact_dedup_groups(src)


def _docs_maybe_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table, preferring the curated copy (stored
    content_hash column, bucketed on it) when this session carries
    one. Consumers that collapse on content hash
    (dedup.collapse_exact_text) then group against the scan's
    reported clustering — no Exchange — and skip the md5 recompute;
    on the plain path this is exactly _t(spark, sf_dir, 'documents').
    Queries stay layout-agnostic: same rows either way."""
    src, curated = lay.curated_or_parquet(spark, sf_dir, "documents", "content_hash")
    if curated and "content_hash" in src.columns:
        return src
    if curated:
        # Curated table without the stored hash — anomalous; degrade
        # to the known-good plain read rather than serving it.
        return _t(spark, sf_dir, "documents")
    # src IS the plain documents read here (layout memoizes it) —
    # calling _t() again would re-pay the parquet footer read.
    return src


def _co_order_half_maybe_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (src < dst, w) half-edge set of the item co-order
    graph, preferring the curated stored copy
    (io.layout.write_curated_edges — bucketed on src) when this
    session carries one. Every graph consumer derives its edge shape
    from this one table: unweighted = drop w, full directed = mirror
    union, undirected half = as-is. The derivation is deterministic,
    so both paths are bit-identical; on the plain path the half set is
    ring-persisted because the mirror union reads it twice."""
    from .extensions import graph as gr
    from .session import ring_persist

    cur = lay.curated_edges_or_none(spark, sf_dir)
    if cur is not None:
        # Persist the fold for the same reason as the plain path:
        # mirror_edges' swapped union branch breaks exchange reuse,
        # so an unpersisted fold would scan+aggregate the stored
        # table once per branch.
        return ring_persist(cur)
    return ring_persist(
        gr.co_occurrence_weighted_half(
            _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", max_group=64
        )
    )


def _minhash_ctes(num_hashes: int = 12, band_size: int = 2) -> str:
    # Mirrors extensions.dedup.minhash_signature: K-M double hashing,
    # mh_j = min((h1 + j*h2) % 2^56) over the two 56-bit md5 halves.
    # Returns the shared CTE body ending at `keyed` (doc, band_key)
    # so pair and cluster oracles compose the same pipeline.
    mod = 1 << 56
    mh_cols = ",\n           ".join(
        f"min((h1 + {j} * h2) % {mod}) AS mh{j}" for j in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, '{b}|' || mh{c0} || '|' || mh{c1} AS band_key FROM sig".format(
            b=b, c0=b * band_size, c1=b * band_size + 1
        )
        for b in range(n_bands)
    )
    return f"""sh AS ({_SHINGLES3}),
    hh AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM hh GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    ),
    keyed AS (SELECT DISTINCT doc_id, band_key FROM bands)"""


def _minhash_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    return f"""
    WITH {_minhash_ctes(num_hashes, band_size)}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


@q("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: shingle → 12-hash signature →
    6 band keys → equi-join on band key. No pair outside a shared
    bucket is ever materialized (the 100 TB requirement). Hashes are
    lexicographic-min over md5 hex — engine-portable, no murmur seed.
    On a curated corpus (stored content_hash, bucketed) the signature
    stage runs over distinct texts only with an exchange-free collapse
    (dedup.minhash_dedup_pairs curated path)."""
    return dd.minhash_dedup_pairs(
        _docs_maybe_curated(spark, sf_dir), num_hashes=12, band_size=2, shingle_n=3
    )


_SIMHASH_BITS = 16


def _simhash_sig_ctes(bits: int = _SIMHASH_BITS) -> str:
    """CTE chain ending in sig(doc_id, simhash) — shared by the
    signature query and the Hamming-pair query."""
    sums = ",\n           ".join(
        f"CAST(sum(CASE WHEN substr(md5(tok), {b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE 0 END) AS BIGINT) AS b{b}"
        for b in range(bits)
    )
    sig = " || ".join(f"CASE WHEN b{b} * 2 > n_tok THEN '1' ELSE '0' END" for b in range(bits))
    return f"""tok AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_tok,
             unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    votes AS (
      SELECT doc_id, n_tok,
           {sums}
      FROM tok GROUP BY doc_id, n_tok
    ),
    sig AS (SELECT doc_id, {sig} AS simhash FROM votes)"""


def _simhash_oracle(bits: int = _SIMHASH_BITS) -> str:
    return f"""
    WITH {_simhash_sig_ctes(bits)}
    SELECT doc_id, simhash FROM sig
    """


@q("dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures: per-bit majority vote over token hashes.
    Near-dup candidates come from banding the signature
    (extensions.dedup.simhash_candidate_pairs) — same equi-join-on-
    bucket scale shape as MinHash LSH."""
    return dd.simhash_signature(
        _t(spark, sf_dir, "documents"), bits=_SIMHASH_BITS
    )


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_SHINGLES3}),
    eligible AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 64
    ),
    esh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN eligible USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM esh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM esh a JOIN esh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.shared,
           round(s.shared / (sa.n_sh + sb.n_sh - s.shared) * 1.0, 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.doc_a = sa.doc_id
    JOIN sizes sb ON s.doc_b = sb.doc_id
    WHERE round(s.shared / (sa.n_sh + sb.n_sh - s.shared) * 1.0, 6) >= 0.05
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard over candidate pairs from an inverted index with
    a DF-64 stop-gram cutoff — never all-pairs, and no posting-list
    blowup from boilerplate shingles (the production cap; see
    extensions.dedup.ngram_jaccard_pairs)."""
    return dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_n=3, threshold=0.05, max_df=64
    )


@q(
    "tokenizer_fertility",
    """
    WITH d AS (
      SELECT lang,
             len(text) AS c,
             len(string_split_regex(text, '\\s+')) AS w,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS t
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           round(sum(c) * 1.0 / sum(t), 6) AS chars_per_token,
           round(sum(t) * 1.0 / sum(w), 6) AS tokens_per_word
    FROM d GROUP BY 1
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (extensions.textstats.
    tokenizer_fertility): chars/token + tokens/word — one scan,
    group-count-sized output."""
    return tx.tokenizer_fertility(_t(spark, sf_dir, "documents"), group_cols=["lang"])


@q(
    "dedup_soft_weights",
    """
    SELECT doc_id,
           CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
           round(1.0 / count(*) OVER (PARTITION BY md5(text)), 6) AS weight
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (extensions.dedup.duplicate_weights): every doc
    kept, loss weight 1/n per n-times-duplicated content — total
    weight 1 per distinct content. One content-hash window, no join."""
    return dd.duplicate_weights(_t(spark, sf_dir, "documents"))


_SPAN_DEDUP_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS span_no,
             array_to_string(words[(i*5+1):(i*5+5)], ' ') AS span
      FROM w, UNNEST(range(0, CAST(ceil(len(words)/5.0) AS BIGINT))) AS t(i)
    ),
    tagged AS (
      SELECT doc_id, span_no, span,
             (row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) = 1) AS keep
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
           coalesce(string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY span_no), '')
             AS clean_text
    FROM tagged GROUP BY 1
    """


@q("dedup_spans_exact", _SPAN_DEDUP_SQL)
def q_dedup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus span dedup (extensions.dedup.span_dedup):
    every duplicate k-word span beyond its first global occurrence is
    cut, documents reassembled from survivors. Explode + skew-immune
    groupBy-min on the span hash + one doc groupBy."""
    return dd.span_dedup(_t(spark, sf_dir, "documents"), k=5)


@q(
    "embedding_covariance",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))),
    x AS (
      SELECT vec_id, CAST(i - 1 AS INT) AS dim, e[CAST(i AS INT)] AS xi
      FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)
    )
    SELECT a.dim AS dim_i, b.dim AS dim_j,
           round(covar_pop(a.xi, b.xi), 6) + 0.0 AS cov
    FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space covariance matrix (extensions.similarity.
    embedding_covariance): mean pass + centered BLAS Gramian partials
    per Arrow batch — shuffle volume dims² per batch, output dims²
    regardless of corpus size. The model PCA/whitening/Mahalanobis
    starts from (pca_project consumes it; eigendecomposition invariants
    are pinned in tests/test_extensions.py)."""
    return sim.embedding_covariance(_t(spark, sf_dir, "embeddings"))


@q("stream_span_dedup", _SPAN_DEDUP_SQL)
def q_stream_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental C4 span dedup (streaming.neardup.merge_span_store):
    the corpus drains in 3 ascending-id micro-batches, each anti-
    joining its in-batch first occurrences against the persistent
    span store before appending. The oracle is the ONE-SHOT batch
    result — the identity (union of incremental outputs == batch
    span_dedup) is the streaming path's correctness contract."""
    import tempfile

    from .streaming import neardup as nd

    root = tempfile.mkdtemp(prefix="spandedup-")
    return nd.replay_spans(_t(spark, sf_dir, "documents"), root, n_batches=3)


@q(
    "dedup_embedding_cosine",
    """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cos
    FROM v a JOIN v b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup within coarse blocks (label = IVF
    cell stand-in): the self-join is an equi-join on the block key, so
    cost is Σ per-block n², not global n². NULL/interior-NULL vectors
    pair with nothing on both sides: the oracle excludes them up front
    (DuckDB list_cosine_similarity ERRORS on interior NULLs), the op
    needs no extra filter — Arrow hands interior NULLs to the matmul
    as NaN, and a NaN cosine never reaches the >= threshold cut."""
    return dd.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


@q(
    "ann_topk_cosine",
    """
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings
      WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])), 6) AS cos
      FROM queries q CROSS JOIN embeddings c
      WHERE c.embedding IS NOT NULL
        AND len(list_filter(CAST(c.embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)) > 0
    )
    SELECT query_id, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a bounded query set — the
    correctness baseline for similarity search. Broadcast queries,
    per-query window ranking (no global sort, no driver collect)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    return sim.brute_topk_cosine(queries, emb, k=5)


@q(
    "ann_ivf_topk",
    """
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings
      WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])), 6) AS cos
      FROM queries q CROSS JOIN embeddings c
      WHERE c.embedding IS NOT NULL
        AND len(list_filter(CAST(c.embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)) > 0
    )
    SELECT query_id, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic k-means-lite coarse quantizer, then
    probe the nprobe nearest cells per query — the 100 TB scale path
    (equi-join on cell id; each query touches ~nprobe/ncells of the
    corpus). Registered here with nprobe = ncells (full probe), which
    exercises the entire IVF machinery — quantizer training, corpus
    cell assignment, probe equi-join, per-query ranking — while being
    provably identical to exact brute force, so the brute-force SQL
    oracle is a valid hash check (tests/test_extensions.py asserts the
    equivalence, and separately recall ≥ 0.8 on the pruned nprobe=3
    path that production would run). When the session carries a
    curated IVF index (io.layout.write_curated_ivf: stored centroids
    + cell-assigned corpus bucketed on cell), serving skips training
    and assignment and bucket-prunes the scan to the probed lists —
    same rows either way."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    idx = lay.curated_ivf_or_none(spark, sf_dir)
    if idx is not None:
        cents, ctab = idx
        cells = ctab.select(
            "cell",
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        return sim.ivf_topk_cosine(
            queries, emb, k=5, nprobe=10, index=(cents, cells)
        )
    return sim.ivf_topk_cosine(queries, emb, k=5, nprobe=10, kmeans_k=10)


@q(
    "ann_ivf_pruned_topk",
    """
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
      FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
    ),
    per_dim AS (
      SELECT label AS cell, t.i AS dim,
             round(avg(CAST(embedding[t.i] AS DOUBLE)), 6) AS mu
      FROM embeddings, generate_series(1, 64) t(i)
      WHERE embedding IS NOT NULL AND label IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
      GROUP BY 1, 2
    ),
    cents AS (SELECT cell, list(mu ORDER BY dim) AS centroid FROM per_dim GROUP BY 1),
    probe AS (
      SELECT query_id, q_vec, cell,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(list_cosine_similarity(q_vec, centroid), 6) DESC,
                                         cell) AS pr
      FROM queries CROSS JOIN cents
      QUALIFY pr <= 3
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(p.q_vec, CAST(c.embedding AS DOUBLE[])), 6) AS cos
      FROM probe p JOIN embeddings c ON c.label = p.cell
      WHERE c.embedding IS NOT NULL
        AND len(list_filter(CAST(c.embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)) > 0
    )
    SELECT query_id, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_ann_ivf_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNED IVF serve — nprobe (3) < ncells (10), the plan
    production actually runs at 100 TB, externally hash-checked
    end-to-end: per-query probe selection (rank cells by cosine to
    the centroid), cell-pruned candidate equi-join (each query
    touches ~nprobe/ncells of the corpus), per-query top-k rank.

    Why the label geometry and not the curated trained index: the
    driver's DuckDB oracle sees only the base parquet tables — it can
    see neither Spark's session catalog (where the curated IVF tables
    live) nor a kmeans training loop whose Lloyd rounds amplify
    cross-engine ulp drift into macroscopically different cells. The
    data's own coarse partition (`label`, an INTEGER — cell membership
    is engine-exact) with 6-dp-snapped centroids and probe scores
    (`snap_model=6`) keeps every float comparison in the same
    snap-plus-tiebreak class the rest of the green surface uses. The
    trained-quantizer machinery is externally pinned by ann_ivf_topk
    (full probe ≡ brute force) and the curated-index serve by the
    bit-parity + bucket-pruning + recall≥0.8 tests in
    tests/test_domain_ops.py / test_extensions.py — this entry adds
    the missing piece: a driver green on the pruned join itself."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    return sim.ivf_topk_cosine(
        queries, emb, k=5, nprobe=3, cell_col="label", snap_model=6
    )


@q(
    "status_stream_state",
    """
    WITH last AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id IS NOT NULL
    ),
    aggd AS (
      SELECT user_id AS sample_id, count(*) AS n_events,
             CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BOOLEAN) AS failed
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT a.sample_id, a.n_events, l.event_type AS last_stage, a.failed
    FROM aggd a JOIN last l ON l.user_id = a.sample_id AND l.rn = 1
    """,
)
def q_status_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the applyInPandasWithState per-sample status
    tracker (streaming.stateful.sample_status_stream — reference
    tools.py:28-56 SQLite status row): per key, event count, latest
    stage by (ts, id), sticky failure flag. max_by with a struct order
    key — one shuffle, no window over the fact table; the streaming
    form is exercised in tests/test_pipeline_streaming.py."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # a status row without a sample key is untrackable
    return e.groupBy(F.col("user_id").alias("sample_id")).agg(
        F.count("*").alias("n_events"),
        F.max_by("event_type", F.struct("ts", "event_id")).alias("last_stage"),
        F.max(F.when(F.col("event_type") == "error", True).otherwise(False)).alias("failed"),
    )


_LANG_CASE = """
      CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'und'
           WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
           WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
           WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
           ELSE 'de' END
"""


@q(
    "text_lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text,' '), w -> lower(w) IN ('the','and','of','a'))) AS BIGINT) AS s_en,
        CAST(len(list_filter(string_split(text,' '), w -> lower(w) IN ('el','la','de','y'))) AS BIGINT) AS s_es,
        CAST(len(list_filter(string_split(text,' '), w -> lower(w) IN ('le','la','et','de'))) AS BIGINT) AS s_fr,
        CAST(len(list_filter(string_split(text,' '), w -> lower(w) IN ('der','die','und','das'))) AS BIGINT) AS s_de
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, {_LANG_CASE} AS pred_lang FROM scored
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID heuristic over the documents table.
    NULL-text rows are excluded in both engines (text-family NULL
    contract: no content, no language)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return tx.lang_id(d).select("doc_id", "pred_lang")


@q(
    "text_quality_score",
    """
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS q_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS q_words,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> lower(w) IN ('the','a','and','of','to','in','is','it'))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, q_chars, q_words,
           round((q_chars - (q_words - 1)) / q_words * 1.0, 6) AS q_mean_word_len,
           round(n_punct / q_chars * 1.0, 6) AS q_punct_ratio,
           round(n_stop / q_words * 1.0, 6) AS q_stop_ratio,
           round(0.4 * least(q_words / 50.0, 1.0)
               + 0.4 * least(n_stop / q_words * 1.0 * 5.0, 1.0)
               + 0.2 * (1.0 - least(n_punct / q_chars * 1.0 * 10.0, 1.0)), 6) AS q_score
    FROM feats
    """,
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + blended score — pure length
    arithmetic, scan-bound at corpus scale."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.quality_features(d).drop("text")


@q(
    "token_count",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_re_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.token_counts(d).drop("text")


@q(
    "doc_fingerprint",
    f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 3),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||
                         string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' ||
                         string_split(text, ' ')[i+4]))) AS shingle
      FROM documents
    )
    SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-hash over word 5-grams (winnowing
    family) — equal fingerprints are groupable near-dup candidates.
    NULL-text rows are excluded in both engines (text-family NULL
    contract; the oracle's unnest drops them naturally)."""
    return tx.fingerprint(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        shingle_n=5,
    )


@q(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           ascii(substr(text, 1, 1)) AS first_byte
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion shape: opaque binary payload + typed
    metadata. Byte-length and first-byte prove the binary column
    round-trips through the engine."""
    d = _t(spark, sf_dir, "documents")
    media = mm.to_media(d, "doc_id", "text", kind="image")
    return media.join(
        d.select(F.col("doc_id").alias("media_id"), F.ascii(F.substring("text", 1, 1)).alias("first_byte")),
        "media_id",
    ).select("media_id", "kind", F.length("payload").cast("long").alias("n_bytes"), "first_byte")


@q(
    "multimodal_decode",
    """
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id AS media_id,
           CAST(nb AS BIGINT) AS n_bytes,
           CASE WHEN nb = 0 THEN 0.0 ELSE
             round(len(list_filter(range(1, nb + 1),
                   i -> substr(hx, CAST(2*i AS INT), 1) IN ('0','8')))
                   / nb * 1.0, 6) END AS f0
    FROM b
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode path with the deterministic
    stand-in featurizer (real codecs stubbed — extensions.multimodal):
    the batch shape, output schema and partitioning are the real
    machinery a decode step runs through.

    The featurizer histograms UTF-8 BYTES, so the oracle models bytes
    too: byte % 8 == 0 iff its hex low nibble is '0' or '8', counted
    over hex(encode(text)) with denominator octet_length. The previous
    oracle counted CHARACTERS (ascii(c) % 8 over length(text)) — they
    coincide on ASCII, which is why every clean/dirty sweep passed
    until the r12 unicode mode put multi-byte code points in text
    (the one divergence of 220 that mode found)."""
    d = _t(spark, sf_dir, "documents")
    media = mm.to_media(d, "doc_id", "text", kind="image")
    feats = mm.decode_media(media, fake=True)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


# ---- corpus preparation (vocab / packing / mixing) ----

from .extensions import corpus as cp  # noqa: E402


@q(
    "vocab_top_terms",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary pass: global token top-N. Wordcount shape —
    map-side combine, then TakeOrdered over the (language-bounded)
    vocab, never a global sort of the corpus."""
    return cp.vocab_top_terms(_t(spark, sf_dir, "documents"), top_n=50)


@q(
    "pack_sequences",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 8 AS INT) AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, shard,
             CAST(sum(least(n_tokens, 512)) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
      FROM d
    ),
    b AS (
      SELECT doc_id, n_tokens, shard,
             CAST(shard AS BIGINT) * 1000000000
               + CAST(floor((cum - least(n_tokens, 512)) * 1.0 / 512) AS BIGINT) AS bin_id
      FROM c
    )
    SELECT doc_id, n_tokens, shard, bin_id,
           CAST(sum(least(n_tokens, 512)) OVER (PARTITION BY bin_id) AS BIGINT) AS bin_fill
    FROM b
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into fixed token budgets (training
    context windows). Sharded-greedy: a hash shard per doc, window
    cumsum within shard — no global sequential pass, each shard packs
    independently at 100 TB."""
    return cp.pack_sequences(_t(spark, sf_dir, "documents"), budget=512, n_shards=8)


@q(
    "stratified_sample",
    """
    SELECT * FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 1000000 <
          CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 1000000 ELSE 100000 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sampling — the data-mixing
    pass. Pure filter (no shuffle, pushes to the scan), reproducible
    across runs/engines/partitionings, and monotone: lowering a rate
    yields a subset of the higher-rate sample."""
    return cp.stratified_sample(
        _t(spark, sf_dir, "documents"),
        strata_col="lang",
        rates={"en": 0.5, "de": 1.0},
        default_rate=0.1,
    )


@q(
    "stream_dedup",
    "SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time streaming dedup run for real through Structured
    Streaming: file source → dropDuplicates on content hash → memory
    sink drained with availableNow. Cross-micro-batch state is
    exercised in tests/test_pipeline_streaming.py; the watermarked
    bounded-state form is streaming.watch.streaming_dedup(ts_col=...).
    Output projected to the content hash (which duplicate row survives
    is batch-arrival-dependent; the surviving hash set is not)."""
    import uuid as _uuid

    from .streaming import watch as _watch

    doc_schema = lay.plain_parquet(spark, os.path.join(sf_dir, "documents.parquet")).schema
    stream = _watch.stream_parquet_table(spark, sf_dir, "documents", doc_schema)
    deduped = _watch.streaming_dedup(stream).select("content_hash")
    name = f"sdedup_{_uuid.uuid4().hex[:8]}"
    qh = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination()
    return spark.table(name)


@q(
    "multimodal_frames",
    """
    SELECT doc_id AS media_id,
           unnest(range(0, greatest(octet_length(encode(text)) // 64, 1))) AS frame_no
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per sampled frame of each media payload
    (the explode-per-frame shape a video pipeline produces; real frame
    decode is the stubbed codec step)."""
    d = _t(spark, sf_dir, "documents")
    media = mm.to_media(d, "doc_id", "text", kind="video")
    return mm.frame_sample(media, every_n_bytes=64).select(
        "media_id", F.col("frame_no").cast("long").alias("frame_no")
    )


@q(
    "multimodal_resize",
    """
    SELECT doc_id AS media_id,
           CAST(least(octet_length(encode(text)), 48) AS BIGINT) AS n_bytes
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/transcode plumbing (deterministic stand-in for the
    stubbed codec): Arrow batches in, binary payload out, size
    metadata recomputed."""
    d = _t(spark, sf_dir, "documents")
    media = mm.to_media(d, "doc_id", "text", kind="image")
    return mm.resize_media(media, target_bytes=48, fake=True).select("media_id", "n_bytes")


@q(
    "corpus_prepare",
    """
    WITH keeps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    surv AS (SELECT d.* FROM documents d JOIN keeps USING (doc_id)),
    feats AS (
      SELECT doc_id, text, lang,
             CAST(length(text) AS BIGINT) AS q_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS q_words,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> lower(w) IN ('the','a','and','of','to','in','is','it'))) AS BIGINT) AS n_stop
      FROM surv
    ),
    qual AS (
      SELECT doc_id, text, lang FROM feats
      WHERE round(0.4 * least(q_words / 50.0, 1.0)
                + 0.4 * least(n_stop / q_words * 1.0 * 5.0, 1.0)
                + 0.2 * (1.0 - least(n_punct / q_chars * 1.0 * 10.0, 1.0)), 6) >= 0.5
    ),
    samp AS (
      SELECT doc_id, text FROM qual
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 1000000 <
            CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 800000 ELSE 500000 END
    ),
    d2 AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 8 AS INT) AS shard
      FROM samp
    ),
    c AS (
      SELECT doc_id, n_tokens, shard,
             CAST(sum(least(n_tokens, 512)) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
      FROM d2
    ),
    b AS (
      SELECT doc_id, n_tokens, shard,
             CAST(shard AS BIGINT) * 1000000000 + (cum - least(n_tokens, 512)) // 512 AS bin_id
      FROM c
    )
    SELECT doc_id, n_tokens, shard, bin_id,
           CAST(sum(least(n_tokens, 512)) OVER (PARTITION BY bin_id) AS BIGINT) AS bin_fill
    FROM b
    """,
)
def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation — the composite the
    extensions exist for, each stage the scale-shape documented on its
    operator: exact dedup (hash groupBy, first-id wins) → quality
    filter (scan-bound length arithmetic) → per-language hash-gated
    mix (pure scan filter) → sharded greedy packing into 512-token
    bins (per-shard window cumsum). One corpus scan feeds the whole
    chain; the only shuffles are the dedup groupBy, the keep semi-join,
    and the per-shard packing window."""
    from .extensions import corpus as cp

    d = _t(spark, sf_dir, "documents")
    # One-pass dedup keeping the full winning row: min-struct keyed by
    # content hash — no second corpus scan for a keep-set semi-join.
    from .ops.aggregates import dedup_keep_first

    hashed = d.withColumn("__h", F.md5(F.col("text")))
    surv = dedup_keep_first(hashed, ["__h"], ["doc_id"]).drop("__h")
    qual = tx.quality_features(surv).filter(F.col("q_score") >= 0.5)
    samp = cp.stratified_sample(
        qual, strata_col="lang", rates={"en": 1.0, "de": 0.8}, default_rate=0.5
    )
    return cp.pack_sequences(samp.select("doc_id", "text"), budget=512, n_shards=8)


@q(
    "asof_latest_event",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
    ),
    pur AS (
      SELECT user_id, ts, max(event_id) AS prior_event_id,
             arg_max(value, event_id) AS prior_value
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.ts, p.prior_event_id, p.prior_value
    FROM clicks c ASOF JOIN pur p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the event stream: each click matched to the
    user's most recent at-or-before purchase. Oracle is DuckDB's
    native ASOF JOIN (over a deterministically pre-deduped purchase
    side) — a genuinely independent implementation of the semantics.
    Spark side is the single-scan variant (ops.joins.asof_attach_prior):
    both "tables" are type-slices of the same event stream, so the
    two-input asof_join would scan events twice; here rows are
    side-tagged in place and ties at equal (user, ts) resolve by
    event_id in the window sort — ONE scan, one shuffle on user_id,
    identical result to the oracle's max_by pre-aggregation."""
    from .ops import joins as jn

    e = _t(spark, sf_dir, "events").filter(
        # as-of semantics need a key and a position on the timeline
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    out = jn.asof_attach_prior(
        e.select("event_id", "user_id", "ts", "event_type", "value"),
        on="user_id",
        ts="ts",
        is_right=F.col("event_type") == "purchase",
        right_cols={
            "prior_event_id": F.col("event_id"),
            "prior_value": F.col("value"),
        },
        tiebreak=["event_id"],
        how="inner",
    )
    return out.select("event_id", "user_id", "ts", "prior_event_id", "prior_value")


@q(
    "dedup_clusters",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: docs connected whenever they
    share a bucket key (full-text md5 OR first-100-chars md5 — the
    second key links near-identical prefix variants, chaining A~B~C
    into one cluster even when A, C share no key). Spark side is the
    scalable min-label propagation in extensions.dedup
    .connected_components; the oracle computes the same fixpoint as a
    DuckDB recursive CTE over the materialized edge set — independent
    algorithm, same semantics. Every doc is labeled with its
    component's min doc_id."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    return cc.select(F.col("node").alias("doc_id"), F.col("cluster_id"))


@q(
    "rollup_time_bucket",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, sum(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour) AS DATE) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(sv), 4) AS sum_value,
           CAST(count(*) AS BIGINT) AS n_active_hours
    FROM hourly GROUP BY 1, 2
    """,
)
def q_rollup_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: hour-grain
    rollup of the event stream, then day grain computed FROM the
    hourly aggregate — the coarser level reads ~24x fewer rows than
    the raw table and the raw scan happens exactly once. This is the
    materialized-rollup shape a 100 TB event store needs (each grain
    feeds the next; nothing re-scans facts), expressed as two
    map-side-combinable groupBys."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    return hourly.groupBy(
        F.to_date(F.date_trunc("day", F.col("hour"))).alias("day"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(F.sum("sv"), 4).alias("sum_value"),
        F.count("*").cast("long").alias("n_active_hours"),
    )


@q(
    "approx_ndv_kmv",
    """
    WITH hashed AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
    ),
    topk AS (
      SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM hashed QUALIFY rk <= 64
    )
    SELECT event_type,
           round(CASE WHEN max(rk) < 64 THEN CAST(max(rk) AS DOUBLE)
                 ELSE 63.0 / (CAST(('0x' || substr(arg_max(h, rk), 1, 15)) AS BIGINT) / 16.0 ^ 15)
                 END, 4) AS ndv_est
    FROM topk GROUP BY 1
    """,
)
def q_approx_ndv_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the KMV sketch
    (ops.aggregates.approx_ndv_kmv). Deterministic md5 order
    statistics make the *estimate itself* engine-portable — both
    engines compute the identical number, so the sketch is graded by
    the same hash-match gate as exact queries (HLL estimates never
    could be)."""
    from .ops import aggregates as agg

    e = _t(spark, sf_dir, "events")
    return agg.approx_ndv_kmv(e, ["event_type"], "user_id", k=64)


@q(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1
    """,
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-identical). Exact percentile
    buffers each group's values in the final aggregate — fine for
    bounded groups (5 event types); for 100 TB fact-sized groups use
    `approx_percentile` (t-digest partials merge map-side) and accept
    the documented error bound."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


@q(
    "events_cube",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY CUBE (event_type, day)
    """,
)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping combinations in
    one pass — Spark expands the grouping sets before the shuffle, so
    partial aggregation still applies (one exchange, not four scans)."""
    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date(F.col("ts")))
    return e.cube("event_type", "day").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


@q(
    "events_pivot",
    """
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide pivot on an explicit value list (passing the list
    skips the extra distinct-values job Spark otherwise runs, and makes
    the output schema static — required for production pipelines).
    Pivoted counts are conditional aggregates under the hood: one
    map-side-combinable shuffle."""
    e = _t(spark, sf_dir, "events")
    out = e.groupBy("user_id").pivot("event_type", _PIVOT_TYPES).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _PIVOT_TYPES]
    )


from .io import layout as _layout  # noqa: E402
from .registry import _scratch  # noqa: E402

_ZSPEC_SQL = _layout.zorder_key_sql(["(l_partkey % 4096)", "(l_suppkey % 4096)"], bits=12)


@q(
    "zorder_key",
    f"""
    SELECT l_orderkey, l_linenumber, {_ZSPEC_SQL} AS zkey
    FROM lineitem
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton clustering key over (partkey, suppkey): the sort key a
    compaction pass uses for multi-dimensional row-group skipping.
    Spark and oracle expressions are generated from the same bit-
    interleave spec (io.layout.zorder_key / zorder_key_sql), so the
    arithmetic cannot drift."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _layout.zorder_key(
            [F.col("l_partkey") % 4096, F.col("l_suppkey") % 4096], bits=12
        ).alias("zkey"),
    )


@q(
    "compact_layout",
    """
    SELECT event_type, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
    FROM events GROUP BY 1
    """,
)
def q_compact_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip: events rewritten as one sorted parquet
    file per event_type partition (io.layout.compact_partitioned),
    read back through the partition-dir layout, and summarized — the
    oracle checks the round-trip preserved every row and the ts range.
    tests/test_plans.py asserts the physical effects (single file per
    partition, PartitionFilters pruning on read)."""
    e = _t(spark, sf_dir, "events")
    path = _scratch("compact_layout")
    _layout.compact_partitioned(
        e, path, partition_cols=["event_type"], sort_cols=["ts"]
    )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@q(
    "corpus_mix_resample",
    """
    WITH g AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rep'), 1, 14)) AS BIGINT)
               % 1000000 AS gate
      FROM documents
    ),
    n AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 0 ELSE 1 END
             + CASE WHEN gate < (CASE lang WHEN 'de' THEN 300000 WHEN 'en' THEN 500000 ELSE 0 END)
                    THEN 1 ELSE 0 END AS n_copies
      FROM g
    )
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS epoch
    FROM n
    """,
)
def q_corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling with repetition
    (extensions.corpus.mix_resample): German up-weighted 2.3x (two
    full epochs + a hash-gated 30% third), English down to 0.5x,
    everything else 1.0 — the up/down-weighting pass that assembles a
    training mix from imbalanced sources. Pure narrow projection; the
    oracle replays the identical hash arithmetic."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return cp.mix_resample(
        d, strata_col="lang", rates={"de": 2.3, "en": 0.5}, default_rate=1.0
    )


@q(
    "apply_changelog",
    """
    WITH ch AS (
      -- arg_max over a STRUCT: DuckDB's arg_max SKIPS rows whose value
      -- argument is NULL, but CDC semantics say the latest change wins
      -- even when it sets NULL; the struct wrapper is never NULL, so
      -- the genuinely-latest row is taken and its (possibly NULL)
      -- field extracted — matching Spark max_by (dirty-parity r11)
      SELECT user_id,
             arg_max(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) AS op,
             (arg_max({'v': value}, event_id)).v AS v
      FROM events GROUP BY 1
    )
    SELECT coalesce(c.c_custkey, ch.user_id) AS user_id,
           CASE WHEN ch.user_id IS NOT NULL THEN ch.v ELSE c.c_acctbal END AS balance
    FROM customer c FULL OUTER JOIN ch ON c.c_custkey = ch.user_id
    WHERE ch.op IS NULL OR ch.op <> 'D'
    """,
)
def q_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (ops.setops.apply_changelog): the events stream read
    as a changelog over customer balances — error events delete the
    key, everything else upserts the latest value by event_id;
    untouched customers pass through. The changelog collapses to one
    row per touched key before the single full-outer join."""
    from .ops import setops as so

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_acctbal").alias("balance")
    )
    ch = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("value").alias("balance"),
    )
    return so.apply_changelog(
        snap, ch, key_cols=["user_id"], payload_cols=["balance"], seq_col="seq", op_col="op"
    )


@q(
    "scrub_pii",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9 ().-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM documents
    """,
)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (extensions.textstats.scrub_pii): emails, IPv4,
    phone shapes to typed placeholders, as a codegen regexp_replace
    chain. The oracle replays the identical patterns (restricted to
    the Java-regex ∩ RE2 dialect) with DuckDB's 'g' flag matching
    Spark's replace-all default. Fixture tests exercise real hits;
    the corpus pass proves scan-speed parity."""
    d = _t(spark, sf_dir, "documents")
    return tx.scrub_pii(d).select("doc_id", "scrubbed")


@q(
    "repetition_metrics",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, max(n) AS top_cnt
      FROM wc GROUP BY 1
    ),
    l AS (
      SELECT doc_id,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_distinct(string_split(text, chr(10)))) AS n_uniq
      FROM documents
    )
    SELECT a.doc_id, a.n_words,
           round(a.top_cnt / a.n_words * 1.0, 6) AS top_word_ratio,
           round(1.0 - l.n_uniq / l.n_lines * 1.0, 6) AS dup_line_frac
    FROM agg a JOIN l USING (doc_id)
    """,
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (extensions.textstats
    .repetition_metrics): most-frequent-word ratio + duplicate-line
    fraction per doc, one corpus scan (line stats ride through the
    word aggregation). The oracle takes the two-branch formulation —
    DuckDB reuses the CTE; Spark would rescan, which is exactly why
    the engine side carries the scalars through instead."""
    d = _t(spark, sf_dir, "documents")
    return tx.repetition_metrics(d)


@q(
    "kmv_daily_merge",
    """
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    partials AS (
      SELECT day, event_type, h,
             row_number() OVER (PARTITION BY day, event_type ORDER BY h) AS rk
      FROM hashed QUALIFY rk <= 64
    ),
    merged AS (
      SELECT DISTINCT event_type, h FROM partials
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM merged QUALIFY rk <= 64
    )
    SELECT event_type,
           round(CASE WHEN max(rk) < 64 THEN CAST(max(rk) AS DOUBLE)
                 ELSE 63.0 / (CAST(('0x' || substr(arg_max(h, rk), 1, 15)) AS BIGINT) / 16.0 ^ 15)
                 END, 4) AS ndv_est
    FROM ranked GROUP BY 1
    """,
)
def q_kmv_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV cascade end-to-end: per-(day, event_type) partial
    sketches (ops.aggregates.kmv_partial — what a daily batch job
    would persist) merged into per-event-type estimates (kmv_merge).
    The merge guarantee makes this equal the direct single-pass
    sketch, which is how a 100 TB store answers "distinct users last
    quarter" from kilobytes of daily state instead of a quarter-long
    rescan."""
    from .ops import aggregates as agg

    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date(F.col("ts")))
    partials = agg.kmv_partial(e, ["day", "event_type"], "user_id", k=64)
    return agg.kmv_merge(partials, ["event_type"], k=64)


@q(
    "uniform_sample_k",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
)
def q_uniform_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20 uniform docs per language via deterministic hash
    order (extensions.corpus.uniform_sample_k) — the reproducible
    eval-split / per-source-cap draw rate-based sampling can't
    provide."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return cp.uniform_sample_k(d, ["lang"], "doc_id", k=20)


@q(
    "decontaminate_ngram",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS gram
      FROM t
    ),
    bench AS (
      SELECT DISTINCT gram FROM g
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 100 < 5
    )
    SELECT doc_id, count(*) AS n_shared
    FROM g
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 100 >= 5
      AND gram IN (SELECT gram FROM bench)
    GROUP BY 1
    """,
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (extensions.corpus.decontaminate):
    an md5-gated 5% of documents stands in for the held-out eval set;
    training docs sharing any word 4-gram with it are flagged with
    their distinct-overlap count. The eval side is broadcast — the
    exploded corpus side never shuffles."""
    d = _t(spark, sf_dir, "documents")
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 14), 16, 10)
        .cast("long") % 100
    )
    bench = d.filter(gate < 5)
    train = d.filter(gate >= 5)
    return cp.decontaminate(train, bench, n=4)


@q(
    "shuffle_shards",
    """
    WITH h AS (
      SELECT doc_id,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hh, 1, 14)) AS BIGINT) % 16 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(hh, 1, 14)) AS BIGINT) % 16
             ORDER BY hh) AS BIGINT) AS pos
    FROM h
    """,
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle
    (extensions.corpus.shuffle_shards): every (run, engine, partition
    layout) agrees on shard and position; no global sort — each
    window partition holds 1/16 of the corpus."""
    return cp.shuffle_shards(
        _t(spark, sf_dir, "documents"), "doc_id", n_shards=16, seed="42"
    )


@q(
    "time_weighted_avg",
    """
    WITH d AS (
      SELECT user_id, value,
             epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch(ts) AS dt
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           round(sum(dt), 4) AS span_s,
           CASE WHEN sum(dt) > 0 THEN round(sum(value * dt) / sum(dt), 6) END AS twav
    FROM d WHERE dt IS NOT NULL GROUP BY 1
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TWAP of the event value (ops.windows.time_weighted_avg)
    — each observation weighted by its time-in-effect, the correct
    average for irregularly sampled metrics. Keyed lead window with a
    deterministic event_id tie-break; one shuffle shared with the
    groupBy."""
    from .ops import windows as wn

    return wn.time_weighted_avg(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
    )


@q(
    "trend_slope",
    """
    WITH d AS (
      SELECT event_type,
             epoch(ts) / 86400.0 - 10000 AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CASE WHEN var_pop(x) > 0
                THEN round(covar_pop(x, y) / var_pop(x), 6) END AS slope,
           CASE WHEN var_pop(x) > 0
                THEN round(avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x), 6) END
             AS intercept
    FROM d GROUP BY 1
    """,
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value drift (ops.aggregates.trend_slope): a
    one-pass least-squares fit of value against time in days (shifted
    to a data-scale origin so float accumulation stays far below the
    rounding regime). No iteration — covar/var are map-side-combinable
    aggregates."""
    from .ops import aggregates as agg

    from .ops.windows import epoch_seconds

    e = _t(spark, sf_dir, "events")
    x = epoch_seconds(F.col("ts")) / 86400.0 - 10000
    return agg.trend_slope(e, ["event_type"], x, F.col("value"))


@q(
    "cooccurrence_counts",
    """
    WITH ui AS (
      SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
      FROM events WHERE event_type = 'view'
    ),
    capped AS (
      SELECT user_id FROM ui GROUP BY user_id HAVING count(*) BETWEEN 2 AND 50
    )
    SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_groups
    FROM ui a
    JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
    WHERE a.user_id IN (SELECT user_id FROM capped)
    GROUP BY 1, 2
    """,
)
def q_cooccurrence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-view matrix (ops.aggregates.cooccurrence_counts): item pairs
    viewed by the same user with group counts — pairs generated inside
    each user's sorted item array (one groupBy), never a self-join of
    the event table; heavy users capped at 50 items. The oracle IS the
    self-join formulation — same values, different physical strategy."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .ops import aggregates as agg

    e = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "view") & F.col("user_id").isNotNull()
    )  # no user, no co-occurrence group (oracle's self-join drops NULLs)
    ui = e.withColumn(
        "j", F.from_json(F.col("props"), StructType([StructField("k", LongType())]))
    ).select("user_id", F.col("j.k").alias("item"))
    return agg.cooccurrence_counts(ui, "user_id", "item", max_group=50)


@q(
    "mixture_weights",
    """
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens / sum(n_tokens) OVER (), 6) AS share,
           round(pow(n_tokens, 0.5) / sum(pow(n_tokens, 0.5)) OVER (), 6) AS weight
    FROM s
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights
    (extensions.corpus.mixture_weights, alpha=0.5): the per-source
    sampling multinomial that mix_resample consumes — scarce sources
    get weight > share. The normalizing window runs over the
    source-cardinality aggregate, never the corpus."""
    return cp.mixture_weights(
        _t(spark, sf_dir, "documents"), "source", alpha=0.5
    )


@q(
    "table_profile",
    """
    SELECT 'o_orderkey' AS col_name, count(*) AS n,
           count(*) - count(o_orderkey) AS n_null, count(DISTINCT o_orderkey) AS ndv,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
           min(o_totalprice), max(o_totalprice),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM orders
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of `orders` (ops.quality.table_profile): count /
    nulls / exact NDV / min-max per column, all from ONE pass — the
    pre-publish stats a batch gate records. The oracle's five scans
    union to the same values."""
    from .ops import quality as dq

    return dq.table_profile(
        _t(spark, sf_dir, "orders"),
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderdate"],
    )


@q(
    "corr_matrix",
    """
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations (ops.quality.corr_matrix) over
    lineitem's numeric columns: all pairs from ONE pass (the oracle's
    three scans union to the same values); quantity~price correlate,
    discount doesn't."""
    from .ops import quality as dq

    return dq.corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@q(
    "dq_violations",
    """
    SELECT 'fk_lineitem_orders' AS rule, count(*) AS n_violations
    FROM lineitem l WHERE l.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'fk_orders_customer', count(*)
    FROM orders o WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'pk_unique_orders', count(*)
    FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'price_range_1k_450k', count(*)
    FROM orders WHERE o_totalprice < 1000 OR o_totalprice > 450000
    """,
)
def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based validation report (ops.quality.dq_counts): two FK
    orphan checks (anti-joins), a PK uniqueness check, and a value
    range rule — the publish gate asserts all counts are zero (the
    range rule fires on ~1% here, proving the gate detects)."""
    from .ops import quality as dq

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    return dq.dq_counts(
        {
            "fk_lineitem_orders": dq.fk_orphans(lineitem, orders, "l_orderkey", "o_orderkey"),
            "fk_orders_customer": dq.fk_orphans(orders, customer, "o_custkey", "c_custkey"),
            "pk_unique_orders": dq.pk_duplicates(orders, ["o_orderkey"]),
            "price_range_1k_450k": orders.filter(
                (F.col("o_totalprice") < 1000) | (F.col("o_totalprice") > 450000)
            ),
        }
    )


@q(
    "fuzzy_match_pairs",
    """
    WITH c AS (
      SELECT c_custkey, c_name, substr(c_name, 1, len(c_name) - 2) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution (extensions.dedup.fuzzy_match_pairs):
    customer names within edit distance 1, candidates bounded by a
    shared name-prefix block — an equi-join self-match, never an
    all-pairs levenshtein."""
    c = _t(spark, sf_dir, "customer")
    return dd.fuzzy_match_pairs(
        c,
        "c_custkey",
        "c_name",
        block=F.expr("substr(c_name, 1, length(c_name) - 2)"),
        max_dist=1,
    )


@q(
    "funnel_conversion",
    """
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY 1
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_users,
      CAST(count(t_view) AS BIGINT) AS viewed,
      CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT) AS clicked_after_view,
      CAST(count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS BIGINT)
        AS purchased_after_click
    FROM stages
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-user first
    timestamp of each stage via conditional min — ONE scan, one
    map-side-combinable groupBy, then a single-row summary over the
    per-user aggregate (user-cardinality-sized, not fact-sized).
    Strict inequalities: a later stage counts only when its first
    occurrence follows the previous stage's first occurrence.
    Prefers a curated copy bucketed on user_id (exchange-free
    groupBy; see registry._t_events_curated)."""
    e = _t_events_curated(spark, sf_dir)
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).cast("long")
        .alias("clicked_after_view"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).cast("long").alias("purchased_after_click"),
    )


@q(
    "interarrival_stats",
    """
    WITH g AS (
      SELECT user_id,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
      FROM events
    )
    SELECT user_id,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(avg(gap), 4) AS avg_gap_s,
           round(max(gap), 4) AS max_gap_s
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps via a keyed lag window
    (deterministic tie-break on event_id), aggregated to count/avg/max
    seconds — the session-gap profile that feeds session-window
    tuning. One shuffle on user_id shared by the window and the
    groupBy."""
    from .ops.windows import epoch_seconds

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch_seconds keeps fractional seconds on both engines
    # (unix_timestamp would truncate micros that DuckDB's epoch keeps).
    t = epoch_seconds(F.col("ts"))
    gaps = e.withColumn("gap", t - F.lag(t).over(w)).filter(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.round(F.avg("gap"), 4).alias("avg_gap_s"),
        F.round(F.max("gap"), 4).alias("max_gap_s"),
    )


@q(
    "tf_idf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((SELECT count(*) FROM documents) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q_tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic salience scoring
    a corpus pipeline runs for keyword extraction / topic features.
    df comes from a map-side-combinable groupBy(term) joined back on
    term — NOT a term-keyed window, whose hot partitions would be
    exactly the stopwords (a term in every doc puts |corpus| rows in
    one window task; the aggregate collapses it to one row). The
    join-back routes through ops.joins.skew_router_join: AQE's skew
    splitter cannot act on a groupBy→join-back shape (see that
    docstring), so terms whose document frequency exceeds the hot
    threshold — precisely the stopwords — broadcast and resolve
    map-side instead of funneling the whole corpus's postings for
    'the' through one reducer. The tf subtree is derived in both
    branches — a second linear scan, the deliberate price of removing
    the unbounded hot-partition stall. N arrives as a literal from
    parquet row-group metadata (`docs.count()` reads footers, not
    data — a model-sized scalar, like the IVF centroid collect)."""
    from .ops.joins import skew_router_join

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # parquet metadata count, no data scan
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    scored = skew_router_join(
        tf, dfc, "term", "__df", hot_threshold=100_000
    ).withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("__df")), 6),
    )
    rk_w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@q(
    "retention_cohorts",
    """
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
    ),
    c AS (SELECT *, min(wk) OVER (PARTITION BY user_id) AS cohort_week FROM uw)
    SELECT cohort_week, wk AS active_week, CAST(count(*) AS BIGINT) AS n_users
    FROM c GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity week
    (cohort), counted in every week they return. Distinct (user, week)
    first — the fact table collapses before any window — then the
    cohort week rides a user-keyed min window; both shuffles are on
    pre-aggregated rows."""
    e = _t(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id")
    c = uw.withColumn("cohort_week", F.min("wk").over(w))
    return c.groupBy("cohort_week", F.col("wk").alias("active_week")).agg(
        F.count("*").cast("long").alias("n_users")
    )


@q(
    "props_json_stats",
    """
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
    ) GROUP BY 1
    """,
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events payload parsed with
    a TYPED schema (from_json + struct, one parse per row feeding any
    number of fields — the idiomatic Spark path; get_json_object
    re-parses per extraction) and aggregated per event type. The
    oracle uses DuckDB's JSON path extraction — independent parser,
    same values."""
    from pyspark.sql.types import LongType, StructField, StructType

    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn(
        "j", F.from_json(F.col("props"), StructType([StructField("k", LongType())]))
    )
    return parsed.groupBy("event_type").agg(
        F.count("j.k").cast("long").alias("n_with_k"),
        F.sum("j.k").cast("long").alias("sum_k"),
        F.min("j.k").cast("long").alias("min_k"),
        F.max("j.k").cast("long").alias("max_k"),
    )


@q(
    "embedding_normalize",
    """
    WITH s AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> round(x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y))), 6)
             ) AS unit_vec
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
    ),
    e AS (
      SELECT vec_id, unnest(range(0, len(unit_vec))) AS dim, unit_vec FROM s
    )
    SELECT vec_id, CAST(dim AS INT) AS dim, unit_vec[dim + 1] AS unit_val FROM e
    """,
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (extensions.similarity.l2_normalize):
    cosine becomes a dot product downstream. Codegen array fold +
    transform. Contract output is the posexploded (vec_id, dim,
    unit_val) long form — scalar columns only, so the external
    hash-compare can canonicalize it (array cells are unhashable in
    the driver's pandas canonicalizer); the array form stays available
    via sim.l2_normalize for in-pipeline use. Vectors with a NULL
    element are excluded on both sides (r12 interior-NULL contract):
    Spark's norm fold NULL-poisons the whole unit vector where
    DuckDB's list_sum skips the element and normalizes by a PARTIAL
    norm — neither is a normalization of the data, so no row."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        sim._finite_elements("embedding")
    )
    u = sim.l2_normalize(emb)
    return u.select("vec_id", F.posexplode("unit_vec").alias("dim", "unit_val"))


@q(
    "embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
      FROM embeddings WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
    )
    SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(CASE WHEN scale > 0
                THEN list_transform(v, x -> CAST(round(x / scale) AS INT))
                ELSE list_transform(v, x -> 0) END, ',') AS qvec_csv
    FROM s
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (extensions.similarity
    .quantize_int8): 4x smaller vectors with per-vector scale. Both
    engines round half-away-from-zero, so the quantized codes match
    bit-for-bit. Contract output serializes the int8 codes to a CSV
    string (ints render identically in both engines) so the external
    hash-compare gets scalar cells; the array form stays available via
    sim.quantize_int8 for in-pipeline use. NULL / interior-NULL /
    non-finite embeddings are excluded in both engines (r12 contract:
    nothing meaningful to quantize; keeping them diverged — Spark's
    concat_ws skips NULL cells where DuckDB's array_to_string yields
    NULL, a NaN scale makes DuckDB's INT cast RAISE where Spark folds,
    and an Inf component collapses the whole code vector to zeros)."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        sim._finite_elements("embedding")
    )
    qdf = sim.quantize_int8(emb)
    return qdf.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_csv"),
    )


@q(
    "dedup_embedding_clusters",
    """
    WITH RECURSIVE v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3
    ),
    edges AS (
      SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS vec_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clustering end-to-end: blocked cosine pairs
    (extensions.dedup.embedding_near_dup_pairs — equi-join on the
    coarse block, Arrow matmul inside blocks) closed transitively into
    duplicate clusters (connected_components over the pair graph, each
    pair its own bucket). Only vectors that appear in some pair are
    labeled — the output is the dedup worklist, keyed by its
    min-vec_id survivor. The oracle recomputes the same fixpoint as a
    recursive CTE.

    Closure runs over exact-duplicate REPRESENTATIVES, not the fanned
    pair list: an m-copy group contributes C(m,2) cos-1.0 pairs to
    the pair OPERATOR's contract, but feeding those into the closure
    is quadratic redundancy (the r6 1000x sweep's 1000-member groups
    -> ~10^9 incidence rows). Cosine is a pure function of the
    (block, embedding) pair, so rep-level edges plus one identity
    bucket per multi-member group reach the same fixpoint, and the
    component minimum over reps IS the minimum over members (each rep
    is its group's min id). Members fan back out through one
    equi-join; zero-norm groups never pair (NaN cosine) and stay
    unlabeled, matching the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("label", "vec_id", "embedding")
    groups = (
        base.groupBy("label", "embedding")
        .agg(
            F.min("vec_id").alias("__rep"),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
        .withColumn(
            "__nz",
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            > 0,
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select("label", F.col("__rep").alias("vec_id"), "embedding")
    pairs = dd.embedding_near_dup_pairs(reps, block_col="label", threshold=0.3)
    pid = F.concat_ws("|", F.col("vec_a"), F.col("vec_b"))
    # Both incidence rows per pair in ONE pass (a two-branch union
    # would recompute the Arrow pair-scoring subtree per branch —
    # Spark has no automatic CTE reuse).
    inc = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("vec_a").alias("node"), pid.alias("key")),
                F.struct(F.col("vec_b").alias("node"), pid.alias("key")),
            )
        ).alias("s")
    ).select("s.node", "s.key")
    # Multi-member non-zero groups pair within themselves (cos 1.0 >=
    # threshold), so their rep is always labeled even with no cross
    # edge; singletons are labeled only via a cross pair.
    ident = groups.filter((F.col("__cnt") >= 2) & F.col("__nz")).select(
        F.col("__rep").alias("node"),
        F.concat(F.lit("self|"), F.col("__rep")).alias("key"),
    )
    cc = dd.connected_components(inc.unionByName(ident))
    members = base.join(
        groups.select("label", "embedding", "__rep"), ["label", "embedding"]
    ).select("vec_id", "__rep")
    return members.join(cc, members["__rep"] == cc["node"]).select(
        "vec_id", "cluster_id"
    )


@q(
    "rolling_7d_avg",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT day, event_type, CAST(n AS BIGINT) AS n,
           round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg_7d
    FROM daily
    """,
)
def q_rolling_7d_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average over the daily rollup — the time-series
    smoothing every monitoring dashboard runs. The window is keyed by
    event_type and slides over the day-grain AGGREGATE (365 rows/key/
    year), never over raw facts; one groupBy shuffle + one keyed
    window that reuses the same partitioning."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )  # NULL days have no place in a rolling frame
    daily = e.groupBy(
        F.to_date(F.col("ts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.avg("n").over(w), 4).alias("avg_7d"),
    )


@q(
    "skew_profile",
    """
    WITH counts AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys FROM counts)
    SELECT key, CAST(n AS BIGINT) AS n,
           round(n / (SELECT total FROM tot) * 1.0, 6) AS share,
           round(n / ((SELECT total FROM tot) * 1.0 / (SELECT n_keys FROM tot)), 4) AS x_mean
    FROM counts
    ORDER BY n DESC, key LIMIT 20
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic for join/agg key choice: top-20 keys by
    row count with their share of the table and multiple-of-mean — the
    numbers that decide between AQE skew-split and salted_join. Grand
    totals are windows over the per-key AGGREGATE (key-cardinality-
    sized); the top-20 is a TakeOrdered, not a global sort."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    enriched = counts.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(w) * 1.0, 6).alias("share"),
        F.round(F.col("n") / (F.sum("n").over(w) / F.count("*").over(w)), 4).alias("x_mean"),
    )
    return enriched.orderBy(F.col("n").desc(), "key").limit(20)


@q(
    "bloom_semi_reduce_join",
    """
    SELECT p.p_brand, count(*) AS n, CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY 1
    """,
)
def q_bloom_semi_reduce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective join with Bloom semi-join reduction (ops.bloom): the
    fact scan is pre-filtered by a kilobyte bitset over the selective
    dim's keys (~2% of lineitem survives to the shuffle instead of
    100%), then the exact join culls the bloom's false positives — so
    the result is identical to the plain join the oracle runs, which
    is precisely the operator's contract. The bitset build is one
    map-side-combinable aggregation + a model-sized collect."""
    from .ops import bloom as bl

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 1).select(
        "p_partkey", "p_brand"
    )
    reduced = bl.bloom_semi_reduce(li, p.select(F.col("p_partkey").alias("l_partkey")),
                                   on="l_partkey", m_bits=1 << 12, k_hashes=5)
    j = reduced.join(F.broadcast(p), reduced["l_partkey"] == p["p_partkey"])
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )


def _minhash_cluster_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes(num_hashes, band_size)},
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id <> b.doc_id
    ),
    nodes AS (SELECT DISTINCT doc_id AS node FROM keyed),
    reach(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """


@q("dedup_minhash_clusters", _minhash_cluster_oracle())
def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH duplicate CLUSTERS — pairs are a report; clusters
    are what dedup consumes (one canonical survivor per transitive
    group). Goes straight from the band incidence to
    connected_components WITHOUT enumerating pairs: a q-member
    boilerplate bucket costs q rows per propagation round, not q²/2
    pairs — the LSH clustering form that survives corpus-scale
    mega-buckets. Every doc is labeled (singletons label themselves);
    the oracle closes the same band graph with a recursive CTE.
    On a curated corpus (stored content_hash, bucketed) signatures
    and the CC run over DISTINCT texts with an exchange-free
    collapse; labels fan back out through the membership map — the
    component minimum over reps IS the minimum over members because
    each rep is its group's min id, and empty-shingle docs drop out
    of both paths identically (no bands → not in the incidence)."""
    docs = _docs_maybe_curated(spark, sf_dir)
    if "content_hash" in docs.columns:
        groups, members = dd.collapse_exact_text(docs, "doc_id", "text", 3)
        reps = groups.select(F.col("__rep").alias("doc_id"), "text")
        sig = dd.minhash_signature(reps, num_hashes=12, shingle_n=3)
        cc = dd.connected_components(
            dd.lsh_band_incidence(sig, num_hashes=12, band_size=2),
            node_col="doc_id",
            key_col="band_key",
        ).select(F.col("doc_id").alias("__ccrep"), "cluster_id")
        return members.join(cc, members["__rep"] == cc["__ccrep"]).select(
            members["doc_id"], cc["cluster_id"]
        )
    sig = dd.minhash_signature(docs, num_hashes=12, shingle_n=3)
    inc = dd.lsh_band_incidence(sig, num_hashes=12, band_size=2)
    cc = dd.connected_components(inc, node_col="doc_id", key_col="band_key")
    return cc.select("doc_id", "cluster_id")


# ---------------------------------------------------------------------------
# Corpus preparation: splits, chunking, cleaning, n-gram counts
# ---------------------------------------------------------------------------


@q(
    "dataset_split",
    """
    SELECT doc_id, source,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS b
          FROM documents)
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (extensions.corpus.
    dataset_split): md5-bucket of the id — shuffle-free, rerun-stable,
    growth-stable (docs never migrate splits as the corpus grows)."""
    from .extensions import corpus as cp

    return cp.dataset_split(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "split"
    )


@q(
    "chunk_documents",
    """
    SELECT doc_id,
           CAST(s // 150 AS BIGINT) AS chunk_id,
           substring(text, CAST(s AS INT) + 1, 200) AS chunk_text,
           CAST(length(substring(text, CAST(s AS INT) + 1, 200)) AS BIGINT) AS chunk_len
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0, greatest(length(text) - 1, 0), 150)) AS s
          FROM documents)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character chunking (extensions.corpus.
    chunk_documents): window 200 / stride 150 — a pure map-side
    explode, the RAG/context-window preprocessing pass."""
    from .extensions import corpus as cp

    return cp.chunk_documents(
        _t(spark, sf_dir, "documents"), size=200, stride=150
    )


@q(
    "clean_text",
    """
    SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars_clean
    FROM (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS clean_text
      FROM documents)
    """,
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-strip + entity-decode + whitespace-collapse
    (extensions.textstats.clean_text) — the web-scrape ingestion
    cleaner, all JVM regex inside codegen."""
    return tx.clean_text(_t(spark, sf_dir, "documents"))


@q(
    "bigram_counts",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
                    i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM toks
    )
    SELECT gram, count(*) AS n FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 50
    """,
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM counts (extensions.corpus.ngram_counts): the
    wordcount shape — explode + map-side-combinable groupBy +
    TakeOrdered top-50."""
    from .extensions import corpus as cp

    return cp.ngram_counts(_t(spark, sf_dir, "documents"), n=2, top_n=50)


# ---------------------------------------------------------------------------
# Analytics: outliers, equi-depth histograms, per-group top-k
# ---------------------------------------------------------------------------


@q(
    "anomaly_zscore",
    """
    WITH stats AS (
      SELECT event_type, round(avg(value), 6) AS mu,
             round(stddev_samp(value), 6) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sd, 4) AS zscore
    FROM events e JOIN stats s USING (event_type)
    WHERE abs(round((e.value - s.mu) / s.sd, 4)) > 2.5
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (ops.quality.anomaly_zscore):
    tiny groupBy stats broadcast back, row-wise z — NOT a
    low-cardinality window, which would one-task each group at scale."""
    from .ops import quality as dq

    return dq.anomaly_zscore(
        _t(spark, sf_dir, "events"), "event_type", "value", threshold=2.5
    ).select("event_id", "event_type", "value", "zscore")


@q(
    "equidepth_bins",
    """
    WITH bounds AS (
      SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM orders
    )
    SELECT CAST(len(list_filter(bs, b -> o_totalprice > b)) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(o_totalprice), 2) AS min_v,
           round(max(o_totalprice), 2) AS max_v
    FROM orders, bounds GROUP BY 1 ORDER BY 1
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of order totals (ops.quality.
    equidepth_bins): exact quantile bounds from one aggregate,
    broadcast, row-wise binning — never a global NTILE sort."""
    from .ops import quality as dq

    return dq.equidepth_bins(_t(spark, sf_dir, "orders"), "o_totalprice", n_bins=10)


@q(
    "topk_per_group",
    """
    WITH rev AS (
      SELECT l_suppkey, l_partkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_suppkey, l_partkey, revenue, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
                                       ORDER BY revenue DESC, l_partkey) AS rn
          FROM rev)
    WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per supplier by revenue (ops.windows.
    top_k_per_group): keyed window over a high-cardinality group —
    the shuffle carries the aggregate once; revenue rounded before
    ranking so order is engine-stable."""
    from .ops import windows as win

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )
    top = win.top_k_per_group(
        rev, ["l_suppkey"], "revenue", k=3, tiebreak_cols=["l_partkey"]
    )
    return top.select(
        "l_suppkey", "l_partkey", "revenue", F.col("rank").cast("long").alias("rank")
    )


@q(
    "gap_fill_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )
    SELECT s.event_type, s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN daily d USING (event_type, day)
    """,
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily counts per event type (ops.windows.
    gap_fill_daily): the date spine explodes from the per-key min/max
    aggregate, so spine size is keys x days, never corpus-sized."""
    from .ops import windows as win

    return win.gap_fill_daily(
        _t(spark, sf_dir, "events").filter(
            F.col("event_type").isNotNull() & F.col("ts").isNotNull()
        ),  # a spine needs a key and a day
        "event_type", "ts",
    )


@q(
    "value_change_points",
    """
    SELECT event_id, user_id, ts, value, delta
    FROM (
      SELECT event_id, user_id, ts, value,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    WHERE abs(delta) > 150
    """,
)
def q_value_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 change points (ops.windows.value_change_points):
    keyed window over the high-cardinality user key; the delta is a
    two-operand subtract, exact on any engine."""
    from .ops import windows as win

    return win.value_change_points(
        _t(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        ),  # lag-1 needs a keyed, engine-stable ordering
        "user_id", "ts", "value", "event_id", threshold=150.0,
    ).select("event_id", "user_id", "ts", "value", "delta")


@q(
    "token_entropy",
    """
    WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
    per AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy_nats
    FROM per GROUP BY 1
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution entropy (extensions.corpus.
    token_entropy): H = ln T - (sum n ln n)/T in two map-side
    groupBys — the mix-diversity screen, no join-back or window."""
    from .extensions import corpus as cp

    return cp.token_entropy(_t(spark, sf_dir, "documents"))


@q(
    "event_transitions",
    """
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    agg AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n / sum(n) OVER (PARTITION BY from_type), 6) AS prob
    FROM agg
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (ops.windows.
    event_transitions): keyed lead window + pair groupBy; the
    probability normalizer runs over the |types|^2 aggregate. Rows
    missing a user, a timestamp, or a type cannot sit in a sequence
    (NULL-ts ordering is engine-dependent) and are excluded."""
    from .ops import windows as win

    return win.event_transitions(
        _t(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
    )


@q(
    "weekly_active_users",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
    ex AS (
      SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day, u
      FROM du
    )
    SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS wau FROM ex GROUP BY 1
    """,
)
def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day active users (ops.windows.weekly_active_users):
    day-explode of the deduped (day, user) table — the scalable
    rewrite of COUNT(DISTINCT) over a range window, which Spark
    doesn't support and a per-day self-join would re-scan for."""
    from .ops import windows as win

    return win.weekly_active_users(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Composed end-to-end pipelines (reference mainScript / mainChIP / mainATAC)
# ---------------------------------------------------------------------------


@q(
    "pipeline_rna",
    """
    SELECT l_partkey AS gene_id, count(DISTINCT l_orderkey) AS n
    FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1
    """,
)
def q_pipeline_rna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RNA-seq pipeline composed end-to-end (pipelines.presets.
    rna_stages: chrM filter -> PCR dedup -> per-gene counts,
    reference mainScript.py:230-260). Catalyst fuses the staged plan:
    the filter pushes into the scan and dedup+count share exchanges.
    The oracle is the algebraic collapse of the three stages. On a
    curated copy bucketed by l_orderkey the dedup stage inherits the
    exchange-free path (the filter preserves the scan's clustering),
    so the composite's only shuffle is the final per-gene count."""
    from .pipelines import presets

    src, curated = lay.curated_or_parquet(spark, sf_dir, "lineitem", "l_orderkey")
    return presets.compose(src, presets.rna_stages(pre_partitioned=curated))


@q(
    "pipeline_chip",
    """
    WITH d AS (
      SELECT event_type AS chrom, value AS pos FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type, value ORDER BY event_id) AS rn
        FROM events) WHERE rn = 1
    ),
    cov AS (SELECT chrom, CAST(floor(pos / 5) AS BIGINT) AS bin, count(*) AS count
            FROM d GROUP BY 1, 2),
    sig AS (SELECT * FROM cov WHERE count >= 3),
    flagged AS (
      SELECT *, CASE WHEN bin - lag(bin) OVER (PARTITION BY chrom ORDER BY bin) > 2
                     THEN 1 ELSE 0 END AS f
      FROM sig),
    isl AS (
      SELECT *, CAST(sum(f) OVER (PARTITION BY chrom ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM flagged)
    SELECT chrom, island, min(bin) AS start_bin, max(bin) AS end_bin,
           CAST(sum(count) AS BIGINT) AS pileup
    FROM isl GROUP BY 1, 2
    """,
)
def q_pipeline_chip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChIP-seq pipeline composed end-to-end (pipelines.presets.
    chip_stages: position dedup -> binned pileup -> threshold ->
    island merge, reference mainChIP.py:330-390)."""
    from .pipelines import presets

    return presets.compose(_t(spark, sf_dir, "events"), presets.chip_stages())


@q(
    "pipeline_atac",
    """
    WITH f AS (SELECT * FROM events WHERE value > -100 AND value < 100),
    d AS (
      SELECT event_type AS chrom, value AS pos FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type, value ORDER BY event_id) AS rn
        FROM f) WHERE rn = 1
    )
    SELECT chrom, CAST(floor(pos / 25) AS BIGINT) AS bin, count(*) AS count
    FROM d GROUP BY 1, 2
    """,
)
def q_pipeline_atac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATAC-seq pipeline composed end-to-end (pipelines.presets.
    atac_stages: TLEN band -> position dedup -> coverage track,
    reference mainATAC.py:300-360)."""
    from .pipelines import presets

    return presets.compose(_t(spark, sf_dir, "events"), presets.atac_stages())


@q(
    "dup_rate_by_source",
    """
    SELECT source, count(*) AS n_docs,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_rows,
           round((count(*) - count(DISTINCT md5(text))) / count(*), 6) AS dup_rate
    FROM documents GROUP BY 1
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate report (extensions.dedup.
    exact_dup_rate): one groupBy with a distinct-hash count — which
    provider feeds need upstream fixing."""
    return dd.exact_dup_rate(_t(spark, sf_dir, "documents"))


@q(
    "source_overlap_matrix",
    f"""
    WITH {{ctes}},
    srcd AS (
      SELECT k.doc_id, k.band_key, d.source AS src
      FROM keyed k JOIN documents d USING (doc_id)
    ),
    per AS (SELECT band_key, src, count(*) AS n FROM srcd GROUP BY 1, 2)
    SELECT a.src AS source_a, b.src AS source_b,
           CAST(sum(CASE WHEN a.src = b.src THEN a.n * (a.n - 1) // 2
                         ELSE a.n * b.n END) AS BIGINT) AS n_band_pairs
    FROM per a JOIN per b ON a.band_key = b.band_key AND a.src <= b.src
    GROUP BY 1, 2 HAVING n_band_pairs > 0
    """.format(ctes=_minhash_ctes(12, 2)),
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup contamination matrix (extensions.dedup.
    source_overlap_matrix): band collisions counted from the per-band
    source histogram — mega-buckets cost their histogram, never their
    square. The oracle replays the same band pipeline and self-joins
    the per-band counts."""
    return dd.source_overlap_matrix(_t(spark, sf_dir, "documents"))


@q(
    "label_centroids",
    """
    SELECT label, CAST(i - 1 AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) AS centroid
    FROM (SELECT label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings)
    GROUP BY 1, 2
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (extensions.similarity.
    label_centroids): posexplode + per-coordinate groupBy — output is
    labels x dims regardless of corpus size."""
    return sim.label_centroids(_t(spark, sf_dir, "embeddings"))


@q(
    "quantile_normalize",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, rank,
           CAST((2 * sum(cents) OVER (PARTITION BY rank) * 10000
                 + count(cents) OVER (PARTITION BY rank))
                // (2 * count(cents) OVER (PARTITION BY rank)) AS DOUBLE)
               / 1000000.0 AS norm_value
    FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                 row_number() OVER (PARTITION BY l_suppkey
                                    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rank
          FROM lineitem)
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across samples (ops.windows.
    quantile_normalize — the expression-matrix batch-effect
    remover): rank within sample, replace with cross-sample
    rank-mean. Two keyed high-cardinality windows, no join-back.
    The rank-mean rounds to 6 decimals in exact integer arithmetic
    (half-up on integer cents) because round(avg(double), 6) is not
    engine-stable — CORRECTNESS_r08's 1-ulp flip at rank 555. The
    oracle mirrors the identical integer formula."""
    from .ops import windows as win

    li = _t(spark, sf_dir, "lineitem")
    out = win.quantile_normalize(
        li, "l_suppkey", "l_extendedprice", ["l_orderkey", "l_linenumber"]
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "rank", "norm_value")


def _mh_est_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    agree = " + ".join(
        f"CAST(sa.mh{j} = sb.mh{j} AS INT)" for j in range(num_hashes)
    )
    return f"""
    WITH {_minhash_ctes(num_hashes, band_size)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             round(({agree}) / {num_hashes}.0, 6) AS est_jaccard
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    shared AS (
      SELECT p.doc_a, p.doc_b, count(*) AS shared
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           coalesce(round(s.shared / (za.n_sh + zb.n_sh - s.shared), 6), 0.0) AS true_jaccard,
           round(abs(e.est_jaccard
                 - coalesce(round(s.shared / (za.n_sh + zb.n_sh - s.shared), 6), 0.0)), 6) AS abs_err
    FROM est e
    LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
    LEFT JOIN sizes za ON za.doc_id = e.doc_a
    LEFT JOIN sizes zb ON zb.doc_id = e.doc_b
    """


@q("minhash_jaccard_estimate", _mh_est_oracle())
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration (extensions.dedup.minhash_estimate_pairs):
    MinHash estimate vs true shingle Jaccard per LSH candidate pair.
    The signature table is checkpointed once and reused by the band
    pairing and both join sides — materialize sketches, don't
    recompute them per branch."""
    return dd.minhash_estimate_pairs(_docs_maybe_curated(spark, sf_dir))


def _simhash_hamming_oracle(
    bits: int = _SIMHASH_BITS, band_bits: int = 4, max_hamming: int = 1
) -> str:
    n_bands = bits // band_bits
    ham = " + ".join(
        f"CASE WHEN substr(sa.simhash, {b + 1}, 1) <> substr(sb.simhash, {b + 1}, 1) THEN 1 ELSE 0 END"
        for b in range(bits)
    )
    return f"""
    WITH {_simhash_sig_ctes(bits)},
    keyed AS (
      SELECT s.doc_id,
             CAST(g.i AS VARCHAR) || '|' || substr(s.simhash, g.i * {band_bits} + 1, {band_bits}) AS band_key
      FROM sig s, (SELECT unnest(range(0, {n_bands})) AS i) g
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b, CAST(({ham}) AS BIGINT) AS hamming
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    WHERE ({ham}) <= {max_hamming}
    """


@q("simhash_hamming_pairs", _simhash_hamming_oracle())
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage simhash dedup (extensions.dedup.
    simhash_hamming_pairs): band blocking for recall, exact
    bit_count(xor) Hamming filter for precision. bits=16/band_bits=4/
    max_hamming<=3 makes banding lossless by pigeonhole — every
    qualifying pair shares a band."""
    return dd.simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"), bits=_SIMHASH_BITS, band_bits=4, max_hamming=1
    )


@q(
    "lm_doc_score",
    """
    WITH bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
             unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE len(w) >= 2
    ),
    c_bi AS (SELECT w1, w2, count(*) AS c_bi FROM bi GROUP BY 1, 2),
    c_ctx AS (SELECT w1, count(*) AS c_ctx FROM bi GROUP BY 1),
    vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT w1 AS t FROM bi UNION ALL SELECT w2 FROM bi)
    )
    SELECT b.doc_id,
           round(avg(ln((c.c_bi + 1) / (x.c_ctx + vocab.v))), 6) AS lm_score,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bi b
    JOIN c_bi c USING (w1, w2)
    JOIN c_ctx x USING (w1)
    CROSS JOIN vocab
    GROUP BY 1
    """,
)
def q_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM scoring (extensions.textstats.lm_doc_score) — the
    perplexity-filter analog: add-one-smoothed bigram model trained
    on the corpus itself, every doc scored by mean log-prob. Model
    tables are vocab-bounded broadcasts; the instance table is built
    once and checkpointed."""
    return tx.lm_doc_score(_t(spark, sf_dir, "documents"))


@q(
    "mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.user_id, e.value,
             abs(e.value - med.m) AS absdev
      FROM events e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.user_id, d.value,
           round(0.6745 * d.absdev / mad.mad, 4) AS mod_zscore
    FROM dev d JOIN mad USING (event_type)
    WHERE mad.mad > 0 AND round(0.6745 * d.absdev / mad.mad, 4) > 3.5
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via modified z-score (ops.quality.mad_outliers):
    median/MAD per event type, both passes map-side-combinable
    groupBys joined back broadcast — immune to the outliers it hunts,
    no per-group window funnel."""
    from .ops import quality as ql

    e = _t(spark, sf_dir, "events")
    out = ql.mad_outliers(e, "event_type", "value", threshold=3.5)
    return out.select("event_id", "event_type", "user_id", "value", "mod_zscore")


@q(
    "winsorize_stats",
    """
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.01) AS lo,
             quantile_cont(o_totalprice, 0.99) AS hi
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           round(q.lo, 6) AS p_low,
           round(q.hi, 6) AS p_high,
           round(avg(o.o_totalprice), 6) AS mean_raw,
           round(avg(least(greatest(o.o_totalprice, q.lo), q.hi)), 6) AS mean_winsorized,
           CAST(sum(CASE WHEN o.o_totalprice < q.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN o.o_totalprice > q.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY 1, q.lo, q.hi
    """,
)
def q_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report (ops.quality.winsorize_stats): per-group
    p01/p99 clip, raw vs clipped mean — how much of the metric's mean
    its tails carry. Quantile aggregate broadcasts back; Spark
    percentile == DuckDB quantile_cont bit-identically."""
    from .ops import quality as ql

    return ql.winsorize_stats(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


@q(
    "top_event_paths",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    per_user AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
             count(*) AS n_ev
      FROM ranked WHERE rn <= 3 GROUP BY 1
    )
    SELECT path, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM per_user WHERE n_ev = 3 GROUP BY 1
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path census (ops.windows.top_event_paths): each user's
    first 3 event types as an ordered 'a>b>c' path, counted across
    users. Keyed window ranks, rows past depth drop before path
    assembly, struct-sort makes ordering partition-independent.
    Prefers a curated copy bucketed+sorted on (user_id, ts): the
    per-user window then needs neither an exchange nor a sort
    (registry._t_events_curated)."""
    from .ops import windows as win

    return win.top_event_paths(
        _t_events_curated(spark, sf_dir).filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        ),
        depth=3,
    )


@q(
    "rule_filter",
    """
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','and','of','to','in','is','it'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round((n_chars - (n_words - 1)) / n_words, 6) AS mean_word_len,
           round(n_stop / n_words, 6) AS stop_ratio,
           round(1.0 - n_uniq / n_words, 6) AS repeat_ratio,
           CAST(n_words >= 20 AND n_words <= 1000 AS BIGINT) AS pass_len,
           CAST((n_chars - (n_words - 1)) / n_words >= 3.0
                AND (n_chars - (n_words - 1)) / n_words <= 10.0 AS BIGINT) AS pass_word_len,
           CAST(n_stop / n_words > 0.0 AS BIGINT) AS pass_stopword,
           CAST(1.0 - n_uniq / n_words <= 0.6 AS BIGINT) AS pass_repeat,
           CAST(n_words >= 20 AND n_words <= 1000
                AND (n_chars - (n_words - 1)) / n_words >= 3.0
                AND (n_chars - (n_words - 1)) / n_words <= 10.0
                AND n_stop / n_words > 0.0
                AND 1.0 - n_uniq / n_words <= 0.6 AS BIGINT) AS keep
    FROM f
    """,
)
def q_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher rule gate with per-rule attribution
    (extensions.textstats.rule_filter): word-count band, mean-word-
    length band, stopword floor, repeated-token ceiling — each rule
    its own 0/1 column so the drop report is auditable. One codegen
    scan of the corpus."""
    return tx.rule_filter(_t(spark, sf_dir, "documents"))


def _srp_oracle(bits: int = 24, band_bits: int = 6, dims: int = 64, threshold: float = 0.3) -> str:
    signs = dd.srp_signs(bits, dims)
    n_bands = bits // band_bits
    proj = lambda b: " + ".join(
        f"({'' if signs[b][d] > 0 else '-'}1.0 * e[{d + 1}])" for d in range(dims)
    )
    sig = " || ".join(
        f"CASE WHEN ({proj(b)}) >= 0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))),
    sig AS (SELECT vec_id, {sig} AS srp FROM v),
    keyed AS (
      SELECT s.vec_id,
             CAST(g.i AS VARCHAR) || '|' || substr(s.srp, g.i * {band_bits} + 1, {band_bits}) AS band_key
      FROM sig s, (SELECT unnest(range(0, {n_bands})) AS i) g
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           round(list_cosine_similarity(va.e, vb.e), 6) AS cos
    FROM pairs p JOIN v va ON va.vec_id = p.vec_a JOIN v vb ON vb.vec_id = p.vec_b
    WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= {threshold}
    """


@q("srp_embedding_pairs", _srp_oracle())
def q_srp_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-free embedding near-dup (extensions.dedup.
    srp_near_dup_pairs): SRP/hyperplane signature manufactures its
    own LSH buckets from geometry (Charikar 2002), in-bucket pairs,
    exact-cosine confirm. The hyperplane matrix is md5-derived
    literals — bit-identical in any engine, no RNG seed. The oracle
    excludes NULL/interior-NULL vectors up front (DuckDB
    list_cosine_similarity ERRORS on interior NULLs); the op needs no
    extra filter — such vectors' confirm cosine is NULL/NaN and never
    reaches the >= threshold cut."""
    return dd.srp_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), bits=24, band_bits=6, threshold=0.3
    )


@q("stream_minhash_dedup", _minhash_oracle())
def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (streaming.neardup): the corpus drains
    through merge_band_store in 4 deterministic micro-batches, each
    probing and then appending the persistent band store. The oracle
    is the ONE-SHOT batch LSH result — the identity (union of
    incremental pairs == batch pairs) is the correctness contract of
    the streaming path."""
    import tempfile

    from .streaming import neardup as nd

    root = tempfile.mkdtemp(prefix="neardup-")
    return nd.replay_batched(_t(spark, sf_dir, "documents"), root)


# ---------------------------------------------------------------------------
# Graph analytics, ML primitives, sketch quantiles, retrieval scoring
# ---------------------------------------------------------------------------

from .extensions import graph as gr  # noqa: E402
from .ops import aggregates as ag  # noqa: E402

# Item co-order graph shared by the graph queries: parts linked when
# they ship in the same order (the basket graph every recommender /
# dedup-cluster audit starts from). Pair generation happens INSIDE a
# collect_set bounded per order — never a fact self-join.
_CO_ORDER_EDGES = """grp AS (
      SELECT l_orderkey AS g, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY 1
    ),
    bounded AS (SELECT g, items FROM grp WHERE len(items) BETWEEN 2 AND 64),
    ex AS (SELECT g, unnest(items) AS item FROM bounded),
    edges AS (
      SELECT DISTINCT a.item AS src, c.item AS dst
      FROM ex a JOIN ex c USING (g) WHERE a.item <> c.item
    )"""

_PR_ITER = """c{i} AS (
      SELECT e.dst AS node, sum(r.rank / d.deg) AS m
      FROM edges e JOIN r{j} r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY 1
    ),
    r{i} AS (
      SELECT nodes.node, (CAST(0.15 AS DOUBLE) / n + 0.85 * coalesce(m, 0)) AS rank
      FROM nodes LEFT JOIN c{i} USING (node), nn
    )"""


@q(
    "pagerank_iter",
    f"""
    WITH {_CO_ORDER_EDGES},
    deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
    {_PR_ITER.format(i=1, j=0)},
    {_PR_ITER.format(i=2, j=1)},
    {_PR_ITER.format(i=3, j=2)}
    SELECT node, round(rank * n, 6) AS rank_norm FROM r3, nn
    """,
)
def q_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 synchronous rounds, damping 0.85) over the item
    co-order graph (extensions.graph.weighted_pagerank_from_half at
    unit weights: every edge's share is 1/degree). Each round is one
    equi-join + one map-side-combinable groupBy — the Pregel matvec
    expressed declaratively; both join sides are pre-partitioned on
    the node key so every round reuses one exchange. The undirected
    edge set guarantees no dangling mass; the node count is the only
    driver scalar. Output is mean-1 normalized so the fixed 6-dp
    rounding keeps resolution at any graph size. The eager phases
    (edge-list build + the fixed-round matvec) run under
    session.no_aqe: the co-order graph's group size is bounded
    (max_group=64) and both matvec sides are co-partitioned by
    construction, so AQE's per-shuffle-stage re-planning barrier can
    improve nothing and costs ~0.15-0.2s per stage. Prefers the
    curated stored edge table (_co_order_half_maybe_curated): the
    per-call groupBy + in-group explode + count derivation — the
    single largest slice of this query's wall, and at 100 TB a
    repeated multi-TB shuffle — is replaced by a bucketed scan."""
    from .session import no_aqe

    with no_aqe(spark):
        half = _co_order_half_maybe_curated(spark, sf_dir)
        pr = gr.weighted_pagerank_from_half(
            half.select("src", "dst", F.lit(1.0).alias("w")),
            iters=3, damping=0.85, normalize=True,
        )
    return pr.select("node", F.round(F.col("rank"), 6).alias("rank_norm"))


@q(
    "graph_degree_stats",
    f"""
    WITH {_CO_ORDER_EDGES},
    o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
    i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg FROM edges GROUP BY 1)
    SELECT coalesce(o.node, i.node) AS node,
           coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg
    FROM o FULL JOIN i ON o.node = i.node
    """,
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree profile of the co-order graph
    (extensions.graph.degree_stats_from_half): the co-order edge set
    is symmetric, so out_deg = in_deg = undirected degree and ONE
    endpoint-explode over the half set (E rows) replaces exploding the
    mirrored list (4·E rows) — half the aggregate input at any scale
    (r12). The skew screen run before any iterative graph algorithm
    (a hub node here is a hot key there). Prefers the curated stored
    edge table (_co_order_half_maybe_curated)."""
    half = _co_order_half_maybe_curated(spark, sf_dir)
    return gr.degree_stats_from_half(half.select("src", "dst"))


@q(
    "kmeans_assign",
    """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS centroid
      FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
      ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT e.vec_id, s.cell,
             list_cosine_similarity(e.embedding::DOUBLE[], s.centroid) AS cos
      FROM embeddings e CROSS JOIN seeds s
      WHERE e.embedding IS NOT NULL
        AND len(list_filter(CAST(e.embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)) > 0
    ),
    best AS (
      SELECT vec_id, cell, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
      FROM scored
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_members, round(avg(cos), 6) AS mean_cos
    FROM best WHERE rn = 1 GROUP BY 1
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment round (extensions.similarity.
    nearest_centroid) with deterministic seeds — the 8 lowest-id
    vectors, exactly how kmeans_cells seeds IVF training. The
    centroid model broadcasts; argmax is a max(struct) aggregate (no
    per-vector window); cluster sizes + mean member similarity are
    the model-quality report a 100 TB clustering job emits per
    round. Zero Python — the cosine folds in Catalyst. NULL vectors
    are neither seeds nor members (ANN-family NULL contract; the
    oracle filters identically so seed cell numbering matches)."""
    e = _t(spark, sf_dir, "embeddings").filter(sim._has_direction("embedding"))
    w = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(w) - 1).alias("cell"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    assigned = sim.nearest_centroid(e, seeds)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
    )


@q(
    "approx_quantile_bins",
    """
    WITH stats AS (
      SELECT event_type, count(*)::DOUBLE AS n, min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type,
             CASE WHEN (s.mx - s.mn) / 1000.0 > 0
                  THEN least(999, CAST(floor((e.value - s.mn) / ((s.mx - s.mn) / 1000.0)) AS INT))
                  ELSE 0 END AS b,
             count(*)::DOUBLE AS c
      FROM events e JOIN stats s USING (event_type) GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, b, c, sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum
      FROM binned
    ),
    probs AS (SELECT CAST(x AS DOUBLE) AS p FROM (VALUES (0.5), (0.9), (0.99)) t(x)),
    cand AS (
      SELECT c.event_type, p.p, c.b, c.c, c.cum, s.n, s.mn, s.mx,
             row_number() OVER (PARTITION BY c.event_type, p.p ORDER BY c.b) AS rn
      FROM cum c JOIN stats s USING (event_type) CROSS JOIN probs p
      WHERE c.cum >= p.p * s.n
    )
    SELECT event_type, p,
           round(CASE WHEN NOT ((mx - mn) / 1000.0 > 0) THEN mn
                 ELSE mn + b * ((mx - mn) / 1000.0)
                      + (p * n - (cum - c)) / c * ((mx - mn) / 1000.0) END, 6) AS q
    FROM cand WHERE rn = 1
    """,
)
def q_approx_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles (ops.aggregates.binned_quantiles) —
    the percentile path that survives 100 TB where exact
    `percentile` buffers whole groups: two map-side-combinable
    scans, a cumulative window over ≤1000 BINNED rows per group, and
    in-bin linear interpolation with a (max-min)/1000 error bound.
    Unlike t-digest `approx_percentile`, every step is plain double
    arithmetic — reproducible bit-for-bit in any engine, hence
    SQL-oracled where the sketch version could only be rows-checked."""
    e = _t(spark, sf_dir, "events")
    return ag.binned_quantiles(e, ["event_type"], "value", [0.5, 0.9, 0.99], bins=1000)


@q(
    "bm25_topk",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
    nd AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
    qt AS (SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 3),
    scored AS (
      SELECT t.doc_id,
             sum( ln((n - df + 0.5) / (df + 0.5) + 1.0)
                  * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / avgdl)) ) AS score
      FROM tf t JOIN qt USING (term) JOIN dl d USING (doc_id) CROSS JOIN nd
      GROUP BY 1
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf) top-10 docs for the
    query = the corpus's 3 highest-df terms, chosen in-plan (a
    TakeOrdered over the vocabulary-sized df table — no collect).
    tf/dl/df are wordcount-shaped aggregates; the 3-term query set
    and the 2-scalar (N, avgdl) stats broadcast; the final top-10 is
    TakeOrderedAndProject, never a global sort. Scores round to 6 dp
    BEFORE ranking so the ordering is engine-stable."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    # dl rolls up from tf (sum of integer-valued term counts — exact,
    # identical to counting tokens directly) so doc length re-uses the
    # tf shuffle instead of re-scanning the corpus.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    nd = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    qt = dfc.orderBy(F.col("df").desc(), "term").limit(3)
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    part = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(F.round(F.sum(part), 6).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(10)


@q(
    "pmi_bigrams",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (SELECT unnest(w) AS term FROM toks),
    uc AS (SELECT term, count(*)::DOUBLE AS c FROM uni GROUP BY 1),
    nu AS (SELECT sum(c) AS tu FROM uc),
    allb AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
      FROM toks
    ),
    bc0 AS (SELECT gram, count(*)::DOUBLE AS cab FROM allb GROUP BY 1),
    nb AS (SELECT sum(cab) AS tb FROM bc0),
    bc AS (
      SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2, cab
      FROM bc0 WHERE cab >= 5
    ),
    j AS (
      SELECT b.w1, b.w2, b.cab, a1.c AS ca, a2.c AS cb
      FROM bc b JOIN uc a1 ON b.w1 = a1.term JOIN uc a2 ON b.w2 = a2.term
    )
    SELECT w1, w2, CAST(cab AS BIGINT) AS n_pair,
           round(ln((cab / tb) / ((ca / tu) * (cb / tu))), 6) AS pmi
    FROM j, nb, nu
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for adjacent word pairs seen ≥5
    times — the collocation scorer (phrase mining / tokenizer merge
    candidates). Bigram and unigram tables are wordcount aggregates;
    both totals are integer-valued doubles (exact under any
    summation order); the two unigram joins hit the vocab-bounded
    count table. One fact scan per table, no windows."""
    # Split bound to a column before the explode (Generate runs
    # interpreted without CSE — see dedup.word_shingles_of).
    d = _t(spark, sf_dir, "documents").withColumn(
        "__w", F.split(F.col("text"), " ")
    )
    w = F.col("__w")
    hi = (F.size(w) - 1).cast("int")
    idx = F.when(hi >= 1, F.sequence(F.lit(1), hi)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1))
    )
    allb = d.select(F.explode(gram).alias("gram"))
    bc0 = allb.groupBy("gram").agg(F.count(F.lit(1)).cast("double").alias("cab"))
    uni = d.select(F.explode(w).alias("term"))
    uc = uni.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("c"))
    # Both totals come from ONE slim per-doc aggregate: Σ(len-1) and
    # Σ len are integer-valued sums — exact under any order, equal to
    # summing the bigram/unigram count tables (what the oracle does)
    # without re-deriving either wordcount branch.
    tot = d.select(F.size(w).alias("__len")).agg(
        F.sum(F.greatest(F.col("__len") - 1, F.lit(0))).cast("double").alias("tb"),
        F.sum("__len").cast("double").alias("tu"),
    )
    bc = bc0.filter(F.col("cab") >= 5).select(
        F.element_at(F.split(F.col("gram"), " "), 1).alias("w1"),
        F.element_at(F.split(F.col("gram"), " "), 2).alias("w2"),
        "cab",
    )
    ca = uc.select(F.col("term").alias("w1"), F.col("c").alias("ca"))
    cb = uc.select(F.col("term").alias("w2"), F.col("c").alias("cb"))
    j = (
        bc.join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("cab") / F.col("tb"))
        / ((F.col("ca") / F.col("tu")) * (F.col("cb") / F.col("tu")))
    )
    return j.select(
        "w1", "w2",
        F.col("cab").cast("long").alias("n_pair"),
        F.round(pmi, 6).alias("pmi"),
    )


@q(
    "triangle_count",
    f"""
    WITH grp AS (
      SELECT l_orderkey AS g, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY 1
    ),
    bounded AS (SELECT g, items FROM grp WHERE len(items) BETWEEN 2 AND 64),
    ex AS (SELECT g, unnest(items) AS item FROM bounded),
    und AS (
      SELECT DISTINCT a.item AS u, c.item AS v
      FROM ex a JOIN ex c USING (g) WHERE a.item < c.item
    ),
    deg AS (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY 1
    ),
    nn AS (
      SELECT count(*)::BIGINT AS n_nodes,
             sum(d * (d - 1) // 2)::BIGINT AS n_wedges
      FROM deg
    ),
    ne AS (SELECT count(*)::BIGINT AS n_edges FROM und),
    tris AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
           JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           round(3.0 * n_triangles / n_wedges, 6) AS global_clustering
    FROM nn, ne, tris
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the
    co-order graph (extensions.graph.triangle_stats): oriented wedge
    join over a localCheckpoint-ed edge list — three equi-joins, each
    triangle counted once; wedges computed from the degree table,
    never enumerated. Prefers the curated stored edge table
    (_co_order_half_maybe_curated) — the census reads stored edges
    instead of re-deriving them. facts=None: with a prebuilt half set
    triangle_stats never touches the fact table, and a _t() read here
    would pay a per-call parquet footer pass for nothing (the r8
    fixed-overhead class)."""
    half = _co_order_half_maybe_curated(spark, sf_dir)
    return gr.triangle_stats(
        None, "l_orderkey", "l_partkey", max_group=64, half=half
    )


@q(
    "item_cf_topk",
    """
    WITH grp AS (
      SELECT l_orderkey AS g, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY 1
    ),
    bounded AS (SELECT g, items FROM grp WHERE len(items) BETWEEN 2 AND 64),
    ex AS (SELECT g, unnest(items) AS item FROM bounded),
    pairc AS (
      SELECT a.item AS u, c.item AS v, count(*)::DOUBLE AS cnt
      FROM ex a JOIN ex c USING (g) WHERE a.item <> c.item
      GROUP BY 1, 2
    ),
    deg AS (SELECT item, count(*)::DOUBLE AS d FROM ex GROUP BY 1),
    scored AS (
      SELECT p.u, p.v, p.cnt, round(p.cnt / sqrt(du.d * dv.d), 6) AS cos
      FROM pairc p JOIN deg du ON p.u = du.item JOIN deg dv ON p.v = dv.item
    ),
    rk AS (
      SELECT u, v, cnt, cos,
             row_number() OVER (PARTITION BY u ORDER BY cos DESC, v) AS rn
      FROM scored
    )
    SELECT u AS item, v AS neighbor, CAST(cnt AS BIGINT) AS n_co, cos
    FROM rk WHERE rn <= 5
    """,
)
def q_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (extensions.graph.
    item_cf_topk): cosine over the order-part incidence matrix,
    top-5 neighbors per part. Pair counts from bounded in-group
    generation; the ranking window partitions by item (degree-
    bounded), never globally."""
    li = _t(spark, sf_dir, "lineitem")
    return gr.item_cf_topk(li, "l_orderkey", "l_partkey", k=5, max_group=64)


@q(
    "rank_fusion_rrf",
    """
    WITH rev AS (
      SELECT l_partkey AS part,
             sum(l_extendedprice * (1 - l_discount)) AS revenue,
             count(DISTINCT l_orderkey)::BIGINT AS n_orders
      FROM lineitem GROUP BY 1
    ),
    r1 AS (SELECT part, row_number() OVER (ORDER BY round(revenue, 2) DESC, part) AS rk FROM rev),
    r2 AS (SELECT part, row_number() OVER (ORDER BY n_orders DESC, part) AS rk FROM rev),
    fused AS (
      SELECT r1.part,
             round(1.0 / (60 + r1.rk) + 1.0 / (60 + r2.rk), 6) AS rrf,
             r1.rk AS rank_revenue, r2.rk AS rank_orders
      FROM r1 JOIN r2 USING (part)
    )
    SELECT part, rrf, rank_revenue, rank_orders
    FROM fused ORDER BY rrf DESC, part LIMIT 20
    """,
)
def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two part rankings — revenue
    and order-count — the standard way to merge heterogeneous
    retrieval/scoring signals (BM25 + embedding cosine in a corpus
    pipeline; here two aggregate orderings of the same dim). Both
    rankings are global windows over the PART-LEVEL aggregate
    (dim-sized, like skew_profile's share window — never the fact
    table); revenue is rounded to cents BEFORE ranking so float
    summation order can't flip neighbors. Final top-20 is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )
    w1 = Window.orderBy(F.round(F.col("revenue"), 2).desc(), "part")
    w2 = Window.orderBy(F.col("n_orders").desc(), "part")
    fused = rev.select(
        "part",
        F.row_number().over(w1).alias("rank_revenue"),
        F.row_number().over(w2).alias("rank_orders"),
    ).select(
        "part",
        F.round(
            1.0 / (60 + F.col("rank_revenue")) + 1.0 / (60 + F.col("rank_orders")), 6
        ).alias("rrf"),
        "rank_revenue",
        "rank_orders",
    )
    return fused.orderBy(F.col("rrf").desc(), "part").limit(20)


def _mh_containment_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    agree = " + ".join(
        f"CAST(sa.mh{j} = sb.mh{j} AS INT)" for j in range(num_hashes)
    )
    return f"""
    WITH {_minhash_ctes(num_hashes, band_size)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.doc_a, p.doc_b, ({agree}) / {num_hashes}.0 AS j
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*)::DOUBLE AS n_sh FROM sh GROUP BY 1),
    shared AS (
      SELECT p.doc_a, p.doc_b, count(*)::DOUBLE AS shared
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT e.doc_a, e.doc_b, round(j, 6) AS est_jaccard,
           round(least(j / (1 + j) * (za.n_sh + zb.n_sh) / za.n_sh, 1.0), 6) AS est_cont_a_in_b,
           round(least(j / (1 + j) * (za.n_sh + zb.n_sh) / zb.n_sh, 1.0), 6) AS est_cont_b_in_a,
           round(coalesce(s.shared, 0) / za.n_sh, 6) AS true_cont_a_in_b,
           round(coalesce(s.shared, 0) / zb.n_sh, 6) AS true_cont_b_in_a
    FROM est e
    LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
    """


@q("minhash_containment", _mh_containment_oracle())
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment per LSH candidate pair
    (extensions.dedup.minhash_containment_pairs): C(A in B) = |A∩B|/|A|
    estimated from the MinHash Jaccard via inclusion-exclusion, next
    to the exact value — catches sub-document duplication (quote
    inclusion) that symmetric Jaccard thresholds miss. Signature
    table checkpointed once; exact shingle sets join only candidate
    pairs."""
    return dd.minhash_containment_pairs(_docs_maybe_curated(spark, sf_dir))


@q(
    "stream_quantile_sketch",
    """
    WITH binned AS (
      SELECT event_type, CAST(floor(value / 0.25) AS BIGINT) AS b, count(*)::DOUBLE AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, sum(c) AS n FROM binned GROUP BY 1),
    cum AS (
      SELECT event_type, b, c, sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum
      FROM binned
    ),
    probs AS (SELECT CAST(x AS DOUBLE) AS p FROM (VALUES (0.5), (0.9), (0.99)) t(x)),
    cand AS (
      SELECT c.event_type, p.p, c.b, c.c, c.cum, t.n,
             row_number() OVER (PARTITION BY c.event_type, p.p ORDER BY c.b) AS rn
      FROM cum c JOIN tot t USING (event_type) CROSS JOIN probs p
      WHERE c.cum >= p.p * t.n
    )
    SELECT event_type, p,
           round(b * 0.25 + (p * n - (cum - c)) / c * 0.25, 6) AS q
    FROM cand WHERE rn = 1
    """,
)
def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles (streaming.rollup.replay_grid_quantiles):
    the event stream drains in 4 deterministic micro-batches, each
    folding into a persistent FIXED-grid histogram (bin = floor(v /
    0.25) — absolute grid, so bin counts are additive and the final
    state is bit-identical to one-shot batch binning; a
    min/max-scaled binning could never stream, because early batches
    don't know the final extent). The oracle IS the one-shot batch
    computation — the streaming ≡ batch identity is the correctness
    contract, like stream_minhash_dedup. Error ≤ one grid step;
    state is |groups| × occupied bins regardless of stream length."""
    import tempfile

    from .streaming import rollup as ru

    root = tempfile.mkdtemp(prefix="gridq-")
    e = _t(spark, sf_dir, "events")
    return ru.replay_grid_quantiles(
        e, root, ["event_type"], "value", "event_id", [0.5, 0.9, 0.99], grid=0.25
    )


@q(
    "setsim_prefix_join",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    ex AS (SELECT doc_id, unnest(ts) AS term, len(ts)::BIGINT AS l FROM toks),
    ranked AS (
      SELECT doc_id, term, l,
             row_number() OVER (PARTITION BY doc_id ORDER BY md5(term), term) AS pos
      FROM ex
    ),
    sizes AS (SELECT doc_id, len(ts)::BIGINT AS l, ts FROM toks),
    pref AS (
      SELECT doc_id, term FROM ranked
      WHERE pos <= l - ceil(0.7 * l) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    veri AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.ts, sb.ts))::DOUBLE AS inter, sa.l AS la, sb.l AS lb
      FROM cand c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE least(sa.l, sb.l) >= 0.7 * greatest(sa.l, sb.l)
    )
    SELECT doc_a, doc_b, round(inter / (la + lb - inter), 6) AS jaccard
    FROM veri WHERE inter / (la + lb - inter) >= 0.7
    """,
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-threshold self-join with ZERO false negatives
    (extensions.dedup.setsim_prefix_join) — AllPairs/PPJoin prefix
    filtering: candidates must share one of each side's first
    l-⌈t·l⌉+1 shingles under the canonical md5 order (computed
    map-side INSIDE each row — no corpus-sized rank join), then a
    length filter, then exact array_intersect verification over
    survivors only. The recall guarantee LSH banding cannot give.
    Runs over distinct content with member fan-out
    (setsim_prefix_join_collapsed) so duplicate groups cost one
    verification, not a quadratic candidate shuffle."""
    return dd.setsim_prefix_join_collapsed(
        _docs_maybe_curated(spark, sf_dir), threshold=0.7, shingle_n=3
    )


@q(
    "ann_recall_report",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
               WHERE embedding IS NOT NULL AND label IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
    dims AS (SELECT unnest(range(1, 65)) AS i),
    cd AS (SELECT label, i, avg(e[i]) AS mu FROM v CROSS JOIN dims GROUP BY 1, 2),
    cent AS (SELECT label, list(mu ORDER BY i) AS c FROM cd GROUP BY 1),
    probe AS (
      SELECT query_id, label FROM (
        SELECT q.query_id, cent.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qv, cent.c) DESC, cent.label
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= 3
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(q2.qv, v.e), 6) DESC, v.vec_id
               ) AS rk
        FROM probe p JOIN v ON v.label = p.label JOIN q q2 ON q2.query_id = p.query_id
      ) WHERE rk <= 5
    ),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, v.e), 6) DESC, v.vec_id
               ) AS rk
        FROM q CROSS JOIN v
      ) WHERE rk <= 5
    ),
    hits AS (
      SELECT i.query_id, count(*)::BIGINT AS n_hits
      FROM ivf i JOIN brute b
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0)::DOUBLE / 5.0 AS recall
    FROM q LEFT JOIN hits h USING (query_id)
    """,
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN calibration: recall@5 of the PRUNED IVF path (label cells,
    nprobe=3 of 10) against exact brute force, per query — the
    sketch-accuracy report for similarity search, the ANN analog of
    minhash_jaccard_estimate. This is the number that tells you
    whether nprobe is sized right before trusting the pruned index
    at corpus scale. Both rankings round to 6 dp before ranking and
    tie-break on id, so the comparison is engine-stable. NULL
    embeddings/labels are excluded in both engines (ANN-family NULL
    contract): the brute baseline, the IVF path, and the query set
    must all rank over the same candidate universe or recall is
    meaningless."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        sim._has_direction("embedding") & F.col("label").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    ivf = sim.ivf_topk_cosine(queries, emb, k=5, nprobe=3, cell_col="label")
    brute = sim.brute_topk_cosine(queries, emb, k=5)
    hits = (
        ivf.select("query_id", "neighbor_id")
        .join(brute.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 5.0).alias("recall"),
        )
    )


@q(
    "setsim_clusters",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    ex AS (SELECT doc_id, unnest(ts) AS term, len(ts)::BIGINT AS l FROM toks),
    ranked AS (
      SELECT doc_id, term, l,
             row_number() OVER (PARTITION BY doc_id ORDER BY md5(term), term) AS pos
      FROM ex
    ),
    sizes AS (SELECT doc_id, len(ts)::BIGINT AS l, ts FROM toks),
    pref AS (
      SELECT doc_id, term FROM ranked
      WHERE pos <= l - ceil(0.7 * l) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    veri AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.ts, sb.ts))::DOUBLE AS inter, sa.l AS la, sb.l AS lb
      FROM cand c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE least(sa.l, sb.l) >= 0.7 * greatest(sa.l, sb.l)
    ),
    pr AS (
      SELECT doc_a, doc_b FROM veri WHERE inter / (la + lb - inter) >= 0.7
    ),
    ed AS (
      SELECT doc_a AS a, doc_b AS b FROM pr
      UNION SELECT doc_b AS a, doc_a AS b FROM pr
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents WHERE text IS NOT NULL
      UNION
      SELECT e.b, r.comp FROM reach r JOIN ed e ON e.a = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_setsim_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end EXACT near-dup clustering: transitive closure over
    the zero-false-negative setsim_prefix_join pairs — the cluster
    assignment whose recall is a guarantee, not an LSH probability.
    Exact duplicates are pre-collapsed on the content hash
    (dedup.collapse_exact_text), the prefix join and the
    star-contraction CC run over DISTINCT texts only, and the
    representative's cluster label fans back out through one
    equi-join — pair mass proportional to distinct content, never
    O(m²) per duplicate group (exactness argument in
    dedup.setsim_clusters_collapsed). Oracle recomputes the fixpoint
    as a DuckDB recursive CTE — independent algorithm, same
    semantics."""
    d = _docs_maybe_curated(spark, sf_dir)
    return dd.setsim_clusters_collapsed(d, threshold=0.7, shingle_n=3)


@q(
    "lsh_recall_metrics",
    f"""
    WITH {_minhash_ctes(12, 2)},
    lsh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    toks2 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    ex2 AS (SELECT doc_id, unnest(ts) AS term, len(ts)::BIGINT AS l FROM toks2),
    ranked2 AS (
      SELECT doc_id, term, l,
             row_number() OVER (PARTITION BY doc_id ORDER BY md5(term), term) AS pos
      FROM ex2
    ),
    sizes2 AS (SELECT doc_id, len(ts)::BIGINT AS l, ts FROM toks2),
    pref2 AS (SELECT doc_id, term FROM ranked2 WHERE pos <= l - ceil(0.7 * l) + 1),
    cand2 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref2 a JOIN pref2 b ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    veri2 AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.ts, sb.ts))::DOUBLE AS inter, sa.l AS la, sb.l AS lb
      FROM cand2 c
      JOIN sizes2 sa ON sa.doc_id = c.doc_a
      JOIN sizes2 sb ON sb.doc_id = c.doc_b
      WHERE least(sa.l, sb.l) >= 0.7 * greatest(sa.l, sb.l)
    ),
    truth AS (SELECT doc_a, doc_b FROM veri2 WHERE inter / (la + lb - inter) >= 0.7),
    nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
    nl AS (SELECT count(*)::BIGINT AS n_lsh FROM lsh),
    nh AS (
      SELECT count(*)::BIGINT AS n_hit
      FROM truth t JOIN lsh s ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b
    )
    SELECT n_true, n_lsh, n_hit,
           round(n_hit::DOUBLE / n_true, 6) AS recall,
           round(n_hit::DOUBLE / n_lsh, 6) AS precision
    FROM nt, nl, nh
    """,
)
def q_lsh_recall_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH calibration against EXACT ground truth: the MinHash band
    candidates (6 bands × 2 rows — collision threshold J ≈ 0.41)
    measured against setsim_prefix_join's provably-complete J ≥ 0.7
    pair set. Recall tells you whether the banding misses real
    duplicates; precision tells you how much the verify stage pays
    for low-J candidates — the two numbers that size (bands, rows,
    threshold) before running dedup on 100 TB. Exact duplicates are
    pre-collapsed and the full-corpus counts recovered
    ARITHMETICALLY (|A|·|B| cross-group, C(|A|,2) within-group —
    exactness argument in dedup.lsh_recall_counts), so neither the
    truth side nor the candidate side ever materializes duplicate
    cliques. Both rep-level pair sets are equi-join derived; the
    census counts broadcast-cross into one summary row."""
    d = _docs_maybe_curated(spark, sf_dir)
    return dd.lsh_recall_counts(d, threshold=0.7, shingle_n=3)


_WPR_ITER = """c{i} AS (
      SELECT s.dst AS node, sum(r.rank * s.share) AS m
      FROM sh s JOIN r{j} r ON s.src = r.node
      GROUP BY 1
    ),
    r{i} AS (
      SELECT nodes.node, (CAST(0.15 AS DOUBLE) / n + 0.85 * coalesce(m, 0)) AS rank
      FROM nodes LEFT JOIN c{i} USING (node), nn
    )"""


@q(
    "pagerank_weighted",
    f"""
    WITH grp AS (
      SELECT l_orderkey AS g, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY 1
    ),
    bounded AS (SELECT g, items FROM grp WHERE len(items) BETWEEN 2 AND 64),
    ex AS (SELECT g, unnest(items) AS item FROM bounded),
    we AS (
      SELECT a.item AS src, c.item AS dst, count(*)::DOUBLE AS w
      FROM ex a JOIN ex c USING (g) WHERE a.item <> c.item
      GROUP BY 1, 2
    ),
    ws AS (SELECT src, sum(w) AS wsum FROM we GROUP BY 1),
    sh AS (SELECT we.src, we.dst, we.w / ws.wsum AS share FROM we JOIN ws USING (src)),
    nodes AS (SELECT DISTINCT src AS node FROM we),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
    {_WPR_ITER.format(i=1, j=0)},
    {_WPR_ITER.format(i=2, j=1)},
    {_WPR_ITER.format(i=3, j=2)}
    SELECT node, round(rank * n, 6) AS rank_norm FROM r3, nn
    """,
)
def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-order graph (extensions.graph.
    weighted_pagerank_from_half): link strength = number of orders pairing the
    two parts, rank distributed by weight share — the authority
    ranking a recommender actually wants (repeat co-purchases count
    more than one-off baskets). Same one-join-one-agg round shape and
    exchange reuse as the uniform variant; the per-edge share is
    precomputed once so rounds are pure multiply-sum. Eager phases run
    under session.no_aqe, same rationale as pagerank_iter (bounded
    groups, co-partitioned fixed-round matvec). Prefers the curated
    stored edge table — the stored half set carries the weights."""
    from .session import no_aqe

    with no_aqe(spark):
        half = _co_order_half_maybe_curated(spark, sf_dir)
        pr = gr.weighted_pagerank_from_half(
            half, iters=3, damping=0.85, normalize=True
        )
    return pr.select("node", F.round(F.col("rank"), 6).alias("rank_norm"))


@q(
    "stream_vocab_topk",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
)
def q_stream_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k vocabulary (streaming.rollup.merge_rollup):
    the corpus drains in 4 deterministic micro-batches, each folding
    per-term counts into the persistent rollup (counts are additive —
    merge = sum), top-50 extracted from the FINAL state with a
    TakeOrdered over the vocab-sized table. The oracle is the
    one-shot batch wordcount — streaming ≡ batch exactly, the same
    identity contract as stream_quantile_sketch. State is
    vocab-sized regardless of stream length; a true heavy-hitters
    sketch (Misra-Gries) would bound state further but its contents
    depend on arrival order — this form stays engine- and
    order-independent."""
    import tempfile

    from .streaming import rollup as ru

    root = tempfile.mkdtemp(prefix="vocabtk-")
    state = os.path.join(root, "vocab")
    d = _t(spark, sf_dir, "documents")
    final = None
    for i in range(4):
        batch = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        partial = batch.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        ).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n"))
        final = ru.merge_rollup(partial, state, ["token"], {"n": "sum"})
    return final.select("token", F.col("n").cast("long").alias("n")).orderBy(
        F.col("n").desc(), "token"
    ).limit(50)


@q(
    "dedup_keep_best",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    j AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    rk AS (
      SELECT cluster_id, doc_id,
             row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
      FROM j
    ),
    sz AS (SELECT cluster_id, count(*)::BIGINT AS n_members FROM j GROUP BY 1)
    SELECT r.cluster_id, r.doc_id AS keep_id, s.n_members,
           s.n_members - 1 AS n_dropped
    FROM rk r JOIN sz s USING (cluster_id) WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per duplicate cluster (same
    transitive closure as dedup_clusters), keep the LONGEST member
    (tie → lowest id) instead of blindly the lowest id — the policy
    step between cluster assignment and the actual corpus delete.
    Survivor = one map-side-combinable max(struct) per cluster; the
    ranking never windows over raw docs, only the cluster-joined
    (id, n_chars) projection."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    j = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__negid"))
        ).alias("__b"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("__b.__negid")).cast("long").alias("keep_id"),
        "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


@q(
    "dsir_importance_weights",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    bkt AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(tok), 1, 6))::BIGINT % 256 AS b
      FROM tok
    ),
    dist AS (
      SELECT b, count(*)::DOUBLE AS cnt_raw,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS cnt_tgt
      FROM bkt GROUP BY 1
    ),
    tot AS (SELECT sum(cnt_raw) AS tr, sum(cnt_tgt) AS tt FROM dist),
    w AS (
      SELECT b, ln((cnt_tgt + 0.5) / (tt + 128.0))
               - ln((cnt_raw + 0.5) / (tr + 128.0)) AS w
      FROM dist, tot
    )
    SELECT k.doc_id, round(sum(w.w), 6) + 0.0 AS dsir_logratio
    FROM bkt k JOIN w USING (b) GROUP BY 1
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-doc
    log-likelihood ratio of a hashed-unigram bag model fit on the
    target slice (lang='en' as the stand-in for "looks like the
    pretraining target") vs the raw corpus. Feature space is 256 md5
    buckets, so both n-gram distributions are MODEL-sized: the
    distribution build is one map-side-combinable groupBy(bucket)
    over the exploded corpus, the per-bucket log-ratio table
    broadcast-joins back, and per-doc weights are a second
    map-side-combinable sum — the exact plan DSIR sharding runs at
    100 TB (the reference's density_over_total is the same two-pass
    shape, mainScript.py:604-615).

    Single-pass fuse PROBED AND REJECTED (r13, guide §1.2 "the first
    ideal-plan attempt is usually slower — measure"): aggregating one
    (doc_id, lang, bucket, count) table in a single tokenize+hash
    pass and deriving both the distribution and the per-doc sums from
    it (Σ_tokens w_b ≡ Σ_buckets c_b·w_b; forced-form output equality
    verified on sf0.01 before the A/B) measured 17.4 → 28.1 s
    (0.62×) at the 1000× documents fixture, steal ≤ 1%: at ~200
    tokens/doc the doc×bucket table holds ~0.9 rows per TOKEN, so the
    "compact" intermediate costs a corpus-mass groupBy shuffle + a
    cache write + two cache reads to save one md5 pass — while this
    two-pass form shuffles almost nothing (the distribution partial-
    aggregates to 256 rows map-side; the per-doc sum partial-
    aggregates to one row per doc inside the scan). The fuse only
    pays when tokens/doc ≫ 256 buckets; that corpus shape is not in
    evidence here, so the two-pass plan stays."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    bkt = tok.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5(F.col("tok")), 1, 6), 16, 10).cast("long") % 256).alias("b"),
    )
    dist = bkt.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double").alias("cnt_tgt"),
    )
    wall = Window.partitionBy()
    w = dist.select(
        "b",
        (
            F.log((F.col("cnt_tgt") + 0.5) / (F.sum("cnt_tgt").over(wall) + 128.0))
            - F.log((F.col("cnt_raw") + 0.5) / (F.sum("cnt_raw").over(wall) + 128.0))
        ).alias("w"),
    )
    return (
        bkt.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg((F.round(F.sum("w"), 6) + 0.0).alias("dsir_logratio"))
    )


# Adaptive-k HIERARCHICAL cell assignment: deterministic seed
# centroids (the lowest-id vectors, k = max(32, N/16) so cell
# population stays bounded as the corpus grows), assigned in two
# levels IVF-style — first the best of ceil(sqrt(k)) coarse
# centroids (the first k1 seeds), then the best fine seed among
# those mapped to that coarse cell. Flat argmax over k seeds is
# O(N*k) = O(N^2/16) once k tracks N (measured 9.3x wall at 10x
# data); two levels cost O(N*sqrt(k)). Coarse centroid i is fine
# seed i, so coarse(i) = i (self-cosine 1) and every coarse cell's
# fine candidate set is non-empty. Ends at a(vec_id, cell, emb).
_CELL_ASSIGN_CTES = """embnn AS (
      -- ANN-family NULL contract: NULL vectors can neither seed nor
      -- be assigned a cell; the op side (_adaptive_cell_assign)
      -- filters identically, so adaptive k and seed numbering match
      SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NULL)) = 0
        AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS centroid
      FROM embnn ORDER BY vec_id
      LIMIT greatest(32, (SELECT count(*) FROM embnn) // 16)
    ),
    k1 AS (SELECT CAST(ceil(sqrt(count(*))) AS INT) AS v FROM seeds),
    coarse AS (SELECT cell AS ccell, centroid AS ccent FROM seeds, k1 WHERE cell < k1.v),
    s2c AS (
      SELECT cell, ccell FROM (
        SELECT s.cell, c.ccell,
               row_number() OVER (PARTITION BY s.cell
                 ORDER BY list_cosine_similarity(s.centroid, c.ccent) DESC, c.ccell) AS rn
        FROM seeds s CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    vcoarse AS (
      SELECT vec_id, ccell FROM (
        SELECT e.vec_id, c.ccell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ccent) DESC, c.ccell) AS rn
        FROM embnn e CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    a AS (
      SELECT vec_id, cell, emb FROM (
        SELECT v.vec_id, s.cell, e.embedding::DOUBLE[] AS emb,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], s.centroid) DESC, s.cell) AS rn
        FROM vcoarse v
        JOIN s2c m ON m.ccell = v.ccell
        JOIN seeds s ON s.cell = m.cell
        JOIN embnn e ON e.vec_id = v.vec_id
      ) WHERE rn = 1
    )"""


def _adaptive_cell_assign(e: DataFrame, vectors: DataFrame | None = None) -> DataFrame:
    """Spark twin of _CELL_ASSIGN_CTES: the two-level IVF-style
    assignment, executed as ONE Arrow `mapInPandas` pass.

    k and the seed set always derive from ``e`` (the full table, as
    in the oracle CTEs); ``vectors`` optionally restricts WHICH rows
    get assigned (e.g. exact-duplicate representatives) — the cell of
    a vector is a pure function of its embedding given the seeds, so
    assigning a subset is exactly the oracle's assignment restricted
    to that subset.

    The seed matrix (k x dim — the same model the previous join-based
    form broadcast via F.broadcast(seeds)) is collected, normalized,
    and both argmax levels (coarse over ceil(sqrt(k)) centroids, fine
    over the seeds mapped to the chosen coarse cell) run as BLAS
    matmuls inside the Arrow batch: no join, no shuffle, narrow map
    over the corpus. The r6 1000x embeddings sweep caught the
    join+HOF form grinding in INTERPRETED ArrayAggregate/ZipWith eval
    (higher-order functions never whole-stage-codegen) — ~10^9
    per-element folds for 2M vectors; BLAS does the same flops at
    memory bandwidth. np.argmax returns the FIRST max, and both seed
    ids and per-coarse-cell member ids are ascending, so ties break
    on the lower cell id exactly like the max_by(struct(cos, -cell))
    it replaces and the oracle's row_number tiebreak. A coarse cell
    whose fine candidate set is empty (possible only when duplicate
    seeds make coarse(i) != i) drops its vectors, mirroring the inner
    join of the previous form and the oracle."""
    import math

    import numpy as np
    import pandas as pd

    # Direction-less embeddings (NULL / zero-norm) can neither seed
    # nor be assigned a cell (any cosine against them is NULL in Spark
    # and -1.0 in DuckDB — unmatchable) — drop them before the seed
    # collect and the Arrow pass so np.stack stays shape-stable on
    # crawl data. The oracle's embnn CTE filters identically.
    e = e.filter(sim._has_direction("embedding"))
    if vectors is not None:
        vectors = vectors.filter(sim._has_direction("embedding"))
    spark = e.sparkSession
    k = max(32, e.count() // 16)
    k1 = math.ceil(math.sqrt(k))
    seed_rows = e.orderBy("vec_id").limit(k).select("embedding").collect()
    sm = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in seed_rows])
    # A zero-norm seed would put a NaN ROW into the seed matrix, and
    # one NaN column in the argmax scores captures EVERY vector
    # (np.argmax treats NaN as maximal). Zeroing the row instead gives
    # it dot 0 to everything — it can only win where the join-based
    # form's NULL-cosine max_by would also have been degenerate.
    snorm = np.linalg.norm(sm, axis=1, keepdims=True)
    smn = np.where(snorm > 0, sm / np.where(snorm > 0, snorm, 1.0), 0.0)
    cmn = smn[:k1]
    s2c = np.argmax(smn @ cmn.T, axis=1)
    by_coarse: dict = {}
    for cell_idx, cc in enumerate(s2c.tolist()):
        by_coarse.setdefault(int(cc), []).append(cell_idx)
    packed = {
        cc: (np.asarray(ids, dtype=np.int64), smn[np.asarray(ids)])
        for cc, ids in by_coarse.items()
    }
    bc = spark.sparkContext.broadcast((cmn, packed))
    src = (vectors if vectors is not None else e).select("vec_id", "embedding")

    def assign(batches):
        cmat, cells_of = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            # Zero-norm vectors: normalizing yields an all-NaN row and
            # np.argmax would assign it a cell anyway (NaN compares
            # maximal). The join-based form this replaced produced
            # NULL cosines and DROPPED such vectors; reproduce that by
            # leaving out_cell=-1 so the keep filter excludes them.
            vnorm = np.linalg.norm(vm, axis=1, keepdims=True)
            nz = vnorm[:, 0] > 0
            vmn = np.where(nz[:, None], vm / np.where(nz[:, None], vnorm, 1.0), 0.0)
            cc = np.argmax(vmn @ cmat.T, axis=1)
            out_cell = np.full(len(pdf), -1, dtype=np.int64)
            for ccell in np.unique(cc[nz]):
                hit = cells_of.get(int(ccell))
                if hit is None:
                    continue  # empty coarse cell: drop, like the inner join
                idx = np.where((cc == ccell) & nz)[0]
                ids, mat = hit
                out_cell[idx] = ids[np.argmax(vmn[idx] @ mat.T, axis=1)]
            keep = out_cell >= 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "cell": out_cell[keep].astype("int32"),
                    "emb": [
                        [float(x) for x in v]
                        for v, kp in zip(vm, keep)
                        if kp
                    ],
                }
            )

    return fan_out(src).mapInPandas(
        assign, schema="vec_id long, cell int, emb array<double>"
    )


def _collapse_exact_vectors(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-collapse for embeddings — the vector twin
    of dedup.collapse_exact_text. Identical float arrays have cosine
    1.0 to each other and IDENTICAL cosine to every other vector, and
    cell assignment is a pure function of the embedding, so every
    copy lands in the same cell as its representative: pair-emitting
    cell stages (semdedup, kNN graph) can run over DISTINCT vectors
    and reconstruct per-copy outputs arithmetically. Without this, m
    copies of one vector co-locate BY CONSTRUCTION and the within-
    cell pair join carries C(m,2) rows per duplicate group — the r6
    1000x embeddings sweep (1000-member groups -> ~10^9 pair rows)
    is the measured failure. groupBy on the raw array is exact
    bit-equality.

    Returns ``(groups, members)``: groups = (embedding, __rep=min id,
    __cnt), checkpointed (feeds the rep pipeline AND the fan-out);
    members = (vec_id, __rep)."""
    groups = (
        e.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("__rep"),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
        .localCheckpoint(eager=True)
    )
    members = (
        e.select("vec_id", "embedding")
        .join(groups.select("embedding", "__rep"), "embedding")
        .select("vec_id", "__rep")
    )
    return groups, members


@q(
    "semdedup_prune",
    f"""
    WITH {_CELL_ASSIGN_CTES},
    p AS (
      SELECT y.vec_id, y.cell,
             round(list_cosine_similarity(x.emb, y.emb), 6) AS c
      FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
    )
    SELECT vec_id, cell, round(max(c), 6) AS max_dup_cos
    FROM p WHERE c >= 0.35 GROUP BY 1, 2
    """,
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning (Abbas et al. 2023): k-means-cluster the
    embedding space (32 deterministic seed centroids, same seeding as
    kmeans_assign/IVF), then flag any vector whose cosine to an
    EARLIER same-cluster member clears the semantic-dup threshold.
    The pairwise step is an equi-join on the cluster id — Σ per-cell
    n², never global n² — which is exactly the SemDeDup recipe: k
    grows with corpus size so cell population stays bounded, and the
    "prune against any earlier member" rule keeps the policy
    non-recursive (expressible without sequential per-cluster state).
    Threshold compares the ROUNDED cosine so both engines agree at
    the boundary. k ADAPTS to corpus size (max(32, N/16)) — with k
    fixed, cell population grows with N and the pair join goes
    quadratic (measured 15.4x wall at 10x data before this; the
    count() driving k is a single scalar, the one collect this
    operator makes). Exact-duplicate vectors are pre-collapsed
    (_collapse_exact_vectors): copies co-locate by construction, so
    the raw pair join carries C(m,2) rows per m-copy group (~10^9 at
    the 1000x sweep's 1000-member groups); instead the pair join
    runs over DISTINCT vectors and per-copy rows are reconstructed —
    a non-minimum copy always has an earlier identical same-cell
    member, so its max_dup_cos is exactly round(cos(v,v),6) = 1.0;
    a representative (the group minimum) can only be flagged by
    OTHER groups, whose members all compare at the rep-level cosine
    and include an earlier one iff the other group's MINIMUM id is
    smaller — precisely the rep-level x.vec_id < y.vec_id join.
    Zero-norm vectors are dropped end to end: _adaptive_cell_assign
    leaves them unassigned (the uncollapsed form's NULL cosine never
    clears the threshold), and dup_out inner-joins the assignment on
    __rep, so a zero-norm group emits neither rep nor copy rows."""
    e = _t(spark, sf_dir, "embeddings")
    groups, members = _collapse_exact_vectors(e)
    reps = groups.select(F.col("__rep").alias("vec_id"), "embedding")
    # The assignment subtree (a corpus-wide Arrow BLAS pass) feeds
    # BOTH self-join sides plus the copy fan-out — three executions
    # unless materialized. Above the size gate persist it once (the
    # curated tier stores exactly this table); below, recompute is
    # cheaper than the cache barriers and the plan stays unchanged.
    a = persist_for_rescan(_adaptive_cell_assign(e, vectors=reps), gate=e)
    x, y = a.alias("x"), a.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("vec_id"),
            F.col("y.cell").alias("cell"),
            F.round(dd.cosine(F.col("x.emb"), F.col("y.emb")), 6).alias("c"),
        )
        .where(F.col("c") >= 0.35)
    )
    rep_out = pairs.groupBy("vec_id", "cell").agg(
        F.round(F.max("c"), 6).alias("max_dup_cos")
    )
    dup_out = (
        members.filter(F.col("vec_id") != F.col("__rep"))
        .join(
            a.select(F.col("vec_id").alias("__rep"), "cell"),
            "__rep",
        )
        .select("vec_id", "cell", F.lit(1.0).alias("max_dup_cos"))
    )
    return rep_out.unionByName(dup_out)


@q(
    "bpe_pair_merge",
    """
    WITH words AS (
      SELECT tok, count(*)::BIGINT AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE len(tok) >= 2 GROUP BY 1
    ),
    pairs AS (
      SELECT substr(w.tok, CAST(i AS INT), 2) AS pair, w.f
      FROM words w, UNNEST(range(1, len(w.tok))) AS t(i)
    ),
    agg AS (SELECT pair, sum(f)::BIGINT AS cnt FROM pairs GROUP BY 1)
    SELECT pair, cnt FROM agg
    ORDER BY cnt DESC, pair LIMIT 50
    """,
)
def q_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting — the inner loop of tokenizer
    training: adjacent symbol-pair frequencies over the word-frequency
    table (pair count = Σ word_freq × occurrences-in-word), top 50.
    The corpus collapses to its VOCAB first (one map-side-combinable
    groupBy), so the quadratic-ish pair explode runs over distinct
    words only — at 100 TB the vocab table is millions of rows, not
    trillions, and each BPE iteration is a vocab-sized job. All
    whole-stage-codegen: split/explode/substring, no Python."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "f",
    )
    agg = pairs.groupBy("pair").agg(F.sum("f").cast("long").alias("cnt"))
    return agg.orderBy(F.col("cnt").desc(), "pair").limit(50)


@q(
    "decontaminate_fuzzy",
    f"""
    WITH {_minhash_ctes()},
    ev AS (SELECT doc_id, band_key FROM keyed WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, band_key FROM keyed WHERE doc_id % 10 <> 0)
    SELECT t.doc_id,
           CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_hits,
           min(e.doc_id) AS first_eval_id
    FROM tr t JOIN ev e USING (band_key)
    GROUP BY 1
    """,
)
def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-LSH band match
    between the training corpus and the held-out eval slice
    (doc_id % 10 = 0 stands in for the benchmark set), flagging every
    training doc that shares an LSH band with any eval doc — the
    near-dup analog of decontaminate_ngram's exact n-gram anti-join
    (GPT-3 appendix-C style). Both sides come from ONE signature
    pass; the contamination probe is an equi-join on band_key with
    the eval side orders of magnitude smaller (broadcastable at any
    corpus scale), so cost is one corpus scan + a broadcast semi
    shape, never pairwise."""
    d = _t(spark, sf_dir, "documents")

    def _keyed(side: DataFrame) -> DataFrame:
        return dd.lsh_band_incidence(
            dd.minhash_signature(side, num_hashes=12, shingle_n=3),
            num_hashes=12,
            band_size=2,
        )

    # Filter BEFORE the signature pass: the two scans hash disjoint
    # slices, so total signature work stays one corpus pass (in
    # production the eval side is a separate benchmark table).
    ev = _keyed(d.where(F.col("doc_id") % 10 == 0)).select(
        F.col("doc_id").alias("eval_id"), "band_key"
    )
    tr = _keyed(d.where(F.col("doc_id") % 10 != 0))
    return (
        tr.join(F.broadcast(ev), "band_key")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").cast("long").alias("n_eval_hits"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )


@q(
    "incremental_ingest_dedup",
    f"""
    WITH {_minhash_ctes()},
    newd AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 4),
    oldd AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
    ex AS (
      SELECT n.doc_id, min(o.doc_id) AS match_id
      FROM newd n JOIN oldd o USING (h) GROUP BY 1
    ),
    nb AS (SELECT doc_id, band_key FROM keyed WHERE doc_id % 5 = 4),
    ob AS (SELECT doc_id, band_key FROM keyed WHERE doc_id % 5 <> 4),
    nr AS (
      SELECT n.doc_id, min(o.doc_id) AS match_id
      FROM nb n JOIN ob o USING (band_key)
      WHERE n.doc_id NOT IN (SELECT doc_id FROM ex)
      GROUP BY 1
    )
    SELECT doc_id, 'exact' AS dup_kind, match_id FROM ex
    UNION ALL
    SELECT doc_id, 'near' AS dup_kind, match_id FROM nr
    """,
)
def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch (doc_id % 5 = 4 stands
    in for today's crawl) checked against the EXISTING corpus, exact
    first (content-hash equi-join), then MinHash-LSH band match for
    the survivors — the nightly-append shape of a 100 TB corpus. The
    corpus side's (doc_id, band_key) incidence is exactly the
    persisted signature index a production pipeline maintains, so the
    steady-state cost is hashing the NEW batch only plus two
    equi-joins keyed on hash/band (the new side is the small one and
    broadcasts); nothing ever pairs corpus-against-corpus."""
    d = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 4
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    newd = hashed.where(is_new)
    oldd = hashed.where(~is_new)
    # Pre-aggregate the CORPUS side to its per-key minimum BEFORE the
    # join: min(old_id) over a hash/band group equals the join-then-
    # groupBy min, but the raw join fans out m_new x m_old rows per
    # duplicated content (the r6 1000x sweep's 53x wall — ~160k rows
    # per distinct text at 1000-member groups); pre-aggregation is
    # map-side combinable and caps the join output at one row per
    # (new doc, key).
    oldmin = oldd.groupBy("h").agg(F.min("doc_id").alias("match_id"))
    ex = newd.join(oldmin, "h").select("doc_id", "match_id")

    def _keyed(side: DataFrame) -> DataFrame:
        return dd.lsh_band_incidence(
            dd.minhash_signature(side, num_hashes=12, shingle_n=3),
            num_hashes=12,
            band_size=2,
        )

    nb = _keyed(d.where(is_new))
    obmin = (
        _keyed(d.where(~is_new))
        .groupBy("band_key")
        .agg(F.min("doc_id").alias("old_id"))
    )
    nr = (
        nb.join(obmin, "band_key")
        .join(ex.select("doc_id"), "doc_id", "left_anti")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("match_id"))
    )
    return ex.select("doc_id", F.lit("exact").alias("dup_kind"), "match_id").unionByName(
        nr.select("doc_id", F.lit("near").alias("dup_kind"), "match_id")
    )


@q(
    "late_event_rate",
    """
    WITH wm AS (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS high_wm
      FROM events
    ),
    lateness AS (
      SELECT user_id,
             CASE WHEN high_wm IS NOT NULL
                   AND epoch(high_wm) - epoch(ts) > 300.0 THEN 1 ELSE 0 END AS late
      FROM wm
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late,
           round(sum(late)::DOUBLE / count(*), 6) AS late_rate
    FROM lateness GROUP BY 1
    """,
)
def q_late_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness accounting: an event is LATE when it arrives
    (arrival order = event_id) more than 300 s behind the running
    per-user event-time high watermark — the metric that sizes
    `withWatermark` tolerances before turning on a streaming job. The
    running max is a keyed window (one shuffle on user_id, shared
    with the final groupBy); nothing global, nothing collected. (On
    the synthetic events table arrival order equals event-time order,
    so rates are legitimately 0 — tests/test_pipeline_streaming.py
    drives ops.windows.lateness_flags with out-of-order input.)"""
    from .ops.windows import lateness_flags

    e = _t(spark, sf_dir, "events")
    late = lateness_flags(e, tolerance_s=300.0)
    return late.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("late").cast("long").alias("n_late"),
        F.round(F.sum("late") / F.count(F.lit(1)), 6).alias("late_rate"),
    )


@q(
    "quality_features_vector",
    """
    WITH tok AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS f_chars,
             CAST(len(toks) AS DOUBLE) AS f_tokens,
             round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS f_mean_tok_len,
             round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS f_ttr,
             round(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks), 6) AS f_stopword
      FROM tok
    )
    SELECT doc_id, f_chars, f_tokens, f_mean_tok_len, f_ttr, f_stopword
    FROM feat
    """,
)
def q_quality_features_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier feature assembly: one narrow scan emitting a
    fixed-width feature vector per doc (chars, tokens, mean token
    length, type-token ratio, stopword share) — the feature matrix a
    fastText/logreg quality filter trains on. Contract output is the
    unpacked scalar columns (a fixed-width vector IS five columns —
    and scalar cells are what the external hash-compare can
    canonicalize). Everything folds in whole-stage codegen (split +
    higher-order array functions, zero Python, zero shuffles); at
    100 TB this is a map-only job whose output columnar-compresses
    next to the corpus."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    ).cast("double")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("f_chars"),
        n_tok.alias("f_tokens"),
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("f_mean_tok_len"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_tok, 6).alias(
            "f_ttr"
        ),
        F.round(stop / n_tok, 6).alias("f_stopword"),
    )


@q(
    "stream_late_monitor",
    """
    WITH wm AS (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS high_wm
      FROM events
    ),
    lateness AS (
      SELECT user_id,
             CASE WHEN high_wm IS NOT NULL
                   AND epoch(high_wm) - epoch(ts) > 300.0 THEN 1 ELSE 0 END AS late
      FROM wm
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late,
           round(sum(late)::DOUBLE / count(*), 6) AS late_rate
    FROM lateness GROUP BY 1
    """,
)
def q_stream_late_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of late_event_rate: the event stream drains in
    4 CONTIGUOUS event_id-range micro-batches; per batch, each
    user's lateness is judged against the carried-in per-user
    high-watermark state (joined into the batch window), and the
    per-user (n, n_late, high_wm) state merges additively
    (sum/sum/max) — so streaming ≡ batch exactly, the identity
    contract of stream_vocab_topk/stream_quantile_sketch. State is
    user-cardinality-sized regardless of stream length. The kernel
    lives in streaming.sessions.late_monitor_batch, which a real
    `readStream` + foreachBatch sink drives identically
    (tests/test_pipeline_streaming.py) — the single max(event_id)
    collect here is a 1-scalar probe standing in for the source's
    offsets when draining a static table."""
    import tempfile

    from .streaming.sessions import late_monitor_batch, late_monitor_report

    root = tempfile.mkdtemp(prefix="latemon-")
    state_path = os.path.join(root, "late_state")
    e = _t(spark, sf_dir, "events")
    max_id = e.agg(F.max("event_id")).collect()[0][0]
    step = (max_id + 4) // 4
    final = None
    for i in range(4):
        batch = e.filter(
            (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
        )
        final = late_monitor_batch(batch, state_path, tolerance_s=300.0)
    return late_monitor_report(final)


@q(
    "quality_percentile_by_source",
    """
    WITH sc AS (
      SELECT doc_id, source,
             round(0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
                 + 0.4 * least(len(list_filter(string_split(text, ' '),
                       w -> lower(w) IN ('the','a','and','of','to','in','is','it')))
                       / len(string_split(text, ' ')) * 1.0 * 5.0, 1.0)
                 + 0.2 * (1.0 - least((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / length(text) * 1.0 * 10.0, 1.0)), 6) AS q_score
      FROM documents
    ),
    st AS (
      SELECT source, count(*)::DOUBLE AS n, min(q_score) AS mn, max(q_score) AS mx
      FROM sc GROUP BY 1
    ),
    b AS (
      SELECT sc.doc_id, sc.source, sc.q_score, st.n,
             CASE WHEN (st.mx - st.mn) / 1000.0 > 0
                  THEN least(999, CAST(floor((sc.q_score - st.mn) / ((st.mx - st.mn) / 1000.0)) AS INT))
                  ELSE 0 END AS bin
      FROM sc JOIN st USING (source)
    ),
    c AS (SELECT source, bin, count(*)::DOUBLE AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT source, bin,
             sum(cnt) OVER (PARTITION BY source ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below
      FROM c
    )
    SELECT b.doc_id, b.source, b.q_score,
           round(coalesce(cum.below, 0.0) / b.n, 6) + 0.0 AS pct_in_source
    FROM b JOIN cum USING (source, bin)
    """,
)
def q_quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality calibration: each doc's quality score
    mapped to its PERCENTILE within its source, so a threshold like
    "keep the top 40%" means the same thing for a clean source and a
    noisy one. The rank comes from the two-pass histogram (per-source
    min/max + 1000-bin counts + a cumulative window over the BIN
    table), never percent_rank over raw docs — a per-source window
    would one-task each source at 100 TB, while every piece here is
    either map-side-combinable or source×bin-sized (broadcastable).
    The scored projection feeds FOUR plan branches (the stats
    aggregate, the bin-count branch, and the output rows twice) and
    Spark shares no subtrees across them, so above the
    size-adaptive threshold (session.persist_for_rescan) the narrow
    (doc_id, source, q_score) table persists once instead of
    scanning + re-scoring the corpus four times — at bench scale the
    estimate stays under the gate and the plan is unchanged (r12)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sc = persist_for_rescan(
        tx.quality_features(d).select("doc_id", "source", "q_score"), gate=d
    )
    st = sc.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.min("q_score").alias("mn"),
        F.max("q_score").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / 1000.0
    b = sc.join(F.broadcast(st), "source").select(
        "doc_id",
        "source",
        "q_score",
        "n",
        F.when(
            # width > 0, not mx > mn: a subnormal range underflows
            # (mx-mn)/1000 to 0.0 and the ANSI division throws
            # (the r12 binned_quantiles class)
            width > 0,
            F.least(
                F.lit(999),
                F.floor((F.col("q_score") - F.col("mn")) / width).cast("int"),
            ),
        )
        .otherwise(0)
        .alias("bin"),
    )
    c = b.groupBy("source", "bin").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = c.select("source", "bin", F.sum("cnt").over(wcum).alias("below"))
    return b.join(F.broadcast(cum), ["source", "bin"]).select(
        "doc_id",
        "source",
        "q_score",
        (F.round(F.coalesce(F.col("below"), F.lit(0.0)) / F.col("n"), 6) + 0.0).alias(
            "pct_in_source"
        ),
    )


def _mh_est_ctes(num_hashes: int = 12, band_size: int = 2) -> str:
    """CTE chain ending at est(doc_a, doc_b, est_jaccard) — the
    signature-agreement estimate over LSH candidate pairs, shared by
    the calibration report and the threshold-sweep policy query."""
    agree = " + ".join(
        f"CAST(sa.mh{j} = sb.mh{j} AS INT)" for j in range(num_hashes)
    )
    return f"""{_minhash_ctes(num_hashes, band_size)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             round(({agree}) / {num_hashes}.0, 6) AS est_jaccard
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    )"""


@q(
    "dedup_threshold_sweep",
    f"""
    WITH {_mh_est_ctes()},
    t(x) AS (SELECT * FROM (VALUES (0.5), (0.7), (0.9))),
    tot AS (SELECT count(*)::DOUBLE AS n FROM documents)
    SELECT t.x AS threshold,
           CAST(count(e.doc_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT e.doc_b) AS BIGINT) AS n_docs_removed,
           round(count(DISTINCT e.doc_b) / tot.n, 6) + 0.0 AS pct_removed
    FROM t LEFT JOIN est e ON e.est_jaccard >= t.x, tot
    GROUP BY t.x, tot.n
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup policy calibration: for candidate thresholds 0.5/0.7/0.9,
    how many LSH candidate pairs clear the MinHash-estimated Jaccard
    bar and how much of the corpus a keep-lowest-id policy would
    delete — the number a data lead looks at BEFORE choosing the
    production threshold. One signature pass (checkpointed, reused by
    banding and both estimate sides); the threshold probe is a 3-row
    broadcast against the candidate-pair table (never the corpus), so
    sweep cost is O(candidate pairs), not O(docs x thresholds)."""
    d = _t(spark, sf_dir, "documents")
    num_hashes = 12
    sig = dd.minhash_signature(d, num_hashes=num_hashes, shingle_n=3).localCheckpoint(
        eager=True
    )
    keyed = dd.lsh_band_incidence(sig, num_hashes=num_hashes, band_size=2)
    pairs = dd._bucket_pairs(keyed, "doc_id", "band_key")
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int") for j in range(num_hashes)
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(agree / F.lit(num_hashes), 6).alias("est_jaccard"))
    )
    thresholds = spark.createDataFrame([(0.5,), (0.7,), (0.9,)], "threshold double")
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    swept = F.broadcast(thresholds).join(
        est, est.est_jaccard >= F.col("threshold"), "left"
    )
    return (
        swept.groupBy("threshold")
        .agg(
            F.count("doc_a").cast("long").alias("n_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_removed"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_pairs",
            "n_docs_removed",
            (F.round(F.col("n_docs_removed") / F.col("n"), 6) + 0.0).alias("pct_removed"),
        )
    )


@q(
    "dow_seasonality",
    """
    WITH per AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
             count(*)::BIGINT AS n, avg(value) AS avg_val
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, sum(n * avg_val) / sum(n) AS overall
      FROM per GROUP BY 1
    )
    SELECT p.event_type, p.dow, p.n,
           round(p.avg_val, 6) AS avg_val,
           round(p.avg_val / b.overall, 6) AS dow_index
    FROM per p JOIN base b USING (event_type)
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: volume, mean
    value, and the seasonal index (day mean / overall mean) that a
    gap-fill or anomaly job divides out before thresholding. ONE fact
    scan: facts collapse to type x 7 rows in a map-side-combinable
    aggregate, and the overall mean is a type-keyed window over that
    aggregate (7 rows per key) — never a second fact pass."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )  # a seasonality index needs both its dimensions
    per = e.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("value").alias("avg_val"),
    )
    wt = Window.partitionBy("event_type")
    overall = F.sum(F.col("n") * F.col("avg_val")).over(wt) / F.sum("n").over(wt)
    return per.select(
        "event_type",
        "dow",
        "n",
        F.round("avg_val", 6).alias("avg_val"),
        F.round(F.col("avg_val") / overall, 6).alias("dow_index"),
    )


@q(
    "lang_id_ngram_model",
    """
    WITH tri AS (
      SELECT doc_id, lang,
             substr(text, CAST(i AS INT), 3) AS tg
      FROM documents, UNNEST(range(1, length(text) - 1)) AS t(i)
    ),
    prof AS (
      SELECT lang, tg, count(*)::DOUBLE AS c
      FROM tri WHERE doc_id % 3 <> 0 GROUP BY 1, 2
    ),
    ltot AS (SELECT lang, sum(c) AS tot FROM prof GROUP BY 1),
    v AS (SELECT count(DISTINCT tg)::DOUBLE AS nv FROM prof),
    langs AS (SELECT DISTINCT lang FROM documents),
    test AS (SELECT doc_id, lang AS true_lang, tg FROM tri WHERE doc_id % 3 = 0),
    scored AS (
      SELECT t.doc_id, t.true_lang, l.lang AS cand,
             sum(ln((coalesce(p.c, 0.0) + 0.5) / (lt.tot + 0.5 * v.nv))) AS score
      FROM test t
      CROSS JOIN langs l
      LEFT JOIN prof p ON p.lang = l.lang AND p.tg = t.tg
      JOIN ltot lt ON lt.lang = l.lang
      CROSS JOIN v
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 6) DESC, cand DESC) AS rn
      FROM scored
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def q_lang_id_ngram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID, trained and evaluated in one
    job: per-language trigram profiles fit on the doc_id%3!=0 slice
    (add-0.5 smoothing over the joint trigram vocabulary), held-out
    docs scored by summed log-likelihood per candidate language,
    argmax prediction, output as the (true, pred) confusion matrix —
    the classic n-gram langid (textcat/fastText ancestry) as pure
    DataFrame algebra. The profile is MODEL-sized (langs x trigram
    vocab) and broadcasts; scoring is one explode + broadcast join +
    two map-side-combinable aggregates. The per-doc argmax window
    runs over |langs| rows per doc, bounded by construction."""
    d = _t(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id",
        "lang",
        F.explode(
            # filter-guarded: Spark sequence(1, 0) auto-steps NEGATIVE
            # (yields [1, 0]) — on texts shorter than 3 chars that
            # emitted bogus trigrams DuckDB's empty range(1, len-1)
            # never produces (dirty-parity r11, degenerate mode)
            F.expr(
                "transform(filter(sequence(1, greatest(length(text) - 2, 1)),"
                " i -> i <= length(text) - 2), i -> substring(text, i, 3))"
            )
        ).alias("tg"),
    )
    train = tri.where(F.col("doc_id") % 3 != 0)
    prof = train.groupBy("lang", "tg").agg(F.count(F.lit(1)).cast("double").alias("c"))
    wl = Window.partitionBy("lang")
    # profile with per-lang totals attached (window over the model-sized table)
    profw = prof.select("lang", "tg", "c", F.sum("c").over(wl).alias("tot"))
    nv = prof.agg(F.countDistinct("tg").cast("double").alias("nv"))
    langs = d.select(F.col("lang").alias("cand")).distinct()
    ltot = profw.select("lang", "tot").distinct().withColumnRenamed("lang", "cand")
    test = tri.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "tg"
    )
    scored = (
        test.join(F.broadcast(langs))
        .join(
            F.broadcast(profw.select(F.col("lang").alias("cand"), "tg", "c")),
            ["cand", "tg"],
            "left",
        )
        .join(F.broadcast(ltot), "cand")
        .crossJoin(F.broadcast(nv))
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0.0)) + 0.5)
                    / (F.col("tot") + 0.5 * F.col("nv"))
                )
            ).alias("score")
        )
    )
    best = scored.groupBy("doc_id", "true_lang").agg(
        # snap-before-argmax: summed log-likelihoods are order-dependent
        # doubles; near-ties (degenerate corpora full of identical short
        # texts) must not let a last-ulp difference flip the winner
        # across engines
        F.max_by("cand", F.struct(F.round(F.col("score"), 6), F.col("cand"))).alias("pred_lang")
    )
    return best.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@q(
    "knn_graph",
    f"""
    WITH {_CELL_ASSIGN_CTES},
    p AS (
      SELECT x.vec_id AS src_id, y.vec_id AS nbr_id,
             round(list_cosine_similarity(x.emb, y.emb), 6) AS cos
      FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id <> y.vec_id
    ),
    r AS (
      SELECT src_id, nbr_id, cos,
             CAST(row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rank
      FROM p
    )
    SELECT src_id, nbr_id, cos, rank FROM r WHERE rank <= 3
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked kNN-graph construction (k=3 neighbors): per-vector top
    neighbors by cosine within its ADAPTIVE-k cell (same blocking
    stage as semdedup_prune — cells stay ~16 vectors as the corpus
    grows, so the candidate join is linear in N, not per-block
    quadratic; the first cut of this used the fixed label column and
    measured 6.8x wall at 10x data). The building block for graph ANN
    indexes and graph-based SemDeDup. Ranking orders the ROUNDED
    cosine with nbr_id tie-break — deterministic on any layout and
    engine.

    Exact-duplicate vectors are pre-collapsed: copies co-locate by
    construction, so the raw within-cell join carries C(m,2) rows per
    m-copy group (the r6 1000x sweep's failure mode). The pair join
    runs over DISTINCT vectors (including each group's self-pair at
    cos 1.0, which stands for the copy-to-copy edges) and the
    per-copy top-3 is reconstructed EXACTLY from a bounded candidate
    set: (i) within a candidate group every member shares the same
    rounded cosine and ties break on the smaller nbr_id, so only a
    group's 4 smallest ids can ever reach a top-3 (4, not 3, because
    self-exclusion can consume one); (ii) a group whose rounded
    cosine is below the top-4 DISTINCT values for the source group
    cannot contribute — at most one better group (the source's own,
    when it is a singleton) contributes nothing, leaving >= 3 better
    candidates. Exploding that bounded set per source vector and
    re-ranking with the original (cos desc, nbr_id) window reproduces
    the uncollapsed output row for row; the final window partitions
    on src_id over <= ~16 candidate rows."""
    e = _t(spark, sf_dir, "embeddings")
    groups, members = _collapse_exact_vectors(e)
    # Same gated materialization as semdedup_prune: the Arrow
    # assignment feeds both self-join sides, and the membership map
    # feeds the candidate AND source fan-outs (two corpus scans each
    # otherwise). Below the gate both plans are byte-unchanged.
    members = persist_for_rescan(members, gate=e)
    reps = groups.select(F.col("__rep").alias("vec_id"), "embedding")
    a = persist_for_rescan(_adaptive_cell_assign(e, vectors=reps), gate=e)
    x, y = a.alias("x"), a.alias("y")
    gp = x.join(y, F.col("x.cell") == F.col("y.cell")).select(
        F.col("x.vec_id").alias("src_rep"),
        F.col("y.vec_id").alias("nbr_rep"),
        F.round(dd.cosine(F.col("x.emb"), F.col("y.emb")), 6).alias("cos"),
    )
    wg = Window.partitionBy("src_rep").orderBy(F.col("cos").desc())
    gp_top = gp.withColumn("__dr", F.dense_rank().over(wg)).where(F.col("__dr") <= 4)
    mem4 = members.groupBy("__rep").agg(
        F.slice(F.array_sort(F.collect_list("vec_id")), 1, 4).alias("__ids")
    )
    cand = gp_top.join(
        mem4.withColumnRenamed("__rep", "nbr_rep"), "nbr_rep"
    ).select("src_rep", "cos", F.explode("__ids").alias("nbr_id"))
    src_mem = members.select(
        F.col("__rep").alias("src_rep"), F.col("vec_id").alias("src_id")
    )
    p = cand.join(src_mem, "src_rep").where(F.col("nbr_id") != F.col("src_id"))
    w = Window.partitionBy("src_id").orderBy(F.col("cos").desc(), "nbr_id")
    return (
        p.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("src_id", "nbr_id", "cos", "rank")
    )


@q(
    "lsh_index_stats",
    f"""
    WITH {_minhash_ctes()},
    buckets AS (
      SELECT band_key, count(*)::BIGINT AS sz FROM keyed GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_entries,
           round(avg(sz), 6) AS avg_bucket,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
           CAST(sum(CASE WHEN sz > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_mega,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS n_candidate_pairs
    FROM buckets
    """,
)
def q_lsh_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index capacity report: bucket-count/size distribution, the
    number of colliding and MEGA (>100 member) buckets, and the total
    candidate-pair volume Σ sz·(sz−1)/2 the band join would emit —
    the number that decides whether the configured (bands, rows)
    survive the corpus BEFORE running the join (mega-buckets are what
    the max_bucket guard drops). One signature pass + two map-side
    combinable aggregates; output is one row."""
    d = _t(spark, sf_dir, "documents")
    keyed = dd.lsh_band_incidence(
        dd.minhash_signature(d, num_hashes=12, shingle_n=3),
        num_hashes=12,
        band_size=2,
    )
    buckets = keyed.groupBy("band_key").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_entries"),
        F.round(F.avg("sz"), 6).alias("avg_bucket"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).cast("long").alias("n_colliding"),
        F.sum(F.when(F.col("sz") > 100, 1).otherwise(0)).cast("long").alias("n_mega"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("long").alias("n_candidate_pairs"),
    )


@q(
    "cluster_top_terms",
    """
    WITH tok AS (
      SELECT e.label, unnest(string_split(d.text, ' ')) AS term
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    tf AS (SELECT label, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
    df AS (
      SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents)
      GROUP BY 1
    ),
    n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
    scored AS (
      SELECT tf.label, tf.term,
             round(tf.tf * ln(n.nd / df.df), 6) AS score
      FROM tf JOIN df USING (term), n
    ),
    r AS (
      SELECT label, term, score,
             CAST(row_number() OVER (PARTITION BY label ORDER BY score DESC, term) AS BIGINT) AS rank
      FROM scored
    )
    SELECT label, term, score, rank FROM r WHERE rank <= 3
    """,
)
def q_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster topic labeling (corpus-cartography style): for each
    embedding cluster, the 3 most DISTINCTIVE member terms by
    cluster-tf x corpus-idf — the human-readable name a map of a
    100 TB corpus shows per region. Fact work collapses to
    (cluster x term) and (term) aggregates, both map-side combinable;
    the idf side is vocab-sized and broadcasts; the ranking window
    partitions per cluster over its term aggregate, never raw docs."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    tok = d.join(e, "doc_id").select(
        "label", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("label", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    df = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
        )
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("double").alias("df"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "label",
            "term",
            F.round(F.col("tf") * F.log(F.col("nd") / F.col("df")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("label", "term", "score", "rank")
    )


@q(
    "stream_session_windows",
    """
    WITH d AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of session_windows: the event stream drains in 4
    contiguous EVENT-TIME ranges; each batch sessionizes locally
    (F.session_window), then reconciles with the carried per-user OPEN
    session — the batch's first session absorbs it when the gap is
    within 30 min, otherwise the open session closes and is emitted.
    The last session per user becomes the new open state. Closed rows
    union across batches (localCheckpoint bounds lineage); streaming ≡
    batch exactly — the identity the oracle checks. The kernel lives
    in streaming.sessions.session_batch_update, which a real
    `readStream` + foreachBatch sink drives identically
    (tests/test_pipeline_streaming.py) — the min/max(ts) scalars here
    exist only to split the static table into batches and stand in
    for source offsets."""
    from .ops.windows import epoch_seconds
    from .streaming.sessions import session_batch_update, session_finalize

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )  # sessionization contract — see q_session_windows
    lo, hi = e.agg(
        F.min(epoch_seconds(F.col("ts"))), F.max(epoch_seconds(F.col("ts")))
    ).collect()[0]
    if lo is None:
        # every row lacked a key or a timestamp: the batch twin's pure
        # DataFrame plan yields an empty result; (None - None) here
        # would raise instead (r11 review)
        return spark.createDataFrame(
            [], "user_id long, session_start long, n long, total_value double"
        )
    step = (hi - lo) / 4 + 1e-6
    state = None  # (user_id, o_start, o_last, o_n, o_val)
    closed = None
    for i in range(4):
        b = e.where(
            (epoch_seconds(F.col("ts")) >= lo + i * step)
            & (epoch_seconds(F.col("ts")) < lo + (i + 1) * step)
        )
        batch_closed, state = session_batch_update(b, state, gap=1800.0)
        closed = (
            batch_closed
            if closed is None
            else closed.unionByName(batch_closed).localCheckpoint(eager=True)
        )
    return session_finalize(closed, state)


@q(
    "embedding_pq_codes",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))),
    cb0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cent, emb
      FROM v ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
    cb AS (
      SELECT s.sub, c.cent, c.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS cvec
      FROM cb0 c CROSS JOIN subs s
    ),
    vs AS (
      SELECT v.vec_id, s.sub, v.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS svec
      FROM v CROSS JOIN subs s
    ),
    scored AS (
      SELECT vs.vec_id, vs.sub, cb.cent,
             sqrt(list_sum(list_transform(list_zip(vs.svec, cb.cvec), p -> (p[1] - p[2])^2))) AS dist
      FROM vs JOIN cb USING (sub)
    ),
    best AS (
      SELECT vec_id, sub, cent, dist,
             row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cent) AS rn
      FROM scored
    )
    SELECT vec_id,
           array_to_string(list(cent ORDER BY sub), ',') AS codes_csv,
           round(sum(dist), 6) + 0.0 AS recon_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): the 64-dim
    embedding splits into 8 subspaces of 8 dims; each subvector maps
    to its nearest of 16 per-subspace codebook centroids (deterministic
    seeds — the first 16 vectors' subvectors, IVF-style), yielding an
    8-byte code per vector plus the summed reconstruction distance.
    PQ is what makes billion-vector ANN fit in RAM (64 doubles → 8
    bytes, 64x); the codebook is MODEL-sized (8x16 subvectors) and
    broadcasts, encode is one scan exploded 8x, and the per-(vector,
    subspace) argmin is a max_by aggregate, never a window over the
    scored rows. NULL embeddings AND embeddings with NULL elements are
    excluded in both engines (ANN-family NULL contract; interior-NULL
    extension r12 — an interior NULL would poison Spark's distance
    folds while DuckDB's list_sum skips it, training different
    codebooks per engine)."""
    e = _t(spark, sf_dir, "embeddings").filter(
        sim._finite_elements("embedding")
    )
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    w = Window.orderBy("vec_id")
    cb0 = (
        v.orderBy("vec_id")
        .limit(16)
        .select((F.row_number().over(w) - 1).alias("cent"), "emb")
    )
    subs = spark.range(8).select(F.col("id").cast("int").alias("sub"))
    cb = cb0.crossJoin(F.broadcast(subs)).select(
        "sub", "cent", F.expr("slice(emb, sub * 8 + 1, 8)").alias("cvec")
    )
    vs = v.crossJoin(F.broadcast(subs)).select(
        "vec_id", "sub", F.expr("slice(emb, sub * 8 + 1, 8)").alias("svec")
    )
    sq = F.aggregate(
        F.zip_with("svec", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vs.join(F.broadcast(cb), "sub").select(
        "vec_id", "sub", "cent", F.sqrt(sq).alias("dist")
    )
    best = scored.groupBy("vec_id", "sub").agg(
        F.max_by(
            F.struct("cent", "dist"),
            F.struct((-F.col("dist")).alias("__nd"), (-F.col("cent")).alias("__nc")),
        ).alias("__b")
    )
    return best.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sub", F.col("__b.cent").alias("cent")))
                ),
                lambda s: s["cent"].cast("string"),
            ),
        ).alias("codes_csv"),
        (F.round(F.sum("__b.dist"), 6) + 0.0).alias("recon_err"),
    )


@q(
    "pq_ann_topk",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))),
    cb0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cent, emb
      FROM v ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
    cb AS (
      SELECT s.sub, c.cent, c.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS cvec
      FROM cb0 c CROSS JOIN subs s
    ),
    vs AS (
      SELECT v.vec_id, s.sub, v.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS svec
      FROM v CROSS JOIN subs s
    ),
    codes AS (
      SELECT vec_id, sub, cent FROM (
        SELECT vs.vec_id, vs.sub, cb.cent,
               row_number() OVER (PARTITION BY vs.vec_id, vs.sub
                                  ORDER BY list_sum(list_transform(list_zip(vs.svec, cb.cvec), p -> (p[1] - p[2])^2)), cb.cent) AS rn
        FROM vs JOIN cb USING (sub)
      ) WHERE rn = 1
    ),
    dtab AS (
      SELECT q.vec_id AS query_id, q.sub, cb.cent,
             list_sum(list_transform(list_zip(q.svec, cb.cvec), p -> (p[1] - p[2])^2)) AS d2
      FROM vs q JOIN cb USING (sub) WHERE q.vec_id < 8
    ),
    approx AS (
      SELECT d.query_id, c.vec_id AS neighbor_id,
             round(sqrt(sum(d.d2)), 6) AS adc_dist
      FROM codes c JOIN dtab d ON d.sub = c.sub AND d.cent = c.cent
      WHERE c.vec_id <> d.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
    FROM approx QUALIFY rank <= 5
    """,
)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over PQ codes via asymmetric distance computation
    (ADC, Jégou et al. 2011): each query precomputes its 8x16
    subspace-distance table (model-sized, broadcast); a database
    vector's approximate distance is then 8 table lookups summed —
    no float vector is ever touched at search time, which is the
    whole point at billion-vector scale. The lookup join is equi-keyed
    on (subspace, centroid); per-query ranking windows run over the
    candidate aggregate. Query set = vec_id < 8, as in
    ann_topk_cosine. NULL embeddings and embeddings with NULL elements
    are excluded in both engines (ANN-family NULL contract, r12
    interior-NULL extension: they can neither seed the codebook nor
    encode nor query)."""
    e = _t(spark, sf_dir, "embeddings").filter(
        sim._finite_elements("embedding")
    )
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    w = Window.orderBy("vec_id")
    cb0 = (
        v.orderBy("vec_id")
        .limit(16)
        .select((F.row_number().over(w) - 1).alias("cent"), "emb")
    )
    subs = spark.range(8).select(F.col("id").cast("int").alias("sub"))
    cb = cb0.crossJoin(F.broadcast(subs)).select(
        "sub", "cent", F.expr("slice(emb, sub * 8 + 1, 8)").alias("cvec")
    )
    vs = v.crossJoin(F.broadcast(subs)).select(
        "vec_id", "sub", F.expr("slice(emb, sub * 8 + 1, 8)").alias("svec")
    )
    sq = F.aggregate(
        F.zip_with("svec", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vs.join(F.broadcast(cb), "sub").select(
        "vec_id", "sub", "cent", F.sqrt(sq).alias("dist"), sq.alias("d2")
    )
    stored = lay.curated_pq_or_none(spark, sf_dir)
    if stored is not None:
        # The curated IVF+PQ code table's codes are definitionally
        # these codes (argmin over sqrt(d2) == argmin over d2, same
        # lower-cent tie-break): serve from storage, skip the
        # corpus x codebook encode pass. ccell is simply unused here —
        # plain PQ ADC scans every code but never a float vector.
        codes = stored.select("vec_id", "sub", "cent")
    else:
        codes = scored.groupBy("vec_id", "sub").agg(
            F.max_by(
                "cent",
                F.struct(
                    (-F.col("dist")).alias("__nd"), (-F.col("cent")).alias("__nc")
                ),
            ).alias("cent")
        )
    dtab = scored.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "sub", "cent", "d2"
    )
    approx = (
        codes.join(F.broadcast(dtab), ["sub", "cent"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc_dist"))
    )
    wq = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(wq).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


@q(
    "ivf_pq_topk",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND isfinite(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))),
    coarse AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ccell, emb AS ccent
      FROM v ORDER BY vec_id LIMIT 8
    ),
    vassign AS (
      SELECT vec_id, ccell FROM (
        SELECT e.vec_id, c.ccell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.emb, c.ccent) DESC, c.ccell) AS rn
        FROM v e CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    cb0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cent, emb
      FROM v ORDER BY vec_id LIMIT 16
    ),
    subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
    cb AS (
      SELECT s.sub, c.cent, c.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS cvec
      FROM cb0 c CROSS JOIN subs s
    ),
    vs AS (
      SELECT e.vec_id, s.sub, e.emb[s.sub * 8 + 1 : s.sub * 8 + 8] AS svec
      FROM v e CROSS JOIN subs s
    ),
    codes AS (
      SELECT vec_id, sub, cent FROM (
        SELECT vs.vec_id, vs.sub, cb.cent,
               row_number() OVER (PARTITION BY vs.vec_id, vs.sub
                 ORDER BY list_sum(list_transform(list_zip(vs.svec, cb.cvec), p -> (p[1] - p[2])^2)), cb.cent) AS rn
        FROM vs JOIN cb USING (sub)
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, ccell FROM (
        SELECT q.vec_id AS query_id, c.ccell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.emb, c.ccent) DESC, c.ccell) AS rn
        FROM v q CROSS JOIN coarse c WHERE q.vec_id < 8
      ) WHERE rn <= 2
    ),
    dtab AS (
      SELECT q.vec_id AS query_id, q.sub, cb.cent,
             list_sum(list_transform(list_zip(q.svec, cb.cvec), p -> (p[1] - p[2])^2)) AS d2
      FROM vs q JOIN cb USING (sub) WHERE q.vec_id < 8
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN vassign a USING (ccell)
      WHERE a.vec_id <> p.query_id
    ),
    approx AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             round(sqrt(sum(d.d2)), 6) AS adc_dist
      FROM cand c
      JOIN codes k ON k.vec_id = c.vec_id
      JOIN dtab d ON d.query_id = c.query_id AND d.sub = k.sub AND d.cent = k.cent
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
    FROM approx QUALIFY rank <= 5
    """,
)
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production billion-vector layout, IVF + PQ combined
    (FAISS IVFxx,PQ8): vectors partition into 8 coarse inverted lists
    and store only 8-byte PQ codes; a query probes its top-2 coarse
    cells and ADC-scores just those lists — compute touches
    n_probe/n_cells of the codes and zero full-precision vectors. All
    models (coarse centroids, PQ codebook, per-query distance tables)
    broadcast; candidate selection and code lookup are equi-joins on
    (ccell) and (subspace, centroid). The recall/cost dial is
    (n_probe, n_cells) — ann_recall_report shows how to calibrate it
    against the exact path. Index construction lives in
    similarity.pq_ivf_build, shared with io.layout.write_curated_pq:
    when the session carries the curated code table (bucketed on
    ccell), serving skips both full-corpus passes (coarse assignment
    + PQ encoding) and bucket-prunes the code scan to the probed
    inverted lists — same rows either way (the construction is
    deterministic)."""
    e = _t(spark, sf_dir, "embeddings")
    _, _, cscore, _, scored, vassign, codes = sim.pq_ivf_build(e)
    wq = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), "ccell")
    probes = (
        cscore.where(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), "ccell", "__cos")
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= 2)
        .select("query_id", "ccell")
    )
    dtab = scored.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "sub", "cent", "d2"
    )
    coded = lay.curated_pq_or_none(spark, sf_dir)
    if coded is not None:
        probe_cells = [
            int(r["ccell"]) for r in probes.select("ccell").distinct().collect()
        ]
        coded = coded.filter(F.col("ccell").isin(probe_cells))
        approx = (
            F.broadcast(probes)
            .join(coded, "ccell")
            .where(F.col("vec_id") != F.col("query_id"))
            .join(F.broadcast(dtab), ["query_id", "sub", "cent"])
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc_dist"))
        )
    else:
        cand = (
            F.broadcast(probes)
            .join(vassign, "ccell")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
        )
        approx = (
            cand.join(codes, "vec_id")
            .join(F.broadcast(dtab), ["query_id", "sub", "cent"])
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("adc_dist"))
        )
    wr = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


@q(
    "assoc_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey)::DOUBLE AS n_orders FROM b),
    ic AS (SELECT l_partkey, count(*)::DOUBLE AS cnt FROM b GROUP BY 1),
    pc AS (
      SELECT a.l_partkey AS item_a, b2.l_partkey AS item_b, count(*)::DOUBLE AS cnt
      FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    rules AS (
      SELECT p.item_a, p.item_b, CAST(p.cnt AS BIGINT) AS n_pairs,
             round(p.cnt / n.n_orders, 6) AS support,
             round(p.cnt / ia.cnt, 6) AS confidence,
             round(p.cnt * n.n_orders / (ia.cnt * ib.cnt), 6) AS lift
      FROM pc p
      JOIN ic ia ON ia.l_partkey = p.item_a
      JOIN ic ib ON ib.l_partkey = p.item_b
      CROSS JOIN n
    )
    SELECT * FROM rules ORDER BY lift DESC, item_a, item_b LIMIT 20
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: pair
    support / confidence / lift, top 20 by lift — the
    recommendation-seeding classic. Pair counts come from
    ops.aggregates.cooccurrence_counts (pairs generated INSIDE each
    order's bounded item array — TPC-H orders hold <=7 items — never
    a line-item self-join); the item-count side is dimension-sized
    and broadcasts, the 1-row order count broadcast-crosses O(1)."""
    from .ops import aggregates as agg

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").cast("double").alias("n_orders"))
    ic = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    pc = (
        agg.cooccurrence_counts(li, "l_orderkey", "l_partkey", max_group=50)
        .withColumnRenamed("n_groups", "__c")
        .where(F.col("__c") >= 2)
    )
    rules = (
        pc.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("item_a"), F.col("cnt").alias("__ca"))),
            "item_a",
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("item_b"), F.col("cnt").alias("__cb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            F.col("__c").cast("long").alias("n_pairs"),
            F.round(F.col("__c") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("__c") / F.col("__ca"), 6).alias("confidence"),
            F.round(F.col("__c") * F.col("n_orders") / (F.col("__ca") * F.col("__cb")), 6).alias("lift"),
        )
    )
    return rules.orderBy(F.col("lift").desc(), "item_a", "item_b").limit(20)


def _rfm_metric_sql(metric: str, score: str) -> str:
    """CTE fragment scoring one RFM metric into quintiles via the
    1000-bin histogram rank (shared shape with
    quality_percentile_by_source).

    The bin is clamped on BOTH ends (greatest(0, least(999, ...))):
    `mon` is a sum of doubles, so if the engine evaluates `per` more
    than once (DuckDB inlines non-materialized CTEs) the minimum
    user's metric from one evaluation can sit an ulp BELOW the `mn`
    of another, floor() to -1, and silently fall out of the
    JOIN USING (bin) — found by scripts/parity_partitioning.py on a
    multi-file layout where parallel sum order varies per scan. The
    rfm_segments oracle additionally materializes `per` so one
    snapshot feeds every reference (the SQL mirror of the op's
    localCheckpoint)."""
    m = metric
    return f"""
    st_{m} AS (SELECT min({m}) AS mn, max({m}) AS mx FROM per),
    b_{m} AS (
      SELECT user_id,
             CASE WHEN (st.mx - st.mn) / 1000.0 > 0
                  THEN greatest(0, least(999, CAST(floor(({m} - st.mn) / ((st.mx - st.mn) / 1000.0)) AS INT)))
                  ELSE 0 END AS bin
      FROM per, st_{m} st
    ),
    c_{m} AS (SELECT bin, count(*)::DOUBLE AS c FROM b_{m} GROUP BY 1),
    cum_{m} AS (
      SELECT bin, sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below
      FROM c_{m}
    ),
    s_{m} AS (
      SELECT b.user_id,
             CAST(least(4, CAST(floor(coalesce(cum.below, 0.0) / n.n * 5) AS INT)) + 1 AS INT) AS {score}
      FROM b_{m} b JOIN cum_{m} cum USING (bin), n
    )"""


@q(
    "rfm_segments",
    f"""
    WITH per AS MATERIALIZED (
      SELECT user_id, max(epoch(ts)) AS last_s,
             count(*)::DOUBLE AS freq, sum(value)::DOUBLE AS mon
      FROM events GROUP BY 1
    ),
    n AS (SELECT count(*)::DOUBLE AS n FROM per),
    {_rfm_metric_sql("last_s", "r_score")},
    {_rfm_metric_sql("freq", "f_score")},
    {_rfm_metric_sql("mon", "m_score")}
    SELECT per.user_id, CAST(per.freq AS BIGINT) AS frequency,
           round(per.mon, 4) AS monetary,
           r.r_score, f.f_score, m.m_score,
           CAST(r.r_score * 100 + f.f_score * 10 + m.m_score AS INT) AS rfm
    FROM per
    JOIN s_last_s r USING (user_id)
    JOIN s_freq f USING (user_id)
    JOIN s_mon m USING (user_id)
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation: each user's recency (event-time of last
    event), frequency and monetary total scored into quintiles, fused
    into the classic 3-digit RFM code. The per-user profile is
    checkpointed ONCE (the materialized users table every warehouse
    keeps), and each quintile comes from the 1000-bin histogram rank —
    never percent_rank over the user table, whose global sort would
    single-reduce billions of users; every histogram intermediate is
    bin-sized and broadcasts."""
    from .ops.windows import epoch_seconds

    e = _t(spark, sf_dir, "events")
    per = (
        e.groupBy("user_id")
        .agg(
            F.max(epoch_seconds(F.col("ts"))).alias("last_s"),
            F.count(F.lit(1)).cast("double").alias("freq"),
            F.sum("value").cast("double").alias("mon"),
        )
        .localCheckpoint(eager=True)
    )
    n = per.agg(F.count(F.lit(1)).cast("double").alias("n"))

    def score(df: DataFrame, metric: str, out: str) -> DataFrame:
        st = per.agg(F.min(metric).alias("mn"), F.max(metric).alias("mx"))
        binned = per.select("user_id", metric).crossJoin(F.broadcast(st)).select(
            "user_id",
            F.when(
                # width > 0, not mx > mn (r12 binned_quantiles class)
                ((F.col("mx") - F.col("mn")) / 1000.0) > 0,
                F.least(
                    F.lit(999),
                    F.floor((F.col(metric) - F.col("mn")) / ((F.col("mx") - F.col("mn")) / 1000.0)).cast("int"),
                ),
            )
            .otherwise(0)
            .alias("bin"),
        )
        cnts = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("double").alias("c"))
        wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        cum = cnts.select("bin", F.sum("c").over(wb).alias("below"))
        scored = (
            binned.join(F.broadcast(cum), "bin")
            .crossJoin(F.broadcast(n))
            .select(
                "user_id",
                (
                    F.least(
                        F.lit(4),
                        F.floor(F.coalesce(F.col("below"), F.lit(0.0)) / F.col("n") * 5).cast("int"),
                    )
                    + 1
                )
                .cast("int")
                .alias(out),
            )
        )
        return df.join(scored, "user_id")

    out = per.select(
        "user_id",
        F.col("freq").cast("long").alias("frequency"),
        F.round("mon", 4).alias("monetary"),
    )
    out = score(out, "last_s", "r_score")
    out = score(out, "freq", "f_score")
    out = score(out, "mon", "m_score")
    return out.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm"),
    )


@q(
    "takedown_promote",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    j AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             CASE WHEN d.doc_id % 13 = 0 THEN 1 ELSE 0 END AS deleted
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    old_keep AS (
      SELECT cluster_id, doc_id AS keep_id FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
        FROM j
      ) WHERE rn = 1
    ),
    new_keep AS (
      SELECT cluster_id, doc_id AS keep_id FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
        FROM j WHERE deleted = 0
      ) WHERE rn = 1
    )
    SELECT o.cluster_id, o.keep_id AS old_keep, n.keep_id AS new_keep,
           CAST((SELECT count(*) FROM j WHERE j.cluster_id = o.cluster_id AND j.deleted = 1) AS BIGINT) AS n_deleted
    FROM old_keep o
    LEFT JOIN new_keep n USING (cluster_id)
    WHERE o.keep_id % 13 = 0
    """,
)
def q_takedown_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown compliance with dedup interplay: when a deletion
    request (doc_id % 13 = 0 stands in for the takedown list) hits a
    duplicate cluster's KEPT representative, the best surviving member
    must be promoted — otherwise honoring the request silently drops
    content the corpus meant to keep once. Output: every cluster whose
    representative is deleted, its promoted survivor (NULL = the whole
    cluster dies) and the deletion count. Same transitive closure as
    dedup_keep_best; both selections are max(struct) aggregates over
    the cluster-joined projection, never windows over raw docs."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    j = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        d.select("doc_id", "n_chars"), "doc_id"
    ).select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") % 13 == 0, 1).otherwise(0).alias("deleted"),
    )
    rank = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__negid"))
    agg_all = j.groupBy("cluster_id").agg(
        F.max_by("doc_id", rank).alias("old_keep"),
        F.sum("deleted").cast("long").alias("n_deleted"),
    )
    agg_surv = (
        j.where(F.col("deleted") == 0)
        .groupBy("cluster_id")
        .agg(F.max_by("doc_id", rank).alias("new_keep"))
    )
    return (
        agg_all.where(F.col("old_keep") % 13 == 0)
        .join(agg_surv, "cluster_id", "left")
        .select("cluster_id", "old_keep", "new_keep", "n_deleted")
    )


@q(
    "corpus_datacard",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(1.0 - count(DISTINCT md5(text)) / count(*), 6) AS exact_dup_rate,
           round(avg(0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
               + 0.4 * least(len(list_filter(string_split(text, ' '),
                     w -> lower(w) IN ('the','a','and','of','to','in','is','it')))
                     / len(string_split(text, ' ')) * 1.0 * 5.0, 1.0)
               + 0.2 * (1.0 - least((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                     / length(text) * 1.0 * 10.0, 1.0))), 6) AS mean_quality,
           round(quantile_cont(n_chars, 0.5), 1) AS p50_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (Datasheets for Datasets-style): doc
    and token counts, source/language diversity, the exact-duplicate
    rate, mean quality score, and the length distribution envelope —
    the summary a data release ships next to the shards. ONE scan,
    one map-side-combinable aggregate (the distinct counts and exact
    percentile are the only shuffle-bearing parts; at 100 TB swap
    count(DISTINCT md5) for approx_count_distinct and percentile for
    percentile_approx — same row, sketch-merged)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda w: F.lower(w).isin("the", "a", "and", "of", "to", "in", "is", "it"))
    )
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    q_score = (
        0.4 * F.least(n_tok / F.lit(50.0), F.lit(1.0))
        + 0.4 * F.least(stop / n_tok * 5.0, F.lit(1.0))
        # try_divide: empty text has length 0; NULL ratio matches the
        # DuckDB oracle and least() skips it in both engines
        + 0.2 * (1.0 - F.least(F.try_divide(punct, F.length("text")) * 10.0, F.lit(1.0)))
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tok.cast("long")).cast("long").alias("n_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(1.0 - F.countDistinct(F.md5("text")) / F.count(F.lit(1)), 6).alias("exact_dup_rate"),
        F.round(F.avg(q_score), 6).alias("mean_quality"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 1).alias("p50_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@q(
    "dedup_keep_priority",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    j AS (
      SELECT c.cluster_id, d.doc_id, d.source, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    rk AS (
      SELECT cluster_id, doc_id, source,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY source, n_chars DESC, doc_id) AS rn
      FROM j
    ),
    sz AS (SELECT cluster_id, count(*)::BIGINT AS n_members FROM j GROUP BY 1)
    SELECT r.cluster_id, r.doc_id AS keep_id, r.source AS keep_source, s.n_members
    FROM rk r JOIN sz s USING (cluster_id) WHERE rn = 1
    """,
)
def q_dedup_keep_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-priority survivor selection: per duplicate cluster, keep
    the member from the most TRUSTED source (lexicographic source
    rank stands in for a curated priority list; tie → longest → lowest
    id) — the policy a mixed-provenance corpus wants when the same
    text arrives from both a licensed feed and a crawl. One
    min(struct) aggregate per cluster (source asc, -n_chars, id) —
    the entire 3-level tie-break rides a single map-side-combinable
    min, no windows over raw docs."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    j = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        d.select("doc_id", "source", "n_chars"), "doc_id"
    )
    best = j.groupBy("cluster_id").agg(
        F.min(
            # Leading is-null field: Spark struct MIN treats a NULL
            # field as SMALLEST, so a NULL source would beat every
            # trusted source — the opposite of both the priority
            # semantics and the oracle's NULLS LAST ordering. false <
            # true puts non-NULL sources first (dirty-parity r11).
            F.struct(
                F.col("source").isNull().alias("__src_null"),
                F.col("source"),
                (-F.col("n_chars")).alias("__nl"),
                F.col("doc_id"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        F.col("__b.doc_id").alias("keep_id"),
        F.col("__b.source").alias("keep_source"),
        "n_members",
    )


@q(
    "shard_balance_report",
    """
    WITH h AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
             CAST(CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 16 AS INT) AS shard
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM h GROUP BY 1
    )
    SELECT shard, n_docs, n_tokens,
           round(n_tokens / (sum(n_tokens) OVER ()) * 1.0, 6) AS token_share,
           round(n_tokens / (avg(n_tokens) OVER ()) * 1.0, 6) AS balance_ratio
    FROM per
    """,
)
def q_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard load balance: per shard (the same seeded md5
    assignment shuffle_shards emits), document and token counts plus
    each shard's share and ratio-to-mean — the check that catches a
    skewed shard before it becomes the straggler of every training
    epoch. One scan + a 16-row aggregate; the normalizing windows run
    over the shard table (16 rows), never the corpus."""
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string"))), 1, 14), 16, 10)
        .cast("long") % 16
    ).cast("int")
    per = d.select(
        shard.alias("shard"), F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok")
    ).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    wall = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(wall), 6).alias("token_share"),
        F.round(F.col("n_tokens") / F.avg("n_tokens").over(wall), 6).alias("balance_ratio"),
    )


@q(
    "neardup_review_sample",
    f"""
    WITH {_mh_est_ctes()},
    gated AS (
      SELECT doc_a, doc_b, est_jaccard,
             CAST(least(9, CAST(floor(est_jaccard * 10) AS INT)) AS INT) AS band
      FROM est
      WHERE ('0x' || substr(md5(CAST(doc_a AS VARCHAR) || ':' || CAST(doc_b AS VARCHAR)), 1, 14))::BIGINT % 10 = 0
    ),
    r AS (
      SELECT band, doc_a, doc_b, est_jaccard,
             CAST(row_number() OVER (PARTITION BY band ORDER BY doc_a, doc_b) AS BIGINT) AS rank
      FROM gated
    )
    SELECT band, doc_a, doc_b, est_jaccard, rank FROM r WHERE rank <= 3
    """,
)
def q_neardup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review QA sample of near-dup candidates, stratified by
    estimated-Jaccard band: 3 pairs per decile band, drawn from a
    DETERMINISTIC 10% Bernoulli gate (md5 of the pair id) — the audit
    sheet a data curator signs off before a threshold goes to prod.
    The gate is what keeps the per-band ranking window scale-safe:
    with only 10 band partitions, ranking ALL pairs would hot-spot 10
    reducers, so the window only ever sees the gated sample.

    Everything pair-priced happens at the SIGNATURE level: est_jaccard
    is a pure function of the two signatures, so it is computed on the
    (corpus-shaped) distinct-signature pair set and RIDES the id
    fan-out — no doc-level join ever exists. Two earlier shapes failed
    the 1000x replication: doc-level _bucket_pairs OOM'd in
    Flatten.nullSafeEval (a mega-bucket's full C(m,2) struct array is
    materialized for one row before explode streams it), and joining
    signatures onto the fanned pair set OOM'd the sort-merge join's
    group buffer at ~10^8 gated rows. Same-signature pairs agree on
    every component (est exactly 1.0). The gate filters in the same
    codegen stage as the fan-out, and a salted local top-3 bounds what
    the 10-partition global window sees (the global top-3 by
    (doc_a, doc_b) is within each salt's local top-3 — exact)."""
    d = _t(spark, sf_dir, "documents")
    num_hashes = 12
    mh_cols = [f"mh{j}" for j in range(num_hashes)]
    sig = dd.minhash_signature(d, num_hashes=num_hashes, shingle_n=3)
    sgroups = (
        sig.groupBy(*mh_cols)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("__ids"))
        .withColumn("__sk", F.concat_ws("|", *mh_cols))
        .localCheckpoint(eager=True)
    )
    parts = F.split(F.col("__sk"), "\\|")
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                F.element_at(parts, 2 * b + 1),
                F.element_at(parts, 2 * b + 2),
            )
            for b in range(num_hashes // 2)
        ]
    )
    keyed = sgroups.select(F.col("__sk"), F.explode(bands).alias("band_key"))
    spairs = dd._bucket_pairs(keyed, "__sk", "band_key").select(
        F.col("doc_a").alias("__ska"), F.col("doc_b").alias("__skb")
    )
    ga = sgroups.select(
        F.col("__sk").alias("__ska"),
        F.col("__ids").alias("__idsa"),
        *[F.col(c).alias(f"__a{j}") for j, c in enumerate(mh_cols)],
    )
    gb = sgroups.select(
        F.col("__sk").alias("__skb"),
        F.col("__ids").alias("__idsb"),
        *[F.col(c).alias(f"__b{j}") for j, c in enumerate(mh_cols)],
    )
    agree = sum(
        (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int") for j in range(num_hashes)
    )
    cross = (
        spairs.join(ga, "__ska")
        .join(gb, "__skb")
        .select(
            F.round(agree / F.lit(num_hashes), 6).alias("est_jaccard"),
            "__idsa",
            "__idsb",
        )
        .select(F.explode("__idsa").alias("__da"), "__idsb", "est_jaccard")
        .select(
            F.col("__da"), F.explode("__idsb").alias("__db"), "est_jaccard"
        )
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "est_jaccard",
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
        sgroups.filter(F.size("__ids") > 1)
        .select(F.explode(within_pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", F.lit(1.0).alias("est_jaccard"))
    )
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_a").cast("string"),
                        F.col("doc_b").cast("string"),
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    gated = (
        cross.unionByName(same)
        .where(gate)
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.least(F.lit(9), F.floor(F.col("est_jaccard") * 10).cast("int"))
            .cast("int")
            .alias("band"),
        )
    )
    wl = Window.partitionBy("band", "__salt").orderBy("doc_a", "doc_b")
    local3 = (
        gated.withColumn(
            "__salt", F.pmod(F.hash("doc_a", "doc_b"), F.lit(64))
        )
        .withColumn("__rl", F.row_number().over(wl))
        .where(F.col("__rl") <= 3)
    )
    w = Window.partitionBy("band").orderBy("doc_a", "doc_b")
    return (
        local3.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("band", "doc_a", "doc_b", "est_jaccard", "rank")
    )


@q(
    "license_audit",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    j AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             CAST(CAST(substr(d.source, 4) AS INT) % 3 AS INT) AS lic
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    agg AS (
      SELECT cluster_id,
             max(lic) AS max_license,
             CAST(count(*) AS BIGINT) AS n_members
      FROM j GROUP BY 1
    ),
    keep AS (
      SELECT cluster_id, doc_id AS keep_id, lic AS keep_license FROM (
        SELECT cluster_id, doc_id, lic,
               row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
        FROM j
      ) WHERE rn = 1
    )
    SELECT k.cluster_id, k.keep_id, k.keep_license, a.max_license, a.n_members
    FROM keep k JOIN agg a USING (cluster_id)
    WHERE k.keep_license < a.max_license
    """,
)
def q_license_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License contamination via duplication: a duplicate cluster
    whose KEPT representative carries a laxer license class than some
    other member is a compliance hole — the restricted copy's content
    ships under the permissive copy's terms. License class derives
    from the source id (stand-in for a curated source→license map,
    broadcastable at any scale); the cluster maximum and the keeper's
    class are two map-side-combinable aggregates over the
    cluster-joined projection. Output: every cluster where
    keep_license < max_license."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    lic = (F.substring(F.col("source"), 4, 10).cast("int") % 3).cast("int")
    j = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        d.select("doc_id", "n_chars", lic.alias("lic")), "doc_id"
    )
    agg_c = j.groupBy("cluster_id").agg(
        F.max("lic").cast("int").alias("max_license"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max_by(
            F.struct(F.col("doc_id").alias("keep_id"), F.col("lic").alias("keep_license")),
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__negid")),
        ).alias("__k"),
    )
    return agg_c.select(
        "cluster_id",
        F.col("__k.keep_id").alias("keep_id"),
        F.col("__k.keep_license").alias("keep_license"),
        "max_license",
        "n_members",
    ).where(F.col("keep_license") < F.col("max_license"))


@q(
    "token_budget_planner",
    """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             pow(n_tokens * 1.0, 0.5) / sum(pow(n_tokens * 1.0, 0.5)) OVER () AS weight
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(weight, 6) AS weight,
           round(least(1.0, 20000.0 * weight / n_tokens), 6) AS sample_rate,
           CAST(floor(least(1.0, 20000.0 * weight / n_tokens) * n_tokens) AS BIGINT) AS expected_tokens
    FROM w
    """,
)
def q_token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling plan: temperature-weighted (alpha=0.5)
    per-source shares of a fixed token budget, converted into the
    per-source Bernoulli rates a sampler actually applies (capped at
    1.0 — a scarce source can't be sampled above itself; its unmet
    share is visible as expected_tokens < budget*weight, the signal
    to re-run with renormalization or repetition). One corpus scan to
    the source aggregate; the weight normalization is a window over
    the source-cardinality table."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).cast("long").alias("n_tokens"),
    )
    wall = Window.partitionBy()
    powed = F.pow(F.col("n_tokens").cast("double"), F.lit(0.5))
    weight = powed / F.sum(powed).over(wall)
    rate = F.least(F.lit(1.0), F.lit(20000.0) * weight / F.col("n_tokens"))
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(weight, 6).alias("weight"),
        F.round(rate, 6).alias("sample_rate"),
        F.floor(rate * F.col("n_tokens")).cast("long").alias("expected_tokens"),
    )


@q(
    "dup_cluster_histogram",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, count(*)::BIGINT AS size FROM comp GROUP BY 1)
    SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(size * count(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * count(*) AS BIGINT) AS n_removable
    FROM sz GROUP BY size
    """,
)
def q_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many clusters of each
    size the corpus holds, the docs they cover, and the docs a
    keep-one policy would remove — the one chart that says whether
    duplication is a long tail of pairs or a few viral mega-clusters
    (which changes the dedup strategy entirely). Two stacked
    map-side-combinable aggregates over the connected-components
    output; size cardinality is tiny, so the histogram is
    driver-display-ready at any corpus scale."""
    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc)
    sz = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).cast("long").alias("size"))
    return sz.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1))).cast("long").alias("n_removable"),
    )


@q(
    "filter_attrition_report",
    """
    WITH f AS (
      SELECT d.source,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','and','of','to','in','is','it'))) AS n_stop
      FROM documents d
    ),
    g AS (
      SELECT source,
             CAST(n_words >= 20 AND n_words <= 1000 AS INT) AS pass_len,
             CAST((n_chars - (n_words - 1)) / n_words >= 3.0
                  AND (n_chars - (n_words - 1)) / n_words <= 10.0 AS INT) AS pass_word_len,
             CAST(n_stop / n_words > 0.0 AS INT) AS pass_stopword,
             CAST(1.0 - n_uniq / n_words <= 0.6 AS INT) AS pass_repeat
      FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(pass_len), 6) AS rate_len,
           round(avg(pass_word_len), 6) AS rate_word_len,
           round(avg(pass_stopword), 6) AS rate_stopword,
           round(avg(pass_repeat), 6) AS rate_repeat,
           round(avg(pass_len * pass_word_len * pass_stopword * pass_repeat), 6) AS rate_keep
    FROM g GROUP BY 1
    """,
)
def q_filter_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source filter attrition: for each C4/Gopher rule, the share
    of a source's documents that pass it, plus the all-rules keep
    rate — the report that answers "why did this source shrink 40%"
    WITHOUT re-running the pipeline per rule. Same single codegen
    scan as rule_filter, collapsed to a source-cardinality aggregate
    (every avg is a map-side-combinable sum of 0/1 flags)."""
    g = tx.rule_filter(_t(spark, sf_dir, "documents"), keep_cols=["source"])
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("pass_len"), 6).alias("rate_len"),
        F.round(F.avg("pass_word_len"), 6).alias("rate_word_len"),
        F.round(F.avg("pass_stopword"), 6).alias("rate_stopword"),
        F.round(F.avg("pass_repeat"), 6).alias("rate_repeat"),
        F.round(
            F.avg(
                F.col("pass_len")
                * F.col("pass_word_len")
                * F.col("pass_stopword")
                * F.col("pass_repeat")
            ),
            6,
        ).alias("rate_keep"),
    )


@q(
    "minhash_band_tuner",
    """
    WITH f(bands) AS (SELECT unnest(range(1, 13))),
    shapes AS (
      SELECT bands::BIGINT AS bands, (12 / bands)::BIGINT AS rows_per_band
      FROM f WHERE 12 % bands = 0
    )
    SELECT 12::BIGINT AS n_hashes, bands, rows_per_band,
           round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS j50,
           round(1 - pow(1 - pow(0.5, rows_per_band), bands), 6) AS p_collide_at_05,
           round(1 - pow(1 - pow(0.7, rows_per_band), bands), 6) AS p_collide_at_07,
           round(1 - pow(1 - pow(0.9, rows_per_band), bands), 6) AS p_collide_at_09
    FROM shapes ORDER BY bands
    """,
)
def q_minhash_band_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding calibration table (CALIBRATION.md §1): for every
    (bands, rows) factorization of the production 12-hash signature,
    the S-curve landmarks — j50 = (1/b)^(1/r), the Jaccard at 50%
    collision probability, and the collision probability
    1-(1-J^r)^b a pair at J ∈ {0.5, 0.7, 0.9} has of becoming an LSH
    candidate. This is how an operator picks (b, r) BEFORE paying for
    a corpus pass: choose the row where p_collide at the decision
    threshold is ~1 and j50 sits safely below it (the shipped 6x2:
    j50 ≈ 0.408, p@0.7 ≈ 0.987), then confirm with the measured
    lsh_recall_metrics. Pure arithmetic over a 6-row driver-side
    range — no table scan; both engines compute identical doubles
    rounded to 6 dp."""
    n = 12
    b = F.col("id").cast("long")
    r = (F.lit(n) / b).cast("long")
    j = lambda x: F.round(
        1 - F.pow(1 - F.pow(F.lit(x), r.cast("double")), b.cast("double")), 6
    )
    return (
        spark.range(1, n + 1)
        .filter(F.lit(n) % b == 0)
        .select(
            F.lit(n).cast("long").alias("n_hashes"),
            b.alias("bands"),
            r.alias("rows_per_band"),
            F.round(F.pow(1.0 / b, 1.0 / r), 6).alias("j50"),
            j(0.5).alias("p_collide_at_05"),
            j(0.7).alias("p_collide_at_07"),
            j(0.9).alias("p_collide_at_09"),
        )
        .orderBy("bands")
    )


@q(
    "cluster_safe_split",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS b
          FROM cc)
    """,
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: the hash-bucket gate of
    dataset_split applied to the near-dup CLUSTER id instead of the
    doc id, so an entire duplicate cluster always lands in one split —
    the guard that keeps eval members' near-copies out of train (the
    classic contamination path a doc-level split cannot close: two
    near-identical docs hash independently and straddle the
    boundary). Same transitive closure as dedup_clusters (full-text
    md5 OR 100-char-prefix md5 buckets, star-contraction CC), then
    one shuffle-free row-wise hash of the cluster label; split
    assignment stays deterministic, rerun-stable, and growth-stable
    (adding a new copy of an old doc cannot move the cluster). At
    100 TB the CC is the already-gated scalable shape and the split
    itself adds zero exchanges."""
    from .extensions import corpus as cp

    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    return cp.dataset_split(cc, id_col="cluster_id")


@q(
    "split_leakage_report",
    """
    WITH RECURSIVE inc AS (
      SELECT doc_id AS node, md5(text) AS key FROM documents
      UNION
      SELECT doc_id AS node, md5(substr(text, 1, 100)) AS key FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.node AS a, b.node AS b FROM inc a JOIN inc b USING (key)
    ),
    reach(node, comp) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM inc)
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
      SELECT cluster_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, cluster_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS b
            FROM cc)
    ),
    per_cluster AS (
      SELECT cluster_id, count(*) AS n_docs,
             count(DISTINCT split) AS n_splits,
             sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS n_eval
      FROM labeled GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_clusters,
           CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS n_docs_affected,
           CAST(sum(CASE WHEN n_splits > 1 THEN (n_docs - n_eval) * n_eval ELSE 0 END) AS BIGINT)
             AS n_leaky_pairs
    FROM per_cluster
    """,
)
def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination audit that motivates cluster_safe_split: under
    the doc-level hash split (dataset_split's exact gate), how many
    near-dup clusters straddle the train/eval boundary, how many docs
    sit in those clusters, and how many train-doc x eval-doc near-dup
    pairs leak across it. One row; every aggregate is
    map-side-combinable over the CC output, so the report costs the
    already-gated cluster pass plus one scalar aggregate at any
    corpus size. A zero n_leaky_clusters here is the acceptance
    criterion for a leakage-safe split policy."""
    from .extensions import corpus as cp

    d = _t(spark, sf_dir, "documents")
    inc = d.select(
        F.col("doc_id").alias("node"), F.md5(F.col("text")).alias("key")
    ).unionByName(
        d.select(
            F.col("doc_id").alias("node"),
            F.md5(F.substring(F.col("text"), 1, 100)).alias("key"),
        )
    )
    cc = dd.connected_components(inc).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    labeled = cp.dataset_split(cc, id_col="doc_id")
    per_cluster = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.sum(F.when(F.col("split") != "train", 1).otherwise(0)).alias("n_eval"),
    )
    leaky = F.col("n_splits") > 1
    return per_cluster.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(leaky.cast("int")).cast("long").alias("n_leaky_clusters"),
        F.sum(F.when(leaky, F.col("n_docs")).otherwise(0)).cast("long").alias("n_docs_affected"),
        F.sum(
            F.when(leaky, (F.col("n_docs") - F.col("n_eval")) * F.col("n_eval")).otherwise(0)
        ).cast("long").alias("n_leaky_pairs"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization tier (crawl-corpus plumbing): raw crawl URLs
# name one resource in many spellings — case, fragments, tracking
# params, param order, default ports. Normalization is THE dedup key
# a web corpus groups on before any content hashing. URLs are
# synthesized deterministically from documents columns (the same
# construct-then-operate pattern as sci_notation_num) so both engines
# operate on identical strings.
# ---------------------------------------------------------------------------

_URL_NORM_SQL = """
  regexp_replace(lower(regexp_extract({pre}, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*)', 1)), ':(80|443)$', '')
  || regexp_replace(substr({pre}, length(regexp_extract({pre}, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*)', 1)) + 1), '/+$', '', 'g')
  || CASE WHEN {cq} <> '' THEN '?' || {cq} ELSE '' END
"""

_URL_CQ_SQL = """
  array_to_string(list_sort(list_filter(string_split(regexp_extract({base}, '\\?(.*)', 1), '&'),
      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))), '&')
"""


def _url_stage_ctes(src: str, url_col: str) -> str:
    """base/pre/cq staging CTEs over ANY relation ``src`` carrying
    ``url_col`` — the ONE spelling of the oracle's fragment-strip /
    query-split scaffolding. Shared by the per-query oracles (via
    _url_norm_ctes) and scripts/adversarial_sweep.py, so the sweep
    validates the exact fragments the real oracles run — if this
    scaffolding drifts, sweep and oracles drift together (ADVICE
    r10)."""
    return f"""
    s1 AS (SELECT *, regexp_replace({url_col}, '#.*', '', 'g') AS base FROM {src}),
    s2 AS (SELECT *, regexp_replace(base, '\\?.*', '', 'g') AS pre,
                  {_URL_CQ_SQL.format(base="base")} AS cq
           FROM s1)"""


def _url_norm_ctes(raw_expr: str) -> str:
    """Shared oracle CTE chain raw -> normalized (mirrors
    ops.strings.url_normalize step for step)."""
    return f"""
    raw AS (SELECT doc_id, lang, source, {raw_expr} AS url_raw FROM documents),
    {_url_stage_ctes("raw", "url_raw")},
    normed AS (SELECT doc_id, lang, source, url_raw,
                      {_URL_NORM_SQL.format(pre="pre", cq="cq")} AS url_norm
               FROM s2)"""


_URL_RAW_MESSY = (
    "'HTTP://WWW.' || upper(source) || '.Example.COM:80/' || lang || '/doc/' || doc_id"
    " || '/?utm_source=feed&Page=' || (doc_id % 3) || '&id=' || (doc_id % 7)"
    " || '#sec' || (doc_id % 5)"
)

_URL_RAW_SHARED = (
    "'https://' || source || '.example.com/' || lang || '/page/' || (doc_id % 50)"
    " || '/?utm_campaign=c' || doc_id || '&v=' || (doc_id % 2) || '#' || doc_id"
)


def _urls_maybe_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, url_raw, url_norm, domain, path) for the
    messy synthetic URLs — served from the curated URL table when the
    session carries one (io.layout.write_curated_urls: parse once at
    ingest, store bucketed on domain so every domain-keyed group-by
    runs exchange-free), else derived per call with the same
    deterministic string expressions. Bit-identical either way."""
    cur = lay.curated_urls_or_none(spark, sf_dir)
    if cur is not None:
        return cur
    from .ops import strings as st

    d = _t(spark, sf_dir, "documents")
    raw = _url_raw_messy_col()
    return d.select(
        "doc_id",
        "lang",
        "source",
        raw.alias("url_raw"),
        st.url_normalize(raw).alias("url_norm"),
        st.url_domain(raw).alias("domain"),
        st.url_path(raw).alias("path"),
    )


def _url_raw_messy_col() -> "F.Column":
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTP://WWW."), F.upper("source"), F.lit(".Example.COM:80/"),
        F.col("lang"), F.lit("/doc/"), d.cast("string"),
        F.lit("/?utm_source=feed&Page="), (d % 3).cast("string"),
        F.lit("&id="), (d % 7).cast("string"),
        F.lit("#sec"), (d % 5).cast("string"),
    )


def _url_raw_shared_col() -> "F.Column":
    d = F.col("doc_id")
    return F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/page/"), (d % 50).cast("string"),
        F.lit("/?utm_campaign=c"), d.cast("string"),
        F.lit("&v="), (d % 2).cast("string"),
        F.lit("#"), d.cast("string"),
    )


@q(
    "url_normalize",
    f"""
    WITH {_url_norm_ctes(_URL_RAW_MESSY)}
    SELECT doc_id, url_raw, url_norm FROM normed
    """,
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (ops.strings.url_normalize): lowercase
    scheme/host, drop default port, strip fragment and trailing
    slashes, drop tracking params, SORT the surviving query params.
    Map-only codegen string ops — scales as a scan. Served from the
    curated URL table when present (parse-once-at-ingest,
    io.layout.write_curated_urls)."""
    return _urls_maybe_curated(spark, sf_dir).select(
        "doc_id", "url_raw", "url_norm"
    )


@q(
    "dedup_url",
    f"""
    WITH {_url_norm_ctes(_URL_RAW_SHARED)}
    SELECT url_norm, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM normed GROUP BY 1
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup: raw crawl URLs for one resource differ only
    in tracking junk and fragments, so exact dedup MUST group on the
    normalized form (here every raw URL is distinct while the
    normalized key collapses ~docs/(sources x langs x 100) groups).
    One map-side-combinable groupBy on the canonical key — the
    cheapest dedup pass a web pipeline runs, upstream of any content
    hashing."""
    from .ops import strings as st

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(st.url_normalize(_url_raw_shared_col()).alias("url_norm"), "doc_id")
        .groupBy("url_norm")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@q(
    "url_domain_stats",
    f"""
    WITH {_url_norm_ctes(_URL_RAW_MESSY)}
    SELECT regexp_extract(lower(url_raw), '^[a-z][a-z0-9+.\\-]*://(www\\.)?([^/:?#]*)', 2) AS domain,
           count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls
    FROM normed GROUP BY 1
    """,
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus census (ops.strings.url_domain): docs,
    distinct languages, distinct canonical URLs per registered host —
    the table robots budgets, license tiers, and domain-mix policy
    key on. Domain cardinality is site-shaped, never corpus-shaped.
    On the curated URL table the census reads the STORED parsed
    columns (parse-once-at-ingest); its multi-distinct aggregate
    still shuffles — Spark's distinct rewrite goes through an Expand
    that drops clustering — so the layout's exchange-free win lands
    on the single-key consumers (see domain_budget_cap)."""
    rows = _urls_maybe_curated(spark, sf_dir).select(
        "domain", "lang", "url_norm"
    )
    return rows.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("url_norm").cast("long").alias("n_urls"),
    )


# ---------------------------------------------------------------------------
# Compliance tier (r10): the gate between URL canonicalization and
# content processing. robots_filter models robots.txt Disallow /
# site-opt-out / per-directory license carve-outs (all prefix-match
# on path, all site-policy-sized rule sets); domain_budget_cap models
# per-site crawl budgets (keep the first K pages per registered
# host). Both operate on the same deterministic synthesized URLs as
# the URL tier, so both engines parse identical strings.
# ---------------------------------------------------------------------------

_URL_PATH_SQL = """
  regexp_replace(substr({base}, length(regexp_extract({base}, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*)', 1)) + 1), '/+$', '', 'g')
"""

# query+fragment strip feeding _URL_PATH_SQL (ops.strings.url_path's
# first step) — exported so the adversarial sweep runs this exact
# fragment rather than a re-spelling.
_URL_PBASE_SQL = "regexp_replace({u}, '[?#].*', '', 'g')"

_URL_DOMAIN_SQL = (
    "regexp_extract(lower({u}), '^[a-z][a-z0-9+.\\-]*://(www\\.)?([^/:?#]*)', 2)"
)


@q(
    "robots_filter",
    f"""
    WITH raw AS (SELECT doc_id, lang, source, {_URL_RAW_MESSY} AS u FROM documents),
    b AS (SELECT *, {_URL_PBASE_SQL.format(u="u")} AS base FROM raw),
    parsed AS (SELECT doc_id, {_URL_DOMAIN_SQL.format(u="u")} AS domain,
                      {_URL_PATH_SQL.format(base="base")} AS path
               FROM b),
    rules AS (SELECT DISTINCT source || '.example.com' AS domain, d.disallow
              FROM documents, (VALUES ('/de/'), ('/fr/doc/1')) d(disallow))
    SELECT p.doc_id, p.domain, p.path FROM parsed p
    WHERE NOT EXISTS (SELECT 1 FROM rules r
                      WHERE r.domain = p.domain
                        AND (p.path LIKE r.disallow || '%'
                             OR (r.disallow LIKE '%/' AND p.path = rtrim(r.disallow, '/'))))
    """,
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/compliance path filter (extensions.corpus.robots_filter):
    drop pages whose path starts with any disallow prefix registered
    for their domain. The rule set here disallows '/de/' wholesale
    and the '/fr/doc/1' subtree per domain — one whole-language
    carve-out and one prefix that splits an id range, so the match is
    genuinely prefix-shaped, not equality in disguise. Rules
    broadcast (site-policy-sized); the corpus side is one map-side
    left_anti pass, no shuffle at any scale.

    Directory-root semantics (ADVICE r10): stored paths are
    trailing-slash-stripped, so a '/'-terminated disallow ALSO blocks
    the page whose stripped path equals the disallow minus its
    trailing slashes ('/de/' blocks stored '/de'); deliberate
    over-block on the indistinguishable slashless spelling — see
    extensions.corpus.robots_filter. Oracle mirrors with
    `p.path = rtrim(r.disallow, '/')`."""
    parsed = _urls_maybe_curated(spark, sf_dir).select(
        "doc_id", "domain", "path"
    )
    rules = (
        _t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .select(
            F.concat("source", F.lit(".example.com")).alias("domain"),
            F.explode(F.array(F.lit("/de/"), F.lit("/fr/doc/1"))).alias("disallow"),
        )
    )
    return cp.robots_filter(parsed, rules)


@q(
    "domain_budget_cap",
    f"""
    WITH raw AS (SELECT doc_id, source, {_URL_RAW_MESSY} AS u FROM documents),
    parsed AS (SELECT doc_id, {_URL_DOMAIN_SQL.format(u="u")} AS domain FROM raw),
    ranked AS (SELECT domain, doc_id,
               row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rank
               FROM parsed)
    SELECT domain, doc_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 10
    """,
)
def q_domain_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl budget (ops.aggregates.keyed_topk): keep the
    first K pages per registered host — the politeness/dedup budget a
    frontier applies before fetching. NOT a keyed window: a window
    sends a viral domain's ENTIRE population to one reducer to keep
    K rows of it; keyed_topk exploits top-k associativity — per-salt
    sorted slices (map-combinable, each reduce group ≤ a salt share),
    then a per-domain merge over ≤ salt_buckets·K values (model-sized
    regardless of the domain's population). Output identical to the
    window form; the oracle IS the window form."""
    from .ops.aggregates import keyed_topk

    parsed = _urls_maybe_curated(spark, sf_dir).select("doc_id", "domain")
    return keyed_topk(parsed, ["domain"], "doc_id", k=10)


@q(
    "stream_url_frontier",
    f"""
    WITH {_url_norm_ctes(_URL_RAW_SHARED)}
    SELECT DISTINCT url_norm FROM normed
    """,
)
def q_stream_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup run for real through Structured
    Streaming: file source → url_normalize → dropDuplicates on the
    canonical URL → memory sink drained with availableNow. The
    frontier is the streaming face of dedup_url — every newly
    discovered raw URL is admitted at most once per canonical form,
    state keyed on url_norm (bounded by the frontier's distinct-URL
    universe; at crawl scale the watermarked TTL form in
    streaming.watch.streaming_dedup bounds it by recency instead).
    Emitted set is arrival-order independent, so the batch SQL
    DISTINCT is an exact oracle."""
    import uuid as _uuid

    from .ops import strings as st

    from .streaming.watch import stream_parquet_table

    doc_schema = lay.plain_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).schema
    stream = stream_parquet_table(spark, sf_dir, "documents", doc_schema)
    frontier = (
        stream.select(st.url_normalize(_url_raw_shared_col()).alias("url_norm"))
        .dropDuplicates(["url_norm"])
    )
    name = f"surl_{_uuid.uuid4().hex[:8]}"
    qh = (
        frontier.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination()
    return spark.table(name)


@q(
    "boilerplate_scrub",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, ws,
                   unnest(generate_series(0, CAST(ceil(len(ws)/3.0) AS BIGINT) - 1)) AS pos
            FROM w),
    chunks AS (SELECT doc_id, pos, array_to_string(ws[(pos*3+1):(pos*3+3)], ' ') AS chunk FROM idx),
    freq AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1),
    j AS (SELECT c.doc_id, c.pos, c.chunk, f.n_docs FROM chunks c JOIN freq f USING(chunk))
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (n_docs <= 3), '') AS clean_text,
           CAST(count(*) FILTER (n_docs > 3) AS BIGINT) AS n_dropped_chunks
    FROM j GROUP BY doc_id
    """,
)
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate scrub (extensions.corpus.
    boilerplate_scrub): drop every 3-word span occurring in more than
    3 distinct documents, reassemble the survivors in order — the C4
    'discard lines seen too often' pass, the corpus-level complement
    to repetition_metrics (intra-doc) and decontaminate_* (benchmark
    overlap). At sf0.01 this scrubs 265 spans across 200 of 500 docs.
    The join-back rides skew_router_join: viral boilerplate is the
    canonical power-law key, and the router broadcasts the head so
    its rows never enter the shuffle."""
    return cp.boilerplate_scrub(_t(spark, sf_dir, "documents"))
