"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (the htseq-count analog —
interval join + grouped count, the reference's raison d'être,
tools.py:625-674) at sf0.001. `queries()` / `oracle_sql()` expose
every implemented operator from SURVEY.md §2 plus the training-data
extensions; the driver checks each against DuckDB at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from seqdatapipeline_spark import registry  # noqa: E402
from seqdatapipeline_spark import registry_ext  # noqa: E402,F401 — populates registry
from seqdatapipeline_spark import registry_scalars  # noqa: E402,F401 — populates registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interval join (bin-and-explode equi-join rewrite) +
    grouped count on sf0.001 — gene_read_count end-to-end."""
    return registry.QUERIES["feature_interval_join"](spark, "/root/testdata/sf0.001")


# The external correctness check hashes only the FIRST 50 queries()
# entries against DuckDB, so the window rotates each round by one
# rule: every query whose code (transitively, including its oracle
# SQL) changed since its own last external green leads the window,
# after the canaries, and the stalest greens fill the rest. `python scripts/rotate_window.py` computes the
# window from git history and the CORRECTNESS_r*.json files; paste its
# list below after any op or oracle edit. tests/test_rotation.py fails
# the suite while a changed query sits outside the first 50.
_PRIORITY = [
    "form_scan",  # canary, last green r13
    "gene_read_count",  # canary, last green r13
    "dedup_embedding_cosine",  # CHANGED since green, last green r12
    "srp_embedding_pairs",  # CHANGED since green, last green r12
    "graph_degree_stats",  # CHANGED since green, last green r12
    "minhash_jaccard_estimate",  # CHANGED since green, last green r13
    "minhash_containment",  # CHANGED since green, last green r13
    "setsim_prefix_join",  # CHANGED since green, last green r13
    "dedup_embedding_clusters",  # CHANGED since green, last green r13
    "dedup_minhash_lsh",  # CHANGED since green, last green r13
    "pagerank_iter",  # CHANGED since green, last green r13
    "pagerank_weighted",  # CHANGED since green, last green r13
    "lm_doc_score",  # CHANGED since green, last green r13
    "bpe_pair_merge",  # last green r7
    "stream_late_monitor",  # last green r7
    "dedup_threshold_sweep",  # last green r7
    "cluster_top_terms",  # last green r7
    "assoc_rules",  # last green r7
    "filter_attrition_report",  # last green r7
    "batch_list_scan",  # last green r8
    "fastq_probe_limit1",  # last green r8
    "sra_source",  # last green r8
    "archive_file_scan",  # last green r8
    "tf_idf_top_terms",  # last green r8
    "retention_cohorts",  # last green r8
    "props_json_stats",  # last green r8
    "skew_profile",  # last green r8
    "topk_per_group",  # last green r8
    "token_entropy",  # last green r8
    "weekly_active_users",  # last green r8
    "pipeline_rna",  # last green r8
    "label_centroids",  # last green r8
    "simhash_hamming_pairs",  # last green r8
    "mad_outliers",  # last green r8
    "winsorize_stats",  # last green r8
    "pmi_bigrams",  # last green r8
    "rank_fusion_rrf",  # last green r8
    "late_event_rate",  # last green r8
    "quality_features_vector",  # last green r8
    "lsh_index_stats",  # last green r8
    "shard_balance_report",  # last green r8
    "neardup_review_sample",  # last green r8
    "token_budget_planner",  # last green r8
    "minhash_band_tuner",  # last green r8
    "software_version_scan",  # last green r9
    "hist_tsv_sink",  # last green r9
    "email_sink",  # last green r9
    "trim_report_sink",  # last green r9
    "filter_not_chrm",  # last green r9
    "filter_mapped_flag",  # last green r9
]


def _ordered(mapping: dict) -> dict:
    head = {n: mapping[n] for n in _PRIORITY if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + extensions)."""
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query above."""
    return _ordered(dict(registry.ORACLES))
