"""Query registry — the driver contract's backbone.

Every operator from SURVEY.md §2b registers here as
``name -> (builder, oracle_sql | None)``. ``__spark_entry__.queries()``
and ``oracle_sql()`` are thin views over this dict, and the local
parity harness (tools/verify_queries.py) iterates it directly.

A builder is ``(spark, sf_dir) -> DataFrame``; the oracle is ANSI SQL
DuckDB runs against the same parquet tables (views: region nation
customer supplier part orders lineitem events documents embeddings).
Builders alias every computed column to match the oracle exactly —
the driver sorts columns by name before hashing values.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryBuilder
    oracle: str | None  # None => driver runs the weaker rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import; one per §2b family.
# Module order no longer controls driver sampling — _SAMPLE_PRIORITY
# below does, per-key.
_QUERY_MODULES = [
    "etl_8x8_spark.sources.scans",
    "etl_8x8_spark.operators.windows",
    "etl_8x8_spark.operators.setops",
    "etl_8x8_spark.operators.scalar_fns",
    "etl_8x8_spark.operators.sql_queries",
    "etl_8x8_spark.operators.dedup",
    "etl_8x8_spark.operators.similarity",
    "etl_8x8_spark.operators.text",
    "etl_8x8_spark.operators.multimodal",
    "etl_8x8_spark.streaming.streams",
    "etl_8x8_spark.operators.aggregates",
    "etl_8x8_spark.operators.record_ops",
    "etl_8x8_spark.operators.joins",
    "etl_8x8_spark.operators.cdc",
    "etl_8x8_spark.operators.graph",
    "etl_8x8_spark.operators.features",
]

# ORDER MATTERS for driver sampling: the driver evaluates only the first
# 50 keys of ``all_queries()`` per round. Keys listed here lead the
# returned dict (in this order); all other keys follow in registration
# order. The rule that fills the 50-key window:
#   1. keys whose builder changed after their last CORRECTNESS_r*.json
#      row was recorded, so that row is stale evidence;
#   2. then the keys with the oldest evidence (last CORRECTNESS round,
#      ties in registration order).
# bench.py's HEADLINE order is independent and unaffected.
_SAMPLE_PRIORITY = [
    # round 16: graph and cluster loops (round-lineage checkpointing)
    "graph_pagerank_converged",
    "graph_label_propagation",
    "graph_k_core",
    "graph_bfs_layers",
    "dedup_cluster_cc",
    # round 16: both k-means, roc_auc / ks_test, the widen_scan family
    # (substring-dedup trio, text quality, PQ), mrl truncate, manifest
    "ml_kmeans_lloyd",
    "ml_kmeans_converged",
    "agg_roc_auc_rank",
    "agg_ks_test_two_sample",
    "dedup_substring_span",
    "dedup_substring_scrub",
    "dedup_incremental_substring",
    "text_contamination_check",
    "text_bigram_perplexity",
    "text_quality_gopher",
    "text_quality_classifier",
    "pipeline_quality_gate",
    "embed_pq_encode",
    "sim_search_pq_adc",
    "sim_search_ivfpq_topk",
    "embed_mrl_truncate",
    "scan_manifest_pruned",
    # moved onto streams.run_phases / drain_to_table
    "stream_state_ttl_cache",
    "stream_watermark_late_data",
    "stream_session_window_state",
    "stream_session_window_tws",
    "stream_join_outer",
    "stream_tws_ttl_cache",
    "stream_custom_source",
    "stream_txn_log_tail",
    # reads its aggregate back with the writer's schema
    "view_incremental_refresh",
    # one Spark form per shared expression (the SQL-text normalize,
    # token, shingle, hash, vector and ntile builders): changed keys
    # with the oldest evidence, r9 then r10, in registration order
    "dedup_ngram_jaccard",
    "dedup_embed_cosine",
    "dedup_binary_exact",
    "pipeline_training_data",
    "dedup_incremental_minhash",
    "sim_search_topk",
    "sim_search_ivf_topk",
    "sim_knn_join",
    "sim_search_range",
    "embed_normalize_quantize",
    "pipeline_pretrain_corpus",
    "dedup_minhash_near",
    "dedup_simhash",
    "sim_search_lsh_topk",
    "text_analysis_stats",
    "text_lang_id",
    "text_tfidf_terms",
    "text_fingerprint",
    "text_ngram_counts",
]




def register(
    name: str, oracle: str | None = None
) -> Callable[[QueryBuilder], QueryBuilder]:
    """Decorator: register a query builder under its §2b key."""

    def deco(fn: QueryBuilder) -> QueryBuilder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    ordered: dict[str, QuerySpec] = {}
    for name in _SAMPLE_PRIORITY:
        ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
