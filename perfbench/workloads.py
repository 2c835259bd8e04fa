"""The benchmark's workloads: frozen lists of registry keys.

Each workload is a closed loop with one client: the queries of a pass
run back to back in a seeded order, and the next pass starts when the
last query of the previous one has finished.

``fixture_keys`` are the keys whose builders write derived tables to
the engine's scratch directory on first use (here, a transaction log
with its commits). Set-up runs each of them once, so every timed pass
starts from the same fixture state.

``pass_s`` is the time one steady pass is budgeted at, hygiene
included; on a 4-core host a warm pass takes somewhat less. A run makes
``round(seconds / pass_s)`` steady passes, so every run of a workload
has the same number of samples: at ``--seconds 16``, 3 passes of
``adhoc_small`` and 4 of ``etl_ingest``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    fixture_keys: tuple[str, ...]
    pass_s: float


# Short read-only queries where per-query fixed cost (construction with
# its schema-inference job, planning, stage scheduling) dominates.
# Rule (frozen here, not re-evaluated): of the non-streaming keys under
# 0.3 s in the committed 8-core sf0.1 bench record, minus sql_tpch_*,
# sink_*, scan_txn_log_* and any key whose executed plan has a Python
# node (plans.audit "python_eval"), the 16 fastest.
ADHOC_SMALL = Workload(
    name="adhoc_small",
    keys=(
        "sample_train_test_split", "sample_bottom_k_sketch",
        "fn_installments_codegen", "scan_parquet", "sort_limit_topk",
        "join_existence_mark", "sample_group_cap", "sample_shuffle_shards",
        "agg_dp_count_laplace", "agg_entropy", "agg_mode",
        "dedup_url_canonical", "window_gap_islands",
        "agg_conversion_latency", "text_token_budget_pack",
        "agg_bitmap_distinct",
    ),
    fixture_keys=(),
    pass_s=5.5,
)

# The reference's dataflow: Python-worker decode/validate (pandas_udf,
# mapInPandas), a near-duplicate filter that persists its candidate
# pairs, then sinks and transaction-log commits. sink_parquet_partitioned
# and view_incremental_refresh write on every execution.
ETL_INGEST = Workload(
    name="etl_ingest",
    keys=(
        "jwt_verify", "multimodal_decode", "multimodal_resize",
        "dedup_containment", "sink_parquet_partitioned",
        "sink_txn_log_merge", "view_incremental_refresh",
    ),
    fixture_keys=("sink_txn_log_merge",),
    pass_s=4.5,
)

WORKLOADS: dict[str, Workload] = {w.name: w for w in (ADHOC_SMALL, ETL_INGEST)}
