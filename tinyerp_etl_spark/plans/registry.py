"""Assembles the full queries()/oracle_sql() surface for the driver.

Each plans submodule contributes (QUERIES, ORACLES); names are globally
unique. Queries without an oracle entry (non-SQL-expressible ops) get a
rows-only check from the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tinyerp_etl_spark.plans.etl_queries import ETL_ORACLES, ETL_QUERIES
from tinyerp_etl_spark.plans.llm_ops import LLM_ORACLES, LLM_QUERIES
from tinyerp_etl_spark.plans.oracles import RELATIONAL_ORACLES
from tinyerp_etl_spark.plans.relational import RELATIONAL_QUERIES
from tinyerp_etl_spark.plans.streaming_queries import (
    STREAMING_ORACLES,
    STREAMING_QUERIES,
)
from tinyerp_etl_spark.plans.tpch_extra import TPCH_EXTRA_ORACLES, TPCH_EXTRA_QUERIES
from tinyerp_etl_spark.plans.udf_surface import UDF_SURFACE_ORACLES, UDF_SURFACE_QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]

# The correctness gate covers the first 50 registry entries, so
# insertion order (this list first, then the pool) is its rotation order.
_FRONT_50 = [
    "nfc_normalize_docs",
    "domain_blocklist_filter",
    "c4_line_filter_docs",
    "robots_txt_filter",
    "gopher_repetition_docs",
    "span_clean_and_fold_docs",
    "incremental_span_removal_docs",
    "gram_novelty_docs",
    "pq_topk_embeddings",
    "ivf_nprobe_recall_curve",
    "dedup_keep_canonical",
    "embedding_label_centroids",
    "xml_roundtrip_orders",
    "hll_union_rollup",
    "agg_cube",
    "agg_distinct_count",
    "anomaly_zscore_daily_revenue",
    "audio_fingerprint_parity",
    "bloom_decontaminate_docs",
    "bm25i_incremental_index",
    "bm25i_retrieval_docs",
    "chunk_documents_stats",
    "data_profile_orders",
    "hierarchy_subtree_rollup",
    "image_dhash_parity",
    "join_anti_orphan_audit",
    "join_full_outer_balance",
    "join_left_enrich",
    "minhash_signatures",
    "minhash_store_neardup",
    "mp4_container_parity",
    "multimodal_frame_sample",
    "pandas_udaf_weighted_price",
    "paragraph_dedup_docs",
    "perceptual_checker_parity",
    "pii_redact_docs",
    "pivot_status_by_priority",
    "q13_order_distribution",
    "q15_top_supplier",
    "q18_large_volume_customers",
    "q19_discount_revenue",
    "scalar_subquery_rich_idle_customers",
    "setops_customer_nations",
    "time_travel_orders_versions",
    "topk_expensive_orders",
    "udtf_word_positions",
    "video_neardup_parity",
    "window_latest_order_per_customer",
    "window_moving_avg_daily_revenue",
    "winnow_fingerprint_docs",
]


def all_queries() -> dict[str, QueryFn]:
    pool: dict[str, QueryFn] = {}
    pool.update(LLM_QUERIES)
    pool.update(TPCH_EXTRA_QUERIES)
    pool.update(UDF_SURFACE_QUERIES)
    pool.update(STREAMING_QUERIES)
    pool.update(ETL_QUERIES)
    pool.update(RELATIONAL_QUERIES)

    queries: dict[str, QueryFn] = {n: pool[n] for n in _FRONT_50}
    for name, fn in pool.items():
        queries.setdefault(name, fn)
    assert len(queries) == len(pool), "front-50 must be a subset of the pool"
    return queries


def all_oracles() -> dict[str, str]:
    oracles: dict[str, str] = {}
    oracles.update(RELATIONAL_ORACLES)
    oracles.update(TPCH_EXTRA_ORACLES)
    oracles.update(UDF_SURFACE_ORACLES)
    oracles.update(ETL_ORACLES)
    oracles.update(LLM_ORACLES)
    oracles.update(STREAMING_ORACLES)
    return oracles
