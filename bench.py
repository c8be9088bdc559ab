"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

The driver runs this per-round at sf0.1 and records BENCH_r{N}.json;
run it locally while iterating (SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01
for a quick loop).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tinyerp_etl_spark.plans.registry import all_queries
from tinyerp_etl_spark.session import get_spark

# Headline set, in timing order: each query and the round that added
# it (the first headline set counts as round 3). Names must exist in
# all_queries().
HEADLINE: dict[str, int] = {
    "q1_pricing_summary": 3,
    "q3_shipping_priority": 3,
    "q5_local_supplier_volume": 3,
    "q8_market_share": 3,
    "q18_large_volume_customers": 3,
    "q9_product_type_profit": 3,
    "q21_sole_late_shippers": 3,
    "window_latest_order_per_customer": 3,
    "join_left_enrich": 3,
    "topk_expensive_orders": 3,
    "exists_returned_orders": 3,
    "monthly_revenue_trend": 3,
    "sql_q6_forecast_revenue": 3,
    "skew_salted_event_totals": 3,
    "tfidf_top_terms": 3,
    "events_tumbling_hourly": 3,
    "asof_purchase_to_view": 3,
    "range_join_event_bursts": 3,
    "kmv_distinct_users": 3,
    "minhash_lsh_neardup_pairs": 3,
    "text_profile_docs": 3,
    "heavy_hitter_tokens": 3,
    "scd2_user_event_history": 3,
    "decontaminate_docs": 3,
    "anomaly_zscore_daily_revenue": 3,
    "embedding_topk_bruteforce": 3,
    "embedding_topk_ivf": 3,
    "sequence_packing_manifest": 4,
    "domain_mixture_resample": 4,
    "approx_quantile_order_totals": 4,
    "key_skew_profile_events": 4,
    "incremental_dedup_new_docs": 4,
    "curation_pipeline_manifest": 4,
    "unigram_surprisal_filter": 4,
    "q2_min_cost_supplier": 4,
    "q14_promo_revenue": 4,
    "q17_small_quantity_revenue": 4,
    "q22_dormant_customers": 4,
    "kmv_sketch_rollup": 4,
    "hll_union_rollup": 4,
    "data_profile_orders": 4,
    "sql_ml_inference_score": 4,
    "zorder_clustered_scan": 4,
    "bucketed_join_revenue": 4,
    "semantic_dedup_embeddings": 5,
    "bm25i_retrieval_docs": 5,
    "bm25i_index_retrieval": 7,
    "hybrid_rrf_retrieval": 7,
    "paragraph_dedup_docs": 7,
    "bloom_decontaminate_docs": 7,
    "bpe_train_merges": 7,
    "bpe_segment_stats": 7,
    "ngram_decontaminate_docs": 9,
    "dup_span_coverage_docs": 9,
    "pq_topk_embeddings": 9,
    "ivfpq_topk_embeddings": 9,
    "minhash_store_neardup": 9,
    "embedding_neardup_store": 9,
    "embedding_knn_join_routed": 10,
    "dedup_span_removal_docs": 10,
    "incremental_span_removal_docs": 10,
    "decontaminate_span_removal_docs": 11,
    "per_source_cap_sample": 11,
    "quality_percentile_by_source": 11,
    "embedding_knn_join_inline": 11,
    "gram_novelty_docs": 11,
    "span_clean_and_fold_docs": 11,
    "dsir_importance_sample": 11,
    "cluster_balanced_sample": 11,
    "incremental_dsir_sample": 11,
    "ctfidf_source_terms": 11,
    "html_extract_docs": 11,
    "url_normalize_dedup": 11,
    "web_curation_pipeline_manifest": 11,
    "dup_cluster_histogram": 11,
    "lang_id_confusion": 11,
    "simhash_neardup_docs": 11,
    "web_manifest_store_scored": 12,
    "gopher_quality_docs": 12,
    "line_dedup_docs": 12,
    "gopher_repetition_docs": 13,
    "winnow_fingerprint_docs": 14,
    "nfc_normalize_docs": 14,
    "domain_blocklist_filter": 14,
    "c4_line_filter_docs": 14,
    "robots_txt_filter": 14,
}

# Rounds that report a comparable total: `comparable_rN_total` sums the
# queries added in round <= N, so it compares with round N's record.
# The forced track started in round 12.
COUNT_TAGS = (3, 6, 8, 9, 10, 11, 12, 13)
FORCED_TAGS = (12, 13)

# Arbitrary fixed reference for the Python calibration loop (about
# the r13/r14 host's constant): `*_norm` totals from any two runs
# compare with each other regardless of host load.
NOMINAL_PY_CAL = 0.15


def _calibrate_host(spark) -> dict[str, float]:
    """Fixed reference workloads, independent of the engine under test.

    The bench runs on whatever VM the round lands on, and measured
    host speed has varied round-to-round by >1.4x on identical code
    (r3 vs r4 hosts). These two constants — a JVM codegen loop and a
    pure-Python loop — measure the HOST, so round-over-round totals
    can be normalized (total / jvm_calibration) before being read as
    an engine regression or win. Min of 3, like the queries.
    """
    jvm = py = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
        jvm = min(jvm, time.perf_counter() - t0)
        t0 = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc += i * i
        py = min(py, time.perf_counter() - t0)
    return {"jvm_range_sum_sec": round(jvm, 4), "py_loop_sec": round(py, 4)}


def headline_totals(
    timings: dict[str, float],
    forced: dict[str, float],
    cal_start: dict[str, float],
    cal_end: dict[str, float],
    sf: float,
) -> dict:
    """The output line from the two tracks' per-query minima and the
    calibration bracket (pure: no Spark, no clock)."""

    def upto(vals: dict[str, float], tag: int) -> float:
        return sum(v for k, v in vals.items() if HEADLINE[k] <= tag)

    comparables: dict[str, float] = {}
    for tag in COUNT_TAGS:
        comparables[f"comparable_r{tag}_total"] = round(upto(timings, tag), 4)
        if tag in FORCED_TAGS:
            comparables[f"comparable_forced_r{tag}_total"] = round(
                upto(forced, tag), 4
            )
    total = sum(timings.values())
    forced_total = sum(forced.values())

    # Normalize by the PYTHON loop (the steadier cross-host anchor — the
    # JVM loop is JIT-warmth-sensitive), averaged over the start/end
    # bracket so a load spike at either end is split: a loaded host
    # otherwise reads as an engine regression on untouched queries.
    py_mean = (cal_start["py_loop_sec"] + cal_end["py_loop_sec"]) / 2
    norm = NOMINAL_PY_CAL / py_mean if py_mean > 0 else 1.0

    # Key ORDER matters: the driver records only the LAST ~2000 bytes
    # of this line, so the diagnostic forced track goes FIRST (safe to
    # truncate) and the comparable `queries` dict goes LAST with the
    # summary totals; the headline total and the normalized keys sit
    # after it, inside the recorded tail window. The FULL result is
    # also written to BENCH_FULL.json so nothing is lost to the tail.
    return {
        "metric": "headline_queries_total_runtime",
        "unit": "sec",
        "queries_forced": forced,
        "host_calibration": cal_end,
        "host_calibration_start": cal_start,
        **comparables,
        "forced_total": round(forced_total, 4),
        "sf": sf,
        "queries": timings,
        "value": round(total, 4),
        "host_norm_factor": round(norm, 4),
        f"comparable_r{COUNT_TAGS[-1]}_total_norm": round(
            upto(timings, COUNT_TAGS[-1]) * norm, 4
        ),
        f"comparable_forced_r{FORCED_TAGS[-1]}_total_norm": round(
            upto(forced, FORCED_TAGS[-1]) * norm, 4
        ),
        "value_norm": round(total * norm, 4),
        "forced_total_norm": round(forced_total * norm, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    queries = all_queries()
    # a name missing from the registry would silently shrink every total
    missing = [name for name in HEADLINE if name not in queries]
    if missing:
        raise SystemExit(f"headline queries not in the registry: {missing}")
    spark = get_spark("tinyerp-etl-spark-bench")

    # warm the JVM/page-cache once with the cheapest headline query so
    # per-query numbers measure the engine, not first-touch overheads;
    # also spin up the Arrow Python worker pool (several headline ops
    # use mapInPandas and would otherwise pay worker startup once)
    queries[next(iter(HEADLINE))](spark, sf_dir).count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    # calibrate BEFORE the query passes as well as after: the JVM loop
    # is JIT-warmth-sensitive (0.18 s cold -> 0.09 s warm observed on
    # the r4 host), so a single post-run constant under- or over-states
    # host speed depending on where in the process it ran. Emitting the
    # bracket (start + end) pins the warmth skew; the steadier Python
    # loop anchors cross-host comparison.
    cal_start = _calibrate_host(spark)

    # three passes, report the per-query minimum: absorbs first-touch
    # effects and transient host noise so the number tracks the engine
    # (n=2 left q3 a 1.7x outlier in round 2 purely from sampling)
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            # count() forces every JOIN and AGGREGATION in the plan —
            # the round-over-round comparable number since round 1.
            # CAVEAT (found in round 12): on a MAP-ONLY query (pure
            # select + orderBy, e.g. html_extract_docs /
            # gopher_quality_docs) Catalyst's column pruning removes
            # the unused projection under count(1), so this measures
            # the scan, not the expressions; `queries_forced` below is
            # the honest number for those rows
            queries[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 4)

    # forced-compute track (round 12+): a noop-sink write materializes
    # EVERY output column, so map-only projections and final
    # presentation sorts are measured too. Kept as a separate dict so
    # `queries` stays methodology-comparable with rounds 1-11. MIN OF
    # TWO passes: the first noop execution of a heavy expression tree
    # pays its codegen compile (measured +4.7 s on the nine-rule
    # gopher cascade), so a single pass conflates compile with run;
    # two passes bound the driver's bench wall while the min reports
    # the warm number. The min-of-3 count() track remains the
    # round-over-round comparable.
    forced: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if name not in forced or dt < forced[name]:
                forced[name] = round(dt, 4)

    cal_end = _calibrate_host(spark)
    out = headline_totals(timings, forced, cal_start, cal_end, sf)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_FULL.json"),
            "w",
        ) as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still complete
    print(json.dumps(out))


if __name__ == "__main__":
    main()
