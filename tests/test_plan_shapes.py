"""Physical-plan regression tests.

Correctness tests prove the WHAT; these pin the HOW — the plan shapes
that matter at 100 TB. If a dim join stops broadcasting, a filter stops
reaching the parquet scan, a top-k becomes a full sort, or an LSH join
degenerates into a cartesian product, these fail even though results
stay correct at test scale.
"""

from __future__ import annotations

import pytest

from tinyerp_etl_spark.plans.registry import all_queries

QUERIES = all_queries()


def plan_of(df, mode: str = "formatted") -> str:
    """The explain string Spark would print for ``df.explain(mode)``."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def subtree(plan: str, node: str) -> list[str]:
    """The lines of the first ``node`` in a simple-mode plan tree and of
    every operator below it."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        col = line.find(node)
        if col < 0 or line[:col].strip(" :+-"):
            continue
        out = [line]
        for below in lines[i + 1 :]:
            if len(below) - len(below.lstrip(" :+-")) <= col:
                break
            out.append(below)
        return out
    raise AssertionError(f"no {node} in plan:\n{plan}")


def test_q1_pushes_shipdate_filter_to_scan(spark, sf_dir):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]


def test_q1_prunes_unused_columns(spark, sf_dir):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    # lineitem has 11 columns; q1 reads 7 — the scan schema must not
    # carry the join keys it doesn't use
    scan_schema = plan.split("ReadSchema")[1].split("\n")[0]
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in scan_schema, f"scan reads unused column {unused}"


def test_q1_uses_two_phase_aggregation(spark, sf_dir):
    # partial (map-side) + final HashAggregate — the shape that collapses
    # 100 TB to n_groups rows before the shuffle
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # codegen stages are the starred operators in simple mode, and only
    # materialize in the AQE final plan — collect() (not count(), which
    # executes a different query) finalizes THIS df's plan
    df.collect()
    final = plan_of(df, "simple")
    assert "isFinalPlan=true" in final
    assert "*(" in final


def test_q5_broadcasts_dimension_tables(spark, sf_dir):
    plan = plan_of(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    # region + nation are explicit broadcast()s — at least 2 BHJs
    assert plan.count("BroadcastHashJoin") >= 2


def test_left_enrich_is_a_broadcast_join(spark, sf_dir):
    plan = plan_of(QUERIES["join_left_enrich"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    plan = plan_of(QUERIES["topk_expensive_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q3_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    ["minhash_lsh_neardup_pairs", "embedding_neardup_pairs"],
)
def test_neardup_joins_are_not_cartesian(spark, sf_dir, name):
    # the entire point of LSH: candidate generation is an equi-join on
    # the bucket key, never an all-pairs product
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_semi_join_stays_semi(spark, sf_dir):
    # EXISTS must not decay into inner-join + dedupe
    plan = plan_of(QUERIES["exists_returned_orders"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_stays_anti(spark, sf_dir):
    plan = plan_of(QUERIES["join_anti_orphan_audit"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_store_commit_controls_file_count(spark, sf_dir, tmp_path):
    """n_files bounds the output file count (small-files control)."""
    import glob

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    store = TableStore(spark, str(tmp_path / "ev"), TABLES["events"])
    ev = load_table(spark, sf_dir, "events").repartition(16)
    store.commit(ev, n_files=2)
    files = glob.glob(str(tmp_path / "ev" / "v*" / "*.parquet"))
    assert len(files) == 2
    assert store.read().count() == ev.count()


def test_partitioned_store_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must show up as a
    PartitionFilter (directory pruning), not a data filter."""
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.sources.catalog import TABLES, load_table

    store = TableStore(
        spark, str(tmp_path / "ev"), TABLES["events"], partition_by=["event_type"]
    )
    store.commit(load_table(spark, sf_dir, "events"))
    df = store.read().filter("event_type = 'click'")
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "event_type" in pf
    # and the reader sees only the one partition's rows
    assert df.count() == (
        load_table(spark, sf_dir, "events").filter("event_type = 'click'").count()
    )


def test_asof_join_plan_contains_no_join(spark, sf_dir):
    """The union+window as-of composition must not degenerate into any
    physical join — that's the entire point of the pattern (a naive
    formulation would shuffle the probe×reference product)."""
    plan = plan_of(QUERIES["asof_purchase_to_view"](spark, sf_dir), "simple")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, f"as-of plan contains {join_op}"
    assert "Window" in plan


def test_range_join_stays_equi(spark, sf_dir):
    """The bucket prejoin must keep the range join an equi-join — a
    theta-join shape (nested-loop / cartesian) means the bucketing
    broke and the plan is O(n^2) at scale."""
    plan = plan_of(QUERIES["range_join_event_bursts"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_scalar_subquery_join_is_broadcast(spark, sf_dir):
    # the 1-row global-average side must broadcast, not shuffle customer
    plan = plan_of(QUERIES["scalar_subquery_rich_idle_customers"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q7_broadcasts_pruned_dims(spark, sf_dir):
    """The nation-pair filter must prune supplier/customer through
    broadcast joins — no fact-sized shuffle for any dim lookup."""
    plan = plan_of(QUERIES["q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    # the n_name IN (...) predicate reaches the nation parquet scan
    pushed = plan.split("PushedFilters")
    assert any("n_name" in seg.split("\n")[0] for seg in pushed[1:])


def test_q8_share_is_single_aggregate_pass(spark, sf_dir):
    """Numerator CASE and denominator ride one aggregate — a second
    scan/self-join of lineitem would double the 100 TB read."""
    df = QUERIES["q8_market_share"](spark, sf_dir)
    plan = plan_of(df, "simple")
    assert plan.count("FileScan parquet") <= 8  # each table scanned once
    assert plan.count("BroadcastHashJoin") >= 3


def test_q10_q18_topk_avoid_global_sort(spark, sf_dir):
    for name in ("q10_returned_items", "q18_large_volume_customers"):
        plan = plan_of(QUERIES[name](spark, sf_dir), "simple")
        assert "TakeOrderedAndProject" in plan, f"{name} does a full sort"


def test_q18_preaggregates_lineitem_before_join(spark, sf_dir):
    # the HAVING pre-agg must partial-aggregate map-side before its shuffle
    plan = plan_of(QUERIES["q18_large_volume_customers"](spark, sf_dir))
    assert "partial_sum" in plan


def test_q19_pushes_brand_filter_to_part_scan(spark, sf_dir):
    plan = plan_of(QUERIES["q19_discount_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters")
    assert any("p_brand" in seg.split("\n")[0] for seg in pushed[1:])
    assert "BroadcastHashJoin" in plan


def test_q4_semi_join_is_hashed_not_nested_loop(spark, sf_dir):
    """The EXISTS has an equi-pair (orderkey) plus a non-equi residual;
    Spark must plan it as a hashed/sorted semi join with the residual as
    the join condition — a BroadcastNestedLoopJoin would be O(n*m) on
    a 100 TB fact."""
    plan = plan_of(QUERIES["q4_priority_late_ship"](spark, sf_dir), "simple")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_broadcasts_all_dims(spark, sf_dir):
    """part/supplier/nation ride broadcasts; the only shuffle join is
    lineitem-orders on orderkey."""
    plan = plan_of(QUERIES["q9_product_type_profit"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    pushed = plan_of(QUERIES["q9_product_type_profit"](spark, sf_dir))
    segs = pushed.split("PushedFilters")
    assert any("p_name" in seg.split("\n")[0] for seg in segs[1:])


def test_q21_scans_lineitem_once(spark, sf_dir):
    """The EXISTS + NOT-EXISTS reformulation must not self-join the
    fact: exactly one lineitem scan in the plan (the classic plan has
    three)."""
    plan = plan_of(QUERIES["q21_sole_late_shippers"](spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") == 1
    # the pair-collapse formulation must not Expand the joined fact
    # (two distinct-aggs in one groupBy would)
    assert "Expand" not in plan


def test_q2_window_is_partitioned_and_dims_broadcast(spark, sf_dir):
    """The groupwise-min window partitions on the part key (never a
    global-order window) and supplier/nation ride broadcasts; the part
    filter reaches the parquet scan."""
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    segs = plan.split("PushedFilters")
    assert any("p_type" in seg.split("\n")[0] for seg in segs[1:])
    # window over l_partkey, not an empty partition spec
    assert "windowspecdefinition(l_partkey" in plan


def test_q14_month_filter_reaches_scan(spark, sf_dir):
    """September prunes the fact at the parquet scan; part is
    broadcast; one aggregate pass (no joins beyond the broadcast)."""
    plan = plan_of(QUERIES["q14_promo_revenue"](spark, sf_dir))
    segs = plan.split("PushedFilters")
    assert any("l_shipdate" in seg.split("\n")[0] for seg in segs[1:])
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q17_scans_lineitem_at_most_twice_no_fact_shuffle_join(spark, sf_dir):
    """The decorrelated per-part AVG joins back via broadcast (per_part
    is bounded by one brand's parts) — no sort-merge join of the fact
    against itself."""
    plan = plan_of(QUERIES["q17_small_quantity_revenue"](spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    segs = plan_of(QUERIES["q17_small_quantity_revenue"](spark, sf_dir)).split(
        "PushedFilters"
    )
    assert any("p_brand" in seg.split("\n")[0] for seg in segs[1:])


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """The balance floor rides a 1-row broadcast; the dormancy check is
    a LeftAnti join on the customer key; the date bound reaches the
    orders scan."""
    plan = plan_of(QUERIES["q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    segs = plan.split("PushedFilters")
    assert any("o_orderdate" in seg.split("\n")[0] for seg in segs[1:])


def test_q11_total_is_broadcast_back(spark, sf_dir):
    """The grand-total scalar rides a broadcast, not a shuffle."""
    plan = plan_of(QUERIES["q11_important_parts"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_grouping_sets_is_single_expand_pass(spark, sf_dir):
    """GROUPING SETS expands in one scan — not one scan per set."""
    plan = plan_of(QUERIES["grouping_sets_revenue"](spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" in plan


def test_hll_estimate_is_partition_invariant_and_bounded(spark, sf_dir):
    """The HLL sketch must merge commutatively (same estimate at any
    partitioning) and sit within 5% of the exact count."""
    rows = QUERIES["hll_distinct_users"](spark, sf_dir).collect()
    assert rows, "no groups"
    for r in rows:
        assert r.within_bound, r
        assert r.exact_users > 0, r
    from tinyerp_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.repartition(17)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e"))
        .collect()
    )
    b = (
        ev.coalesce(1)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e"))
        .collect()
    )
    assert sorted((r.event_type, r.e) for r in a) == sorted((r.event_type, r.e) for r in b)


def test_heavy_hitters_candidates_have_no_exchange_and_verify_broadcasts(
    spark, sf_dir
):
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.operators.sketch import (
        heavy_hitter_candidates,
        heavy_hitters,
    )
    from tinyerp_etl_spark.operators.text import tokens
    from tinyerp_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    # phase 1 runs where the data lies: no shuffle before the python stage
    cand_plan = plan_of(heavy_hitter_candidates(toks, "token", 0.01, cap=800))
    python_stage = cand_plan.find("MapInPandas")
    assert python_stage != -1
    assert "Exchange" not in cand_plan[:python_stage]
    # phase 2 semi-joins the tiny candidate set via broadcast, so only
    # candidate-carrying rows reach the exact-count shuffle
    plan = plan_of(heavy_hitters(toks, "token", 0.01))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_copurchase_self_join_stays_equi(spark, sf_dir):
    # the pair inequality must ride as a residual condition on the
    # order-key equi join, never degenerate to a nested-loop product
    plan = plan_of(all_queries()["copurchase_part_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )


@pytest.mark.parametrize(
    "name",
    [
        "window_moving_avg_daily_revenue",
        "anomaly_zscore_daily_revenue",
        "gapfill_daily_revenue",
    ],
)
def test_day_spine_windows_are_partitioned(spark, sf_dir, name):
    # the day-spine series queries must never funnel the whole series
    # through a single-partition WindowExec: every window spec in the
    # plan carries a partition key (year stitching / segmented ffill)
    plan = plan_of(QUERIES[name](spark, sf_dir), mode="extended")
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            # a partitionless spec renders with the order column first:
            # windowspecdefinition(<col> ASC ... — a partitioned one
            # leads with the partition expressions before the sort spec
            inner = line.split("windowspecdefinition(", 1)[1]
            first_arg = inner.split(",", 1)[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, line


def test_year_stitch_equals_global_window(spark):
    # overlap replication must reproduce the global-window result
    # exactly, including across year boundaries and on sparse series
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tinyerp_etl_spark.plans.relational import _year_stitched

    days = [
        datetime.date(2022, 12, 20 + i) for i in range(12)
    ] + [datetime.date(2023, 1, 1 + i) for i in range(10)]
    daily = spark.createDataFrame(
        [(d, float(i)) for i, d in enumerate(days)], "day date, v double"
    )
    wg = Window.orderBy("day").rowsBetween(-6, 0)
    want = {
        (r["day"], r["s"])
        for r in daily.select("day", F.sum("v").over(wg).alias("s")).collect()
    }
    wp = Window.partitionBy("part_year").orderBy("day").rowsBetween(-6, 0)
    got = {
        (r["day"], r["s"])
        for r in _year_stitched(daily, "day", n_ctx=6)
        .select("day", "is_ctx", F.sum("v").over(wp).alias("s"))
        .filter(~F.col("is_ctx"))
        .collect()
    }
    assert got == want


def test_year_stitch_sparse_and_thin_years(spark):
    # years absent from the series and years holding fewer than n_ctx
    # rows must still stitch exactly: thin years merge forward into the
    # next present year and context routes to the next present group
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tinyerp_etl_spark.plans.relational import _year_stitched

    days = (
        [datetime.date(2019, 6, 1 + i) for i in range(9)]  # closeable year
        + [datetime.date(2020, 12, 29 + i) for i in range(3)]  # thin year
        # 2021 entirely absent
        + [datetime.date(2022, 1, 1 + i) for i in range(8)]
        + [datetime.date(2024, 3, 1 + i) for i in range(2)]  # thin tail
    )
    daily = spark.createDataFrame(
        [(d, float(i)) for i, d in enumerate(days)], "day date, v double"
    )
    wg = Window.orderBy("day").rowsBetween(-6, 0)
    want = {
        (r["day"], r["s"])
        for r in daily.select("day", F.sum("v").over(wg).alias("s")).collect()
    }
    wp = Window.partitionBy("part_year").orderBy("day").rowsBetween(-6, 0)
    stitched = _year_stitched(daily, "day", n_ctx=6)
    got = {
        (r["day"], r["s"])
        for r in stitched.select("day", "is_ctx", F.sum("v").over(wp).alias("s"))
        .filter(~F.col("is_ctx"))
        .collect()
    }
    assert got == want
    # the thin 2020 must share a partition with 2022 (no unsafe boundary)
    grp = {
        r["y"]: r["g"]
        for r in stitched.filter(~F.col("is_ctx"))
        .select(F.year("day").alias("y"), F.col("part_year").alias("g"))
        .distinct()
        .collect()
    }
    assert grp[2020] == grp[2022]
    assert grp[2019] < grp[2020]


def test_jaccard_verify_join_never_broadcasts_shingles(spark, sf_dir):
    # the persisted shingle table carries one array per doc: its
    # compressed size estimate can fit the autoBroadcastJoinThreshold
    # while the deserialized arrays OOM the driver (hit at a 10x-docs
    # probe). The verify join must stay a shuffle join.
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.operators.dedup import lsh_neardup_verified
    from tinyerp_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(lsh_neardup_verified(docs, threshold=0.5))
    # the two __sh-carrying joins: neither side may be a broadcast build
    for line in plan.splitlines():
        if "Join" in line and "__sh" in line:
            assert "Broadcast" not in line, line


def test_embedding_bucket_join_never_broadcasts_vectors(spark, sf_dir):
    # same OOM class as the shingle join: both sides of the LSH bucket
    # join carry the full vector arrays — must stay a shuffle join
    plan = plan_of(QUERIES["embedding_neardup_pairs"](spark, sf_dir))
    for line in plan.splitlines():
        if "Join" in line and "vec" in line:
            assert "Broadcast" not in line, line


def test_prefix_sum_has_no_global_window(spark, sf_dir):
    # the packing manifest's token offsets must come from the
    # two-phase bucketed scan, never a single-partition global window
    plan = plan_of(QUERIES["sequence_packing_manifest"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-bucket cumsum window


def test_mixture_resample_is_one_broadcast_join(spark, sf_dir):
    # the corpus-side plan must join the 5-row threshold dim by
    # broadcast; no shuffle of documents for the join itself
    plan = plan_of(QUERIES["domain_mixture_resample"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_shard_manifest_has_no_global_sort_before_output(spark, sf_dir):
    # positions are ranked within shards (16-way parallel window) —
    # the linter's unpartitioned-window check must come back clean
    # (a previous hand-rolled string assert here was vacuous)
    from tinyerp_etl_spark.operators.planlint import plan_findings

    df = QUERIES["training_shard_manifest"](spark, sf_dir)
    assert plan_findings(df) == []
    assert "Window" in plan_of(df)


def test_surprisal_counts_ride_the_token_shuffle(spark, sf_dir):
    # token frequency must come from a window over the token shuffle
    # (tfidf pattern), not a second join of a counts aggregate
    plan = plan_of(QUERIES["unigram_surprisal_filter"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_ivf_list_partitioned_store_prunes(spark, sf_dir, tmp_path):
    """The semantic-dedup / IVF scale claim made concrete: persist the
    corpus partitioned by its centroid assignment (list_id) and a
    probe of one list is a PartitionFilter directory prune — the
    'assignment is the partition column' story, pinned on a plan."""
    from pyspark.sql.types import StructType

    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.operators.similarity import ivf_assign
    from tinyerp_etl_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = ivf_assign(emb)
    schema = StructType.fromDDL(
        "vec_id bigint, embedding array<float>, list_id bigint"
    )
    store = TableStore(
        spark, str(tmp_path / "ivf"), schema, partition_by=["list_id"]
    )
    store.commit(assigned)

    df = store.read().filter("list_id = 3")
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "list_id" in pf
    # and the probe really is the one list
    lists = {r["list_id"] for r in df.select("list_id").distinct().collect()}
    assert lists <= {3}


def test_merge_upsert_broadcasts_raw_page_keys(spark, tmp_path):
    """The MERGE's anti-join takes its keys straight from the page scan:
    the broadcast side holds no window and no shuffle, and the plan's one
    shuffle is the page's keep-latest dedup."""
    import re

    from pyspark.sql import functions as F

    from tinyerp_etl_spark.etl.merge import merge_upsert

    spark.range(1000).selectExpr("id AS k", "id AS v", "0L AS ver").write.parquet(
        str(tmp_path / "existing")
    )
    spark.range(0, 2000, 7).selectExpr("id AS k", "id + 1 AS v", "1L AS ver").write.json(
        str(tmp_path / "page")
    )
    existing = spark.read.parquet(str(tmp_path / "existing"))
    page = spark.read.schema("k long, v long, ver long").json(str(tmp_path / "page"))
    plan = plan_of(merge_upsert(existing, page, ["k"], [F.col("ver").desc()]), "simple")
    below = subtree(plan, "BroadcastExchange")[1:]
    assert not [line for line in below if re.search("Window|Exchange", line)], plan
    assert any("FileScan json" in line for line in below), plan
    assert len(re.findall(r"^[ :+-]*Exchange hashpartitioning", plan, re.M)) == 1, plan
