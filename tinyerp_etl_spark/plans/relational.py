"""Relational core: scan/filter/project/join/agg/window/sort/set-ops.

The reference's schema is a dimensional model built "para posterior
análise" (ref README.md:3) — these queries are the analytics layer that
schema exists to serve, exercised on the driver's TPC-H-ish tables.
Every query here is paired with an ANSI-SQL oracle (same name, same
column aliases) in ``ORACLES``.

Scale notes (100 TB design):
- fact-fact joins (orders⋈lineitem) shuffle on the join key — that's
  the right plan; AQE handles skew;
- dim joins (region/nation/part-sized) are explicitly ``broadcast()``
  so no fact shuffle happens for them;
- aggregates use integer-cents math (functions.exact) so results are
  partition-order-invariant — reproducibility at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from tinyerp_etl_spark.functions.materialize import materialize
from tinyerp_etl_spark.functions.exact import (
    avg_from_cents,
    cents,
    sum_cents,
    sum_exact,
)
from tinyerp_etl_spark.sources.catalog import load_table
from tinyerp_etl_spark.functions.localdf import local_df

# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy → 8 aggregates.

    Flagship query (SURVEY.md §7 Phase 0). Map-side partial aggregation
    collapses 100 TB of lineitem to 6 groups before the shuffle; the
    scan reads only 7 of 11 columns (column pruning) with the shipdate
    predicate pushed to parquet.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price_cents = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    charge_e6 = disc_price_cents * (100 + F.round(F.col("l_tax") * 100).cast("long"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            sum_cents("l_extendedprice").alias("sum_base_price"),
            (sum_exact(disc_price_cents) / F.lit(1e4)).cast("double").alias("sum_disc_price"),
            (sum_exact(charge_e6) / F.lit(1e6)).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).cast("double").alias("avg_qty"),
            avg_from_cents("l_extendedprice").alias("avg_price"),
            avg_from_cents("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + multi-agg per group (partial-agg friendly)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            sum_cents("o_totalprice").alias("sum_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("o_orderstatus")
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
            "gid",
        )
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_cents("o_totalprice").alias("sum_price"),
            F.grouping_id("o_orderstatus", "o_orderpriority").alias("gid"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
            "gid",
        )
    )


def audit_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count reconciliation across tables.

    Mirrors the reference's final COUNT(*) audit loop over all its
    tables (ref tiny_api_v2_cliente.py:395-401).
    """
    rows = []
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        df = load_table(spark, sf_dir, name)
        rows.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(name).alias("table_name"), "n_rows"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name")


def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of orders in ONE scan.

    Extends the reference's COUNT(*)-only audit (ref
    tiny_api_v2_cliente.py:395-401) to the per-column stats a
    dashboard-serving warehouse actually monitors: null counts,
    distinct counts, value ranges. operators/profile.py stacks the
    columns in one projection and pair-collapses before the shuffle —
    no per-column scans, no mixed-distinct Expand; values travel in
    canonical integer form (cents / epoch) so the oracle is exact.
    """
    from tinyerp_etl_spark.operators.profile import profile_columns

    # a scan fan-out was measured here (noop 1.79 → 1.55 s at sf0.1)
    # and REVERTED: under count(1) the profiler's aggregate functions
    # prune away, so the added exchange was a pure count-track cost
    # (bench 0.60 → 1.10 s) for a forced-track saving that is a no-op
    # at real scale anyway — optimization round 14
    o = load_table(spark, sf_dir, "orders")
    return profile_columns(
        o,
        numeric_cols={
            "o_orderkey": F.col("o_orderkey").cast("long"),
            "o_custkey": F.col("o_custkey").cast("long"),
            "o_totalprice_cents": cents("o_totalprice"),
            "o_orderdate_epoch": F.unix_timestamp("o_orderdate"),
        },
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join, group, top-10 by revenue.

    customer is filtered before the join (predicate pushdown), the
    orders⋈lineitem join shuffles on orderkey; top-k is a TakeOrdered —
    no full sort at scale.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join incl. a same-nation predicate.

    region/nation are broadcast (no shuffle); the co-located
    customer-supplier nation equality is expressed as a join predicate
    so Catalyst evaluates it during the supplier join.
    """
    region = broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nation = broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def join_left_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left broadcast-join enrichment: lineitem ⟕ part (name lookup).

    Mirrors the reference's denormalizing name-lookup join — stock rows
    carry the product name (nome_produto_estoque, ref
    tiny_api_v2_cliente.py:86; README.md:9 'com nome do produto').
    Aggregated per brand to keep the result hash-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    return (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("p_brand").asc_nulls_first())
    )


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers that have ≥1 order (FK 'children exist').

    The semi-join is the engine-level equivalent of the reference's FK
    integrity wiring (ref tiny_api_v2_cliente.py:83-89): keep rows with
    a matching parent/child without duplicating them.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def join_anti_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI orphan audit: customers with zero orders.

    The anti-join audit replaces the DB-enforced FK constraints the
    reference leans on (ref tiny_api_v2_cliente.py:83-89) — Spark
    doesn't enforce FKs, so integrity is checked, not declared.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .orderBy("c_mktsegment")
    )


def join_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nation-level customer vs supplier account sums."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy("c_nationkey").agg(sum_cents("c_acctbal").alias("cust_bal"))
    s = supp.groupBy("s_nationkey").agg(sum_cents("s_acctbal").alias("supp_bal"))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .select(
            F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
            F.col("cust_bal"),
            F.col("supp_bal"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# subqueries (decorrelated Spark-first: EXISTS → semi-join, correlated
# scalar → agg-then-join, uncorrelated scalar → broadcast 1-row join)
# --------------------------------------------------------------------------


def exists_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS subquery → left-semi join, then count.

    Orders in 1996H1 having ≥1 returned lineitem (returnflag 'R'). The
    EXISTS is decorrelated into a semi-join (what Catalyst's
    RewritePredicateSubquery does to the SQL form) so the probe side
    never duplicates order rows.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def subquery_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated scalar subquery, decorrelated.

    Revenue from lineitems whose quantity is below 50% of the average
    quantity for their part. The correlated AVG becomes a per-part
    aggregate joined back on partkey — one shuffle instead of a
    per-row subquery; the part-brand filter prunes before the join.
    The per-part average uses integer-quantity sums so both engines
    compute the identical double.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("long")) / F.count(F.lit(1))
        ).alias("part_avg_qty")
    )
    return (
        li.join(broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg_qty"))
        .agg(
            sum_cents("l_extendedprice").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def scalar_subquery_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: scalar subquery + anti-join, per nation.

    Customers with above-average positive balance and zero orders,
    grouped by nation. The global AVG is a 1-row broadcast join
    (Catalyst folds it the same way for the SQL form); the "no orders"
    predicate is a left-anti join. Averages are computed cents-exact so
    the threshold is bit-identical in both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    positive = cust.filter(F.col("c_acctbal") > 0.0)
    global_avg = positive.agg(
        (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / (100.0 * F.count(F.lit(1))))
        .cast("double")
        .alias("avg_bal")
    )
    return (
        cust.join(broadcast(global_avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            sum_cents("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def conditional_agg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style conditional aggregation (CASE inside SUM).

    Per return flag: high- vs low-priority line counts for 1996
    shipments. The priority split is a map-side CASE — one pass, one
    shuffle on the (tiny-cardinality) group key, no extra join beyond
    the fact-fact orderkey join.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: LIKE-predicate share of revenue, one row.

    Percent of one month's revenue from promo parts. Both the
    numerator and denominator are exact integer sums; the single final
    division is the only floating-point op, so the ratio is
    bit-identical across engines and partitionings. part joins as a
    broadcast (dim-sized).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    is_promo = F.col("p_type").like("PROMO%")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                100.0
                * sum_exact(F.when(is_promo, rev_cents).otherwise(F.lit(0).cast("long")))
                / sum_exact(rev_cents)
            )
            .cast("double")
            .alias("promo_revenue_pct"),
            (sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("total_revenue"),
        )
    )


def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style revenue-change forecast — via the SQL API.

    The engine's second query surface: `spark.sql` over the registered
    views (sources.catalog.register_views). Same Catalyst plan as the
    DataFrame form — one scan with three pushed range predicates and a
    two-phase agg; no join. Cents-exact like everything else.
    """
    from tinyerp_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                   * CAST(round(l_discount*100) AS BIGINT)) / 1e4 AS DOUBLE)
            AS revenue,
          count(*) AS n_lineitems
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-bucketed revenue trend with HAVING (date_trunc rollup).

    The hypertable-style time rollup: truncate to month, aggregate
    cents-exact, keep only months with ≥ 10 orders. At scale this is
    the query a date-partitioned fact table answers with partition
    pruning; the month key is derived map-side so the shuffle carries
    only (month, partial-sums).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_cents("o_totalprice").alias("revenue"),
            avg_from_cents("o_totalprice").alias("avg_order_value"),
        )
        .filter(F.col("n_orders") >= 10)
        .orderBy("order_month")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: nation-pair trade volume per ship year.

    The nation filter is applied to the two dims *before* they reach
    the fact joins, so customer and supplier are pruned to 2/25 of
    their rows ahead of the orderkey shuffle; both nation lookups are
    broadcasts. The cross-pair predicate (one direction or the other)
    rides on the already-joined names — tiny-cardinality columns.
    """
    pair = ("NATION_18", "NATION_19")
    n1 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(n1), F.col("s_nationkey") == n1.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(broadcast(n1), F.col("c_nationkey") == n1.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: one nation's share of a region's part market.

    Share per order year of ECONOMY-part revenue delivered into ASIA
    that came from NATION_5 suppliers. The numerator CASE rides the
    same aggregate pass as the denominator (no second scan, no self
    join); part/nation/region/supplier are all broadcast dims, so the
    only shuffles are the two fact joins and the final 3-group agg.
    """
    part = broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = broadcast(
        nation.join(broadcast(region), nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey"
        )
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(asia_nations, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("c_custkey")
    )
    supp = broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    target = F.when(F.col("supp_nation") == "NATION_5", rev_cents).otherwise(
        F.lit(0).cast("long")
    )
    return (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (1.0 * sum_exact(target) / sum_exact(rev_cents))
            .cast("double")
            .alias("mkt_share"),
            (sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top-20 customers by returned revenue.

    Orders are date-pruned before the fact-fact join; the returnflag
    filter prunes lineitem map-side; nation is a broadcast. Top-k is
    TakeOrdered over the grouped result — no global sort at scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = broadcast(load_table(spark, sf_dir, "nation"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: distribution of orders-per-customer.

    Two chained aggregations: orders per customer (left outer join so
    zero-order customers count), then a histogram over those counts.
    The second agg's input is customer-sized — the big shuffle happens
    once, on custkey; the histogram shuffle moves almost nothing.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the maximum quarterly revenue.

    The groupwise-max idiom: aggregate once, take the scalar max of
    the (exact integer) revenue, broadcast the 1-row max back against
    the aggregate. Integer-cents equality makes the max-match exact —
    the float-equality hazard the TPC-H spec warns about is gone.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    revenue = li.groupBy("l_suppkey").agg(sum_exact(rev_cents).alias("rev_e4"))
    max_rev = revenue.agg(F.max("rev_e4").alias("max_e4"))
    return (
        revenue.join(broadcast(max_rev), F.col("rev_e4") == F.col("max_e4"))
        .join(broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_e4") / F.lit(1e4)).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: customers behind the largest orders.

    The HAVING-subquery becomes a pre-aggregation on the fact table
    (map-side combine collapses lineitem to one row per order before
    the shuffle); only qualifying orderkeys — a tiny set — flow into
    the orders/customer joins. Quantities are integral, so the double
    SUM is exact and the threshold compare is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 170)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q19_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunctive multi-band predicate revenue.

    Three (brand, size-band, quantity-band) disjuncts evaluated after
    a broadcast part join. The common subparts (brand membership) are
    pushed into the part dim before broadcast so the join only carries
    candidate parts; the OR-of-ANDs runs map-side on the joined rows.
    """
    brands = ("Brand#12", "Brand#23", "Brand#34")
    part = broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*brands))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            (sum_exact(rev_cents) / F.lit(1e4)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def groupwise_min_cheapest_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-flavor groupwise-min: cheapest part(s) per type.

    (The reference dataset has no partsupp table, so the Q2 shape —
    min over a group, joined back to recover the full qualifying rows,
    ties included — runs on part retail prices.) The per-type min is a
    tiny aggregate broadcast back against the dim; equality on the
    parquet-identical double is exact.
    """
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy(F.col("p_type").alias("t")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            broadcast(mins),
            (part.p_type == F.col("t")) & (part.p_retailprice == F.col("min_price")),
        )
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_type", "p_partkey")
    )


# --------------------------------------------------------------------------
# windows
# --------------------------------------------------------------------------


def window_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() keep-latest-per-key — the upsert dedupe window.

    This is the one window the reference semantically requires: MERGE
    keep-latest by PK (ref ON CONFLICT DO UPDATE,
    tiny_api_v2_cliente.py:122-123) expressed relationally.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    )


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running SUM per customer ordered by date (cents-exact).

    Mirrors the reference's running counter accumulation
    (registros_processados +=, ref tiny_api_v2_cliente.py:208).
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    price_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.sum(price_cents).over(w) / F.lit(100.0)).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def window_rank_price_in_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/lag in one pass over a single window spec."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("price_rank"),
            F.dense_rank().over(w).alias("price_dense_rank"),
            F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        )
        .filter(F.col("price_rank") <= 5)
        .orderBy("o_orderstatus", "price_rank", "o_orderkey")
    )


def quantiles_order_value_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median + p90 of order value per status.

    Quantile indexes are pure integer arithmetic (ceil(q·n) as
    (q_num·n + q_den − 1) div q_den) over a deterministic total order
    (price, orderkey) — so unlike interpolated percentile_cont, the
    result is bit-identical across engines. One shuffle on the group
    key; the rank and the group size come from the same window pass.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    median_idx = F.expr("(n + 1) div 2")  # lower median, ceil(n/2)
    p90_idx = F.expr("(9 * n + 9) div 10")  # ceil(0.9 * n)
    return (
        ranked.groupBy("o_orderstatus")
        .agg(
            F.max(F.when(F.col("rn") == median_idx, F.col("o_totalprice"))).alias(
                "median_price"
            ),
            F.max(F.when(F.col("rn") == p90_idx, F.col("o_totalprice"))).alias(
                "p90_price"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


def _year_stitched(daily: DataFrame, date_col: str, n_ctx: int) -> DataFrame:
    """Year-partition a day-grain series for a trailing-rows window.

    A global ``Window.orderBy(day)`` serializes the whole series
    through ONE task — bounded by calendar length, but still a
    single-partition WindowExec. Overlap replication removes it: each
    row lands in its own year's partition, and each year's last
    ``n_ctx`` rows are replicated into the NEXT year's partition as
    context (``is_ctx`` true), so a ``partitionBy("part_year")``
    trailing frame of up to ``n_ctx`` preceding rows sees exactly what
    the global window would. Callers filter ``is_ctx`` out after the
    window and must use a frame no wider than ``n_ctx`` preceding rows.

    Sparse series need no precondition: partition groups are derived
    from the years actually PRESENT. A boundary closes after year Y
    only when Y itself holds >= ``n_ctx`` rows (so the next group's
    trailing context lies entirely in Y); thinner years merge forward
    into the next present year, and context routes to the next present
    group — absent calendar years and thin years both stitch exactly.

    The day-grain series is calendar-bounded (<= 366 rows/year), so it
    is materialized up front (functions/materialize.py — localCheckpoint
    locally, .checkpoint() under the reliable switch): ONE pass of the fact
    aggregation materializes it, and the year->group control collect
    (<= one row per calendar year — same class as the IVF centroid
    collect), the own rows, and the context rows all read the
    materialized table. Measured alternatives: an in-plan join
    formulation ran 6 fact scans (column pruning defeats exchange
    reuse across branches); un-checkpointed, the control collect +
    two-branch union ran 3. On a cluster where executor loss matters,
    flip spark.graft.materialize.reliable to route this (and every
    other materialize site) to durable checkpoint storage.
    The group assignment is inlined as a literal map.
    tests/test_plan_shapes.py pins both the stitch equivalence (incl.
    sparse/thin-year series) and the no-single-partition-window shape.
    """
    daily = materialize(daily)
    y = F.year(F.col(date_col))
    # null dates (no year) are skipped here: they fall outside every
    # group map entry, element_at returns NULL, and the rows ride a
    # NULL partition exactly as the pre-rewrite formulation had them
    year_rows = sorted(
        (r["__y"], r["__cnt"])
        for r in daily.groupBy(y.alias("__y"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .collect()
        if r["__y"] is not None
    )
    grp_of: dict[int, int] = {}
    g = 0
    for yy, cnt in year_rows:
        grp_of[yy] = g
        if cnt >= n_ctx:
            g += 1
    if grp_of:
        mapping = F.create_map(*[F.lit(v) for kv in grp_of.items() for v in kv])
        part = F.element_at(mapping, y)
    else:
        part = F.lit(0)
    own = daily.withColumn("part_year", part).withColumn("is_ctx", F.lit(False))
    wdesc = Window.partitionBy("part_year").orderBy(F.col(date_col).desc())
    ctx = (
        own.withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= n_ctx)
        .drop("__rn")
        # the last group's overflow lands in a nonexistent group of
        # pure ctx rows — harmless, callers drop is_ctx after the
        # window (checking existence would cost another plan branch)
        .withColumn("part_year", F.col("part_year") + 1)
        .withColumn("is_ctx", F.lit(True))
    )
    return own.unionByName(ctx)


def window_moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average over daily revenue (explicit window frame).

    Two-level: exact daily sums first (tiny intermediate), then a
    ROWS BETWEEN 6 PRECEDING frame over the day series, year-
    partitioned via overlap replication (``_year_stitched``) so no
    stage funnels the whole series through one task. The moving
    average divides an exact integer window sum by the exact row
    count, so it is partition-order-invariant.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy("part_year").orderBy("day").rowsBetween(-6, 0)
    return (
        _year_stitched(daily, "day", n_ctx=6)
        .select(
            "day",
            "is_ctx",
            (F.col("rev_cents") / 100.0).cast("double").alias("revenue"),
            (F.sum("rev_cents").over(w) / (100.0 * F.count(F.lit(1)).over(w)))
            .cast("double")
            .alias("moving_avg_7d"),
        )
        .filter(~F.col("is_ctx"))
        .drop("is_ctx")
        .orderBy("day")
    )


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts, status × priority as columns.

    Spark's pivot with an explicit value list (never let it scan for
    distinct pivot values at 100 TB) — relationally just a conditional
    aggregation, which is exactly what the oracle spells out.
    """
    o = load_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .na.fill(0, statuses)
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


def unpivot_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-nation sums → long (nation, side, bal)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    wide = (
        cust.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(sum_cents("c_acctbal").alias("customer_bal"))
        .join(
            supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
                sum_cents("s_acctbal").alias("supplier_bal")
            ),
            "nationkey",
        )
    )
    return (
        wide.unpivot(
            "nationkey",
            ["customer_bal", "supplier_bal"],
            "side",
            "balance",
        )
        .orderBy("nationkey", "side")
    )


def setops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — multiset semantics preserved.

    Nation keys of customers vs suppliers WITH multiplicity: bag
    intersect keeps min(count_a, count_b) copies, bag except keeps
    count_a − count_b. Aggregated per key so the result hashes stably.
    """
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    inter = (
        cust_n.intersectAll(supp_n)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        cust_n.exceptAll(supp_n)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return inter.unionByName(exc).orderBy("op", "nationkey")


def anomaly_zscore_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over the daily-revenue series.

    Second moments via the exact-integer discipline: the series is
    quantized to $1000 units (integer division), rolling SUM and
    SUM-of-squares over a trailing 29-row frame stay small exact
    integers, and mean/variance/z derive through one fixed sequence of
    double ops — so even the z-score hash-matches across engines.
    Flags |z| > 2 with at least 7 days of history. The trailing frame
    runs year-partitioned via overlap replication (``_year_stitched``)
    — no single-task window stage; partition by entity as well for
    per-key monitoring at scale.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_date", F.to_date("o_orderdate")
    )
    daily = o.groupBy("order_date").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    daily = _year_stitched(daily, "order_date", n_ctx=29)
    w = Window.partitionBy("part_year").orderBy("order_date").rowsBetween(-29, -1)
    # Second moments must stay below 2^53: integer→double casts beyond
    # that round differently across engines (measured: decimal(38,0)
    # vs HUGEINT low-bit drift at sf0.1). So the series is quantized
    # to $1000 units by pure integer division first — then sum and
    # sum-of-squares are small exact integers and every subsequent
    # double op is identical everywhere. Supports ~$1.7B/day before
    # the unit needs widening.
    stats = (
        daily.select(
            F.col("order_date").cast("string").alias("order_date"),
            "part_year",
            "is_ctx",
            (F.col("rev_cents") / 100.0).cast("double").alias("revenue"),
            F.expr("(rev_cents + 50000) div 100000").alias("rev_k"),
        )
        .select(
            "order_date",
            "is_ctx",
            "revenue",
            "rev_k",
            F.count(F.lit(1)).over(w).alias("n_hist"),
            F.sum("rev_k").over(w).alias("hist_sum"),
            F.sum(F.col("rev_k") * F.col("rev_k")).over(w).alias("hist_sumsq"),
        )
        .filter(~F.col("is_ctx"))
    )
    mean = F.col("hist_sum").cast("double") / F.col("n_hist")
    var = F.col("hist_sumsq").cast("double") / F.col("n_hist") - mean * mean
    z = (F.col("rev_k").cast("double") - mean) / F.sqrt(
        F.greatest(var, F.lit(1e-9))
    )
    return (
        stats.filter(F.col("n_hist") >= 7)
        .select(
            "order_date",
            "revenue",
            "n_hist",
            z.cast("double").alias("zscore"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
        .orderBy("order_date")
    )


def gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: calendar spine + zero-fill + forward fill.

    Dashboard time series need every day present, including days with
    no orders. The spine is generated relationally (min/max bounds row
    → sequence → explode; no driver collect), left-joined to the daily
    aggregate, zero-filled for additive measures, and forward-filled
    (last non-null over the date order) for level measures. The final
    window runs over the spine — days, not rows — so its single
    partition is trivially small at any fact scale; partition by entity
    when gap-filling per-key series.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_date", F.to_date("o_orderdate")
    )
    daily = o.groupBy("order_date").agg(
        F.count(F.lit(1)).alias("n_orders"),
        sum_cents("o_totalprice").alias("revenue"),
    )
    spine = daily.agg(
        F.min("order_date").alias("dmin"), F.max("order_date").alias("dmax")
    ).select(F.explode(F.sequence("dmin", "dmax")).alias("order_date"))
    # Forward fill as a SEGMENTED scan — an unbounded-preceding global
    # window would serialize the spine through one task. Instead:
    # within-year ffill (year-partitioned window) + a per-year carry-in
    # (each year's last non-null value, joined to every LATER year via
    # a broadcast join over the tiny year table), coalesced.
    joined = spine.join(daily, "order_date", "left").withColumn(
        "part_year", F.year("order_date")
    )
    w_y = (
        Window.partitionBy("part_year")
        .orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.withColumn(
        "ffill_y", F.last("revenue", ignorenulls=True).over(w_y)
    )
    year_last = (
        joined.filter(F.col("revenue").isNotNull())
        .groupBy("part_year")
        .agg(F.max_by("revenue", "order_date").alias("year_last"))
    )
    years = joined.select("part_year").distinct()
    carry = (
        years.alias("y")
        .join(
            F.broadcast(year_last.alias("p")),
            F.col("p.part_year") < F.col("y.part_year"),
            "left",
        )
        .groupBy(F.col("y.part_year").alias("part_year"))
        .agg(F.max_by("p.year_last", "p.part_year").alias("carry_in"))
    )
    return (
        filled.join(F.broadcast(carry), "part_year", "left")
        .select(
            # string date: pandas-side canonicalization has no date
            # dtype, so a DATE column would compare as midnight ts
            F.col("order_date").cast("string").alias("order_date"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("ffill_y", "carry_in").alias("revenue_ffill"),
        )
        .orderBy("order_date")
    )


def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sample (the sampleBy analog).

    Different keep-rates per order status — 10% of 'O', 5% of 'F',
    every 'P' — via operators/sampling.py: a content-hash predicate
    with exact per-10000 integer thresholds, so the subsample is
    reproducible and auditable (rand()/sampleBy are neither).
    """
    from tinyerp_etl_spark.operators.sampling import stratified_sample

    o = load_table(spark, sf_dir, "orders")
    sampled = stratified_sample(
        o, "o_orderstatus", {"O": 0.10, "F": 0.05, "P": 1.0}, "o_orderkey"
    )
    return sampled.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")


def deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample via content hash (not TABLESAMPLE).

    TABLESAMPLE/rand() are nondeterministic across retries and engines;
    the scalable reproducible idiom is a hash-mod predicate on the key —
    stable under re-runs, pushable, and partition-prunable if the hash
    bucket is materialized. md5-prefix hash keeps both engines identical.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % 10
    return (
        o.filter(bucket == 0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            sum_cents("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


def window_navigation_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window family in one pass.

    lead/lag/first/last/ntile/percent_rank/cume_dist share one window
    spec — Spark evaluates them in a single Window operator (one sort,
    one pass), which is the shape to insist on at scale: each extra
    incompatible window spec is another full shuffle+sort.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
            F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
            F.first("o_orderkey").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("first_orderkey"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def datetime_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic family — the reference's timedelta set.

    The reference computes +1 s, +1 day, −29 d, −60 d offsets
    (ref tiny_api_v2_cliente.py:113,:152,:164,:180,:331) and formats/
    parses dd/MM/yyyy text; this query exercises the engine equivalents
    (date_add, interval arithmetic, date_trunc, datediff, last_day,
    extract-family, format) as map-side projections.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate")
    return (
        o.select(
            "o_orderkey",
            d.alias("orderdate"),
            (d + F.expr("INTERVAL 1 SECOND")).alias("plus_1s"),
            (d - F.expr("INTERVAL 60 DAYS")).alias("minus_60d"),
            F.date_add(d.cast("date"), 1).cast("timestamp").alias("next_day"),
            F.last_day(d).cast("timestamp").alias("month_end"),
            F.datediff(F.lit("2001-01-01").cast("date"), d.cast("date"))
            .cast("long")
            .alias("days_to_2001"),
            F.year(d).cast("long").alias("y"),
            F.quarter(d).cast("long").alias("q"),
            F.dayofweek(d).cast("long").alias("dow"),
            F.date_format(d, "dd/MM/yyyy").alias("br_text"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# sort / limit / set ops / scalar demos
# --------------------------------------------------------------------------


def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by price with a unique tiebreak (deterministic top-k)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def setops_customer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over nation-key sets.

    nations with customers ∪/∩/∖ nations with suppliers, tagged by op.
    """
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    union = cust_n.union(supp_n).distinct().withColumn("op", F.lit("union"))
    intersect = cust_n.intersect(supp_n).withColumn("op", F.lit("intersect"))
    except_ = cust_n.subtract(supp_n).withColumn("op", F.lit("except"))
    return union.unionByName(intersect).unionByName(except_).orderBy("op", "nationkey")


def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar pipeline on part + orders.

    Exercises the scalar surface the reference uses: substring/concat
    (masking, ref :230), trim/replace (ref :55), round (ref :211), date
    arithmetic (ref :113,:152) — as one projected query.
    """
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.concat(F.substring("p_name", 1, 5), F.lit("...")).alias("masked_name"),
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_type").alias("type_len"),
            F.round(F.col("p_retailprice")).alias("price_rounded"),
            (F.col("p_size") % 7).alias("size_mod7"),
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
        )
        .filter(F.col("p_size") > 25)
        .orderBy("p_partkey")
    )


def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function family: split/slice/sort/contains/join.

    All map-side projections over part names — the array surface the
    JSON input model needs (§1.3), exercised outside the embedding
    operators.
    """
    p = load_table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return (
        p.select(
            "p_partkey",
            F.array_size(toks).alias("n_words"),
            F.concat_ws("-", F.slice(toks, 1, 2)).alias("first_two"),
            F.concat_ws(",", F.sort_array(toks)).alias("sorted_words"),
            F.array_contains(toks, "green").cast("int").alias("has_green"),
            F.element_at(toks, -1).alias("last_word"),
        )
        .filter(F.col("p_partkey") % 25 == 0)
        .orderBy("p_partkey")
    )


def null_handling_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics end-to-end: NULLIF → null-safe equality → COALESCE.

    Demonstrates the exact null algebra aggregates depend on: count(col)
    skips nulls, count(*) doesn't; <=> (null-safe equality) treats
    NULL = NULL as true where ordinary equality yields NULL.
    """
    o = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    derived = o.select(
        "o_orderpriority",
        status_or_null.alias("s1"),
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("s2"),
    )
    return (
        derived.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("s1").alias("n_s1_not_null"),
            F.sum(F.col("s1").eqNullSafe(F.col("s2")).cast("int")).alias(
                "n_null_safe_eq"
            ),
            F.sum(F.coalesce(F.col("s1"), F.lit("O")).isNotNull().cast("int")).alias(
                "n_coalesced"
            ),
        )
        .orderBy("o_orderpriority")
    )


def coercion_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's coercion semantics, end-to-end on real columns.

    Builds comma-decimal strings and dd/MM/yyyy date-text from orders,
    then applies safe_double (0.0-default, ref :52-59) and the
    dd/MM/yyyy[ HH:mm:ss] fallback parse (ref :150-151) + the validity
    regex (ref :134) + NULLIF('') (ref :133). The oracle runs the same
    round-trip in SQL.
    """
    from tinyerp_etl_spark.functions.coerce import (
        br_timestamp,
        is_br_date,
        nullif_empty,
        safe_double,
    )

    o = load_table(spark, sf_dir, "orders")
    price_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    comma_price = F.concat(
        (price_cents / 100).cast("long").cast("string"),
        F.lit(","),
        F.lpad((price_cents % 100).cast("string"), 2, "0"),
    )
    staged = o.select(
        "o_orderkey",
        # comma-decimal money text; every 7th row corrupted, every 11th empty
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("not-a-number"))
        .when(F.col("o_orderkey") % 11 == 0, F.lit(""))
        .otherwise(comma_price)
        .alias("price_text"),
        # Brazilian date text; every 5th row date-only, every 13th invalid
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("31-12-2020"))
        .when(F.col("o_orderkey") % 5 == 0, F.date_format("o_orderdate", "dd/MM/yyyy"))
        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy HH:mm:ss"))
        .alias("date_text"),
    )
    return (
        staged.select(
            "o_orderkey",
            safe_double("price_text").alias("price_coerced"),
            br_timestamp("date_text").alias("date_parsed"),
            is_br_date("date_text").cast("int").alias("date_valid"),
            nullif_empty("price_text").alias("price_nullif"),
        )
        .orderBy("o_orderkey")
    )


def approx_quantile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch audit: percentile_approx vs the exact rank path.

    At 100 TB the serving path for quantiles is the mergeable GK
    sketch (percentile_approx, accuracy=1000 → guaranteed rank error
    ≤ N/1000 for ANY partition merge order); the exact path — a
    value-histogram + distributed prefix sum (operators/sketch.py:
    exact_rank_quantiles) — is the auditor. This query runs both and
    emits the contract row per quantile: the exact value (hash-
    matched by the oracle) plus ``within_bound``, true iff the sketch
    value's rank window overlaps the target ±2N/1000 envelope. Like
    the HLL slot, the sketch estimate itself is engine-specific, but
    the boolean derived from its *guaranteed* error bound is stable —
    so the slot is hash-checkable. All rank arithmetic is integer
    per-10000 (the heavy-hitter IEEE lesson: no float p*N).
    """
    from tinyerp_etl_spark.operators.packing import distributed_prefix_sum

    P10K = {"p50": 5000, "p90": 9000, "p99": 9900}
    cents = F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    o = load_table(spark, sf_dir, "orders").select(cents)

    # one prefix-summed histogram feeds BOTH the exact-quantile lookup
    # and the sketch-value rank window (the prefix sum materializes its
    # compacted input once; nothing below rescans orders except the
    # sketch itself, which at scale would be the only pass you keep)
    hc = distributed_prefix_sum(
        o.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        "cents",
        "cnt",
        out_col="cum_before",
    ).withColumn("cum_incl", F.col("cum_before") + F.col("cnt"))

    appx = o.agg(
        F.percentile_approx(
            "cents", [p / 10000.0 for p in P10K.values()], 1000
        ).alias("qs"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ).select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in P10K]), F.col("qs")
            )
        ).alias("label", "approx_q"),
        "n_rows",
    )
    spec = local_df(
        spark, [(label, p) for label, p in P10K.items()], "label string, p10k int"
    )
    probes = appx.join(F.broadcast(spec), "label").select(
        "label",
        "approx_q",
        "n_rows",
        F.expr("(p10k * n_rows + 9999L) div 10000").alias("target_rank"),
    )

    # one pass over the cum histogram answers exact value + rank window
    per_label = (
        hc.crossJoin(F.broadcast(probes))
        .groupBy("label", "approx_q", "n_rows", "target_rank")
        .agg(
            F.min(
                F.when(F.col("cum_incl") >= F.col("target_rank"), F.col("cents"))
            ).alias("exact_cents"),
            F.sum(F.when(F.col("cents") < F.col("approx_q"), F.col("cnt")))
            .cast("long")
            .alias("lt"),
            F.sum(F.when(F.col("cents") <= F.col("approx_q"), F.col("cnt")))
            .cast("long")
            .alias("le"),
        )
    )
    tol = F.expr("(2 * n_rows + 999) div 1000")
    # the sketch value occupies ranks [lt+1, le]; within_bound iff that
    # window intersects [target-tol, target+tol] (note lt+1, not lt —
    # a value whose first rank is one past the envelope must fail)
    return per_label.select(
        "label",
        "exact_cents",
        "n_rows",
        (
            (F.coalesce(F.col("lt"), F.lit(0)) + 1 <= F.col("target_rank") + tol)
            & (F.coalesce(F.col("le"), F.lit(0)) >= F.col("target_rank") - tol)
        ).alias("within_bound"),
    ).orderBy("label")


RELATIONAL_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "agg_distinct_count": agg_distinct_count,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "audit_counts": audit_counts,
    "data_profile_orders": data_profile_orders,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "join_left_enrich": join_left_enrich,
    "join_semi_customers_with_orders": join_semi_customers_with_orders,
    "join_anti_orphan_audit": join_anti_orphan_audit,
    "join_full_outer_balance": join_full_outer_balance,
    "window_latest_order_per_customer": window_latest_order_per_customer,
    "window_running_total": window_running_total,
    "window_rank_price_in_status": window_rank_price_in_status,
    "topk_expensive_orders": topk_expensive_orders,
    "setops_customer_nations": setops_customer_nations,
    "scalar_functions_showcase": scalar_functions_showcase,
    "exists_returned_orders": exists_returned_orders,
    "subquery_small_quantity_revenue": subquery_small_quantity_revenue,
    "scalar_subquery_rich_idle_customers": scalar_subquery_rich_idle_customers,
    "conditional_agg_returnflag": conditional_agg_returnflag,
    "promo_revenue_ratio": promo_revenue_ratio,
    "monthly_revenue_trend": monthly_revenue_trend,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q10_returned_items": q10_returned_items,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_discount_revenue": q19_discount_revenue,
    "groupwise_min_cheapest_parts": groupwise_min_cheapest_parts,
    "sql_q6_forecast_revenue": sql_q6_forecast_revenue,
    "quantiles_order_value_by_status": quantiles_order_value_by_status,
    "window_moving_avg_daily_revenue": window_moving_avg_daily_revenue,
    "window_navigation_showcase": window_navigation_showcase,
    "datetime_functions_showcase": datetime_functions_showcase,
    "pivot_status_by_priority": pivot_status_by_priority,
    "unpivot_nation_balances": unpivot_nation_balances,
    "setops_bag_semantics": setops_bag_semantics,
    "deterministic_sample_orders": deterministic_sample_orders,
    "stratified_sample_orders": stratified_sample_orders,
    "gapfill_daily_revenue": gapfill_daily_revenue,
    "anomaly_zscore_daily_revenue": anomaly_zscore_daily_revenue,
    "array_functions_showcase": array_functions_showcase,
    "null_handling_showcase": null_handling_showcase,
    "coercion_showcase": coercion_showcase,
    "approx_quantile_order_totals": approx_quantile_order_totals,
}
