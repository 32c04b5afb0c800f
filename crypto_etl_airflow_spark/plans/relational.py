"""Full relational surface over the TPC-H-ish star schema.

The reference delegates all of its read-side analytics to
Postgres/Metabase (SURVEY.md §2.5, §3.3); this module IS that read
surface re-expressed on Spark: joins in every mode, grouped/cube/
rollup aggregation, window ranking, sorts/top-k, set ops, scalar
function packs and the as-of join.

Everything here is a declarative DataFrame/SQL plan — zero UDFs, so
Catalyst keeps every expression in whole-stage codegen and picks the
physical join strategy itself (broadcast for the small dims like
region/nation/supplier, shuffled hash / sort-merge for
lineitem-orders, AQE re-planning at runtime).

Cross-engine determinism rules (the DuckDB oracle hash must match
bit-for-bit): double aggregates rounded; every ORDER BY ... LIMIT has
a unique tiebreak column; no engine-specific functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.local import local_frame
from ..sources.tables import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# headline aggregation / join queries (TPC-H shapes adapted to fixtures)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation. The filter and
    the 7-column projection push down to the parquet scan; Spark runs
    partial (map-side) + final aggregation automatically."""
    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate  > TIMESTAMP '1999-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "tpch"),
    bench=True,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → grouped agg
    → top-k. customer(filtered) is small → AQE broadcasts it into the
    orders join; only lineitem-orders shuffles."""
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("join", "agg", "tpch"),
    bench=True,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join. region/nation/supplier are
    broadcast-sized at any realistic scale; the plan shuffles only on
    the fact-table keys."""
    cust, orders, li, supp, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# join family — every how-mode as a declared, oracle-checked plan
# ---------------------------------------------------------------------------


@register(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("join",),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join preserving order-less customers (count = 0)."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    tags=("join",),
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers with at least one open order — the join
    that never duplicates or widens the left side."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return cust.join(
        open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
    tags=("join", "parity"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI — the same primitive the idempotent upsert writer
    uses against sink state (SURVEY.md §2.3 J1). Filtered to pending
    orders so the result is non-degenerate on the fixtures (every
    customer has SOME order; ~4% have no pending one)."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return cust.join(
        pending, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


@register(
    "join_right_segment_orders",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    tags=("join",),
)
def join_right_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join — pending orders right-joined to customers,
    so customers without a pending order survive with NULL order
    columns: count(o_orderkey) skips them, count(*) includes them.
    (Catalyst plans it as the mirrored left join; the declared
    operator is the point.)"""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return (
        pending.join(cust, pending.o_custkey == cust.c_custkey, "right")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "join_full_nation_presence",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    tags=("join",),
)
def join_full_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides."""
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "join_cross_region_nation",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("join",),
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (explicit; small×small only — a guarded operator at
    scale)."""
    region, nation = _t(spark, sf_dir, "region", "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@register(
    "join_range_size_buckets",
    oracle="""
    WITH buckets(bucket, lo, hi) AS (
        VALUES ('small', 1, 15), ('medium', 16, 35), ('large', 36, 50)
    )
    SELECT bucket, count(*) AS n_parts,
           round(avg(p_retailprice), 6) AS avg_price
    FROM part JOIN buckets ON p_size BETWEEN lo AND hi
    GROUP BY bucket
    """,
    tags=("join", "range"),
)
def join_range_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny inline dim — Spark plans a
    broadcast nested-loop, the right physical choice when one side is
    rows-small."""
    (part,) = _t(spark, sf_dir, "part")
    buckets = local_frame(
        spark,
        [("small", 1, 15), ("medium", 16, 35), ("large", 36, 50)],
        "bucket string, lo int, hi int",
    )
    return (
        part.join(
            F.broadcast(buckets),
            (F.col("p_size") >= F.col("lo")) & (F.col("p_size") <= F.col("hi")),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# aggregation family
# ---------------------------------------------------------------------------


@register(
    "agg_distinct_counts",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           count(DISTINCT c_nationkey) AS n_nations,
           round(avg(c_acctbal), 6) AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COUNT DISTINCT (expand-based two-phase agg in Spark)."""
    (cust,) = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
    )


@register(
    "agg_rollup_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals + grand total."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-key combinations in one pass."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL — the general form of
    cube/rollup."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "agg_having",
    oracle="""
    SELECT c_nationkey, count(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    HAVING count(*) > 50
    """,
    tags=("agg", "filter"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    (cust,) = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") > 50)
    )


@register(
    "agg_stddev_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(stddev_samp(o_totalprice), 6) AS sd_price,
           round(var_samp(o_totalprice), 4) AS var_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(median(o_totalprice), 4) AS median_price
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def agg_stddev_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact median (percentile 0.5).

    Scale note: the grouped exact ``percentile`` buffers each group's
    full value list in one non-spillable agg buffer — acceptable here
    as the exact-semantics demonstrator, but at 100 TB per-group
    volume use either ``approx_percentile`` (the
    ``agg_approx_percentiles`` sketch path) or the spillable
    window-form exact median (``anomaly_mad_events``)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 6).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 4).alias("var_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
    )


@register(
    "agg_approx_distinct",
    # Self-verifying sketch check: Spark computes BOTH the HLL++
    # estimate and the exact distinct count in one plan and asserts
    # the relative error bound itself; the oracle states the exact
    # counts (ANSI-SQL-computable) and the expected verdicts. HLL
    # registers are max-merged, so the estimate is deterministic
    # regardless of partitioning — the booleans cannot flap.
    oracle="""
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS orders_within_3pct,
           TRUE AS parts_within_3pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd=0.01) — the sketch
    path for 100 TB cardinality estimation — verified in-plan against
    the exact count: the query emits the exact cardinalities plus
    booleans asserting the estimate lands within 3% relative error."""
    (li,) = _t(spark, sf_dir, "lineitem")
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.03)
    )
    return (
        li.agg(
            F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.count_distinct("l_orderkey").alias("exact_orders"),
            F.count_distinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "exact_orders",
            "exact_parts",
            within("approx_orders", "exact_orders").alias("orders_within_3pct"),
            within("approx_parts", "exact_parts").alias("parts_within_3pct"),
        )
    )


@register(
    "agg_approx_percentiles",
    # Same self-verifying pattern as agg_approx_distinct: the plan
    # computes the KLL-sketch approximation AND the exact percentile,
    # asserts the relative error bound itself, and the oracle states
    # the exact values (ANSI-computable) plus the expected verdicts.
    # approx_percentile is deterministic for a given input set.
    oracle="""
    SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
           TRUE AS p50_within_1pct,
           TRUE AS p95_within_1pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (accuracy 10000) — the bounded-memory sketch
    path for 100 TB quantiles — verified in-plan against the exact
    interpolated percentile: emits the exact p50/p95 plus booleans
    asserting the sketch lands within 1% relative error (measured
    ≈0.02% at this accuracy). The in-plan exact reference shares the
    grouped-percentile memory caveat noted on
    ``agg_stddev_percentiles``; the sketch column is the 100 TB
    path."""
    (li,) = _t(spark, sf_dir, "lineitem")
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.01)
    )
    return (
        li.agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
            ).alias("ap"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("e50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("e95"),
        )
        .select(
            F.round("e50", 4).alias("exact_p50"),
            F.round("e95", 4).alias("exact_p95"),
            F.element_at("ap", 1).alias("a50"),
            F.element_at("ap", 2).alias("a95"),
            "e50",
            "e95",
        )
        .select(
            "exact_p50",
            "exact_p95",
            within("a50", "e50").alias("p50_within_1pct"),
            within("a95", "e95").alias("p95_within_1pct"),
        )
    )


# ---------------------------------------------------------------------------
# window family / sorts / top-k
# ---------------------------------------------------------------------------


@register(
    "window_rank_parts",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice,
           rank()       OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           round(percent_rank() OVER w, 6) AS price_pct_rank
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)
    """,
    tags=("window",),
)
def window_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family — ties produce equal ranks deterministically."""
    (part,) = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return part.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
    )


@register(
    "window_ntile_customers",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile
    FROM customer
    """,
    tags=("window",),
)
def window_ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles over a total order (custkey tiebreak makes the
    assignment deterministic in both engines)."""
    (cust,) = _t(spark, sf_dir, "customer")
    w = W.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).alias("balance_quartile")
    )


@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2)
               AS running_spend
    FROM orders
    """,
    tags=("window", "timeseries"),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend — running frame."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("sort", "topk"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps then a k-row merge, never a full sort at scale."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


@register(
    "setops_nations",
    oracle="""
    SELECT 'customer_only' AS side, n FROM (
        SELECT DISTINCT c_nationkey AS n FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'both' AS side, n FROM (
        SELECT DISTINCT c_nationkey AS n FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
    tags=("setops",),
)
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT + INTERSECT + UNION ALL in one declared plan."""
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    c = cust.select(F.col("c_nationkey").alias("n")).distinct()
    s = supp.select(F.col("s_nationkey").alias("n")).distinct()
    only = c.exceptAll(s).distinct().select(F.lit("customer_only").alias("side"), "n")
    both = c.intersect(s).select(F.lit("both").alias("side"), "n")
    return only.unionAll(both)


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
    FROM part
    """,
    tags=("reshape",),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide measures to long (the inverse of the
    dashboard pivot, SURVEY.md §2.5 W3)."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# scalar function packs (JVM-side expressions; SURVEY.md §2.8)
# ---------------------------------------------------------------------------


@register(
    "scalar_string_pack",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_name, 1, 5) AS name_prefix,
           replace(p_type, 'E', '*') AS type_replaced,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(concat(' ', p_name, ' ')) AS name_trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
           strpos(p_name, 'a') AS first_a
    FROM part
    """,
    tags=("scalar", "string"),
)
def scalar_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family — all built-in Column expressions."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit("E"), F.lit("*")).alias("type_replaced"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("has_a"),
        F.instr("p_name", "a").alias("first_a"),
    )


@register(
    "scalar_date_pack",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dy,
           quarter(o_orderdate) AS qtr,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch0,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    """,
    tags=("scalar", "date"),
)
def scalar_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family (interval arithmetic, truncation,
    field extraction)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since_epoch0"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
    )


@register(
    "scalar_math_pack",
    oracle="""
    SELECT c_custkey,
           round(abs(c_acctbal), 2) AS abs_bal,
           CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
           CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
           CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal,
           round(sqrt(abs(c_acctbal)), 6) AS sqrt_bal,
           round(ln(abs(c_acctbal) + 1), 6) AS ln_bal,
           round(pow(c_acctbal / 1000, 2), 6) AS pow_bal,
           CAST(c_custkey % 7 AS BIGINT) AS mod7,
           greatest(c_acctbal, 0) AS clamped
    FROM customer
    """,
    tags=("scalar", "math"),
)
def scalar_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family; transcendentals rounded to 6 dp because
    libm implementations differ across engines in the last ulp."""
    (cust,) = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return cust.select(
        "c_custkey",
        F.round(F.abs(bal), 2).alias("abs_bal"),
        F.ceil(bal).alias("ceil_bal"),
        F.floor(bal).alias("floor_bal"),
        F.signum(bal).alias("sign_bal"),
        F.round(F.sqrt(F.abs(bal)), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(bal) + 1), 6).alias("ln_bal"),
        F.round(F.pow(bal / 1000, 2), 6).alias("pow_bal"),
        (F.col("c_custkey") % 7).alias("mod7"),
        F.greatest(bal, F.lit(0)).alias("clamped"),
    )


@register(
    "scalar_conditional_pack",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 THEN 'high'
                WHEN o_totalprice > 10000  THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'pending-excluded') AS status_norm,
           least(o_totalprice, 50000.0) AS capped,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS finished_price
    FROM orders
    """,
    tags=("scalar", "conditional"),
)
def scalar_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/COALESCE/NULLIF/LEAST — null-propagation semantics."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 100000, "high")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending-excluded")
        ).alias("status_norm"),
        F.least(F.col("o_totalprice"), F.lit(50000.0)).alias("capped"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).alias(
            "finished_price"
        ),
    )


@register(
    "scalar_array_pack",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 6) AS vec_sum
    FROM embeddings
    """,
    tags=("scalar", "array"),
)
def scalar_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed column ops (size / element access / fold) — the
    multimodal-column access pattern (FIXTURES.md §4)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            ),
            6,
        ).alias("vec_sum"),
    )


# ---------------------------------------------------------------------------
# as-of join (custom operator; SURVEY.md §7.4)
# ---------------------------------------------------------------------------


@register(
    "asof_last_error_before_click",
    oracle="""
    SELECT a.event_id, a.user_id, a.ts, b.value AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
    ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
    tags=("asof", "join", "timeseries"),
)
def asof_last_error_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gains the most recent error value
    at-or-before it for the same user. Implemented union-and-window
    (one shuffle, no candidate cross-product) in
    operators/asof.py; the DuckDB oracle uses its native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, errors, on="ts", keys=["user_id"], value_cols=["value"]
    )


@register(
    "asof_with_tolerance",
    oracle="""
    SELECT a.event_id, a.user_id, a.ts,
           CASE WHEN a.ts <= b.ts + INTERVAL 30 MINUTE THEN b.value END
               AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
    ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
    tags=("asof", "join", "timeseries"),
)
def asof_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join: the matched error must be at most
    30 minutes older than the click, else NULL — 'last known value,
    but never stale' (operators/asof.py ``tolerance=``)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks,
        errors,
        on="ts",
        keys=["user_id"],
        value_cols=["value"],
        tolerance="30 MINUTE",
    )


@register(
    "scalar_map_pack",
    oracle="""
    WITH m AS (
        SELECT event_id, event_type,
               map(['v', 'v2'], [value, value * 2]) AS mm
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(cardinality(mm)) AS BIGINT) AS min_map_size,
           CAST(max(cardinality(mm)) AS BIGINT) AS max_map_size,
           min(array_to_string(map_keys(mm), ',')) AS keys_joined,
           round(sum(mm['v'][1]), 4) AS sum_v,
           round(sum(mm['v2'][1]), 4) AS sum_v2,
           CAST(sum(CASE WHEN list_contains(map_keys(mm), 'v') THEN 1 ELSE 0 END) AS BIGINT)
               AS n_has_v
    FROM m GROUP BY event_type
    """,
    tags=("scalar", "map"),
)
def scalar_map_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar family (SURVEY.md §2.8): construct a
    map<string,double> per row, then size / keys / lookup /
    containment — aggregated to per-entity scalars so the comparison
    never serializes a map across engines."""
    ev = load_table(spark, sf_dir, "events")
    mm = F.create_map(
        F.lit("v"), F.col("value"), F.lit("v2"), F.col("value") * 2
    )
    withm = ev.select("event_type", mm.alias("mm"))
    return withm.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(F.size("mm")).cast("long").alias("min_map_size"),
        F.max(F.size("mm")).cast("long").alias("max_map_size"),
        F.min(F.array_join(F.map_keys("mm"), ",")).alias("keys_joined"),
        F.round(F.sum(F.element_at("mm", "v")), 4).alias("sum_v"),
        F.round(F.sum(F.element_at("mm", "v2")), 4).alias("sum_v2"),
        F.sum(F.when(F.map_contains_key("mm", "v"), 1).otherwise(0))
        .cast("long")
        .alias("n_has_v"),
    )
