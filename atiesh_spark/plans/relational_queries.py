"""Relational capability floor (SURVEY.md §2.9 Q13-Q20 block).

The reference has NO joins/aggregates/windows/sorts (SURVEY §2.9 "absent"
list) — this is the additive query surface a Spark-native engine provides.
All built-ins; plans verified via .explain: filters pushed to parquet,
dims broadcast, single shuffle per agg.

Float policy: every float aggregate is explicitly rounded on BOTH sides
(Spark + oracle) so the driver's value-hash is stable across summation
orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from atiesh_spark.plans.registry import register
from atiesh_spark.sources.tables import load_table


@register(
    "q14_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: scan + pushed filter + hash agg "
    "(partial map-side combine, one shuffle on the 4-value group key).",
)
def q14_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q15_revenue_filter",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-style forecasting filter: all predicates push to the "
    "parquet scan (verify PushedFilters in .explain), single partial+final "
    "agg, no shuffle of data rows.",
)
def q15_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "q16_revenue_by_nation",
    oracle="""
    SELECT n.n_name, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-style star join: fact orders shuffles once on o_custkey; "
    "customer joins shuffled; nation/region are broadcast (25/5 rows) so "
    "they never move the fact side.",
)
def q16_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "q17_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi join (customers having orders). Semi joins ship no "
    "payload columns from the probe side.",
)
def q17_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q18_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
    doc="Left-anti join: customers with no large orders (the totalprice "
    "filter keeps the result discriminating at every SF — every customer "
    "has SOME order in this data).",
)
def q18_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q19_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Top-k: Spark plans orderBy+limit as TakeOrderedAndProject — "
    "per-partition heap then driver merge of k rows, never a full sort. "
    "Tiebreak on o_orderkey keeps the k-boundary deterministic.",
)
def q19_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q20_distinct_count",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(*) AS n_orders
    FROM orders
    """,
    doc="Distinct aggregation (expand + two-phase shuffle in Spark).",
)
def q20_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q21_set_ops",
    oracle="""
    (SELECT c_custkey FROM customer WHERE c_acctbal > 7000
     UNION
     SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000
    """,
    doc="Set operations: UNION (distinct) then EXCEPT (distinct) — "
    "rich/BUILDING customer keys minus big-order customers (filter keeps "
    "all three branches non-trivial at every SF).",
)
def q21_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big_orders = (
        orders.filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return rich.union(building).distinct().exceptAll(big_orders.distinct())


@register(
    "q22_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    doc="Window rank: top order per customer. One shuffle on o_custkey + "
    "within-partition sort; deterministic tiebreak.",
)
def q22_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q43_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Cube: all 4 grouping-set combinations in one pass (Expand "
    "operator, single shuffle) — completes the rollup/cube/grouping-sets "
    "family with q23.",
)
def q43_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "q44_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont, verified bit-equal after rounding). At 100 TB "
    "the approximate path is q45.",
)
def q44_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "q45_approx_sketches",
    oracle="SELECT true AS cd_within_15pct, true AS p50_within_1pct",
    doc="Sketch aggregates: approx_count_distinct (HLL++) and "
    "approx percentile (KLL-ish) — the constant-memory 100 TB path for "
    "q20/q44. Raw estimates are engine-specific (DuckDB's HLL differs), "
    "so the checkable contract is the error bound: the query emits "
    "booleans asserting the sketch lands within 3x rsd (HLL, rsd=0.05) "
    "/ 1% (percentile) of the exact answer computed in the same pass; "
    "the oracle is the constant truth table.",
)
def q45_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    est = orders.agg(
        F.approx_count_distinct("o_custkey").alias("ac"),
        F.countDistinct("o_custkey").alias("ec"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("ap"),
        F.expr("percentile(o_totalprice, 0.5)").alias("ep"),
    )
    return est.select(
        (F.abs(F.col("ac") - F.col("ec")) / F.col("ec") <= 0.15).alias("cd_within_15pct"),
        (F.abs(F.col("ap") - F.col("ep")) / F.abs(F.col("ep")) <= 0.01).alias("p50_within_1pct"),
    )


@register(
    "q23_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Grouping sets / rollup — subtotal hierarchy in one pass "
    "(Expand operator, single shuffle).",
)
def q23_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q74_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           printf('%.4f', min(o_totalprice)), printf('%.4f', max(o_totalprice))
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    doc="Table profiling (operators/profile.py): per-column nulls / "
    "distinct / min / max in ONE scan (all aggregates evaluate in a "
    "single multi-distinct pass, then the wide row explodes to the long "
    "report layout). Floating min/max render via fixed '%.4f' so values "
    "are engine-portable (Java flips to scientific notation at 1e7). "
    "The before/after data-quality gate of every pipeline stage.",
)
def q74_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders, ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    )


@register(
    "q75_snapshot_diff",
    oracle="""
    WITH oldv AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    newv AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT coalesce(oldv.o_orderkey, newv.o_orderkey) AS o_orderkey,
           CASE WHEN oldv.o_orderkey IS NULL THEN 'added'
                WHEN newv.o_orderkey IS NULL THEN 'removed'
                WHEN (oldv.o_orderstatus IS DISTINCT FROM newv.o_orderstatus)
                  OR (oldv.o_totalprice IS DISTINCT FROM newv.o_totalprice)
                THEN 'changed' ELSE 'unchanged' END AS status,
           CASE WHEN oldv.o_orderkey IS NULL OR newv.o_orderkey IS NULL THEN ''
                ELSE concat_ws(',',
                    CASE WHEN oldv.o_orderstatus IS DISTINCT FROM newv.o_orderstatus
                         THEN 'o_orderstatus' END,
                    CASE WHEN oldv.o_totalprice IS DISTINCT FROM newv.o_totalprice
                         THEN 'o_totalprice' END) END AS changed_cols,
           CASE WHEN oldv.o_orderkey IS NULL OR newv.o_orderkey IS NULL THEN 0
                ELSE (oldv.o_orderstatus IS DISTINCT FROM newv.o_orderstatus)::INT
                   + (oldv.o_totalprice IS DISTINCT FROM newv.o_totalprice)::INT
           END AS n_changed
    FROM oldv FULL OUTER JOIN newv USING (o_orderkey)
    """,
    doc="Snapshot diff (operators/diffing.py snapshot_diff): two synthetic "
    "versions of orders (some keys dropped on each side, prices perturbed "
    "on a third stripe) classified added/removed/changed/unchanged with "
    "the differing-column list. ONE full-outer sort-merge join on the "
    "key, null-safe codegen comparison, no second pass — the change-data "
    "report for incremental refresh and re-run regression gating.",
)
def q75_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.diffing import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    new = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


@register(
    "q78_histogram",
    oracle="""
    WITH b AS (
        SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
               CAST(max(o_totalprice) AS DOUBLE) AS hi
        FROM orders
    ),
    x AS (
        SELECT CAST(least(9, greatest(0,
                   CASE WHEN (hi - lo) / 10.0 > 0
                        THEN floor((o_totalprice - lo) / ((hi - lo) / 10.0))
                        ELSE 0 END)) AS INT) AS bin,
               lo, hi
        FROM orders, b WHERE o_totalprice IS NOT NULL
    )
    SELECT bin,
           round(lo + bin * ((hi - lo) / 10.0), 6) AS bin_lo,
           round(lo + (bin + 1) * ((hi - lo) / 10.0), 6) AS bin_hi,
           count(*) AS n
    FROM x GROUP BY bin, lo, hi
    """,
    doc="Fixed-width 10-bin histogram of o_totalprice (operators/profile.py "
    "histogram, auto bounds): min/max single-row aggregate BROADCAST into "
    "the binning pass (no driver round-trip), clamp-to-edge-bins codegen "
    "float math identical in any engine. The distribution report behind "
    "every profiling dashboard.",
)
def q78_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import histogram

    orders = load_table(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", bins=10)


@register(
    "q79_skew_report",
    oracle="""
    WITH c AS (
        SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total, avg(n_rows) AS mean FROM c),
    top AS (SELECT * FROM c ORDER BY n_rows DESC, o_custkey LIMIT 20)
    SELECT o_custkey, n_rows,
           round(n_rows / total, 6) AS frac_of_total,
           round(n_rows / mean, 2) AS skew_ratio,
           greatest(1, CAST(ceil(n_rows / 10.0) AS INT)) AS suggested_salt,
           row_number() OVER (ORDER BY n_rows DESC, o_custkey) AS rank
    FROM top, t
    """,
    doc="Join-key skew diagnostics on orders.o_custkey (operators/skew.py "
    "key_skew_report, target 10 rows/task to exercise the salt column): "
    "top-20 hottest keys with share-of-table, ratio-to-mean-key, and the "
    "salt bucket count that feeds with_salt/salted_aggregate. One "
    "partial-aggregated count shuffle + TakeOrderedAndProject top-k + "
    "broadcast single-row totals — the report to run before committing "
    "to a join strategy on a new dataset.",
)
def q79_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.skew import key_skew_report

    orders = load_table(spark, sf_dir, "orders")
    return key_skew_report(
        orders, ["o_custkey"], top_k=20, target_rows_per_task=10
    )


@register(
    "q83_salted_skew_agg",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-safe two-phase aggregation (operators/skew.py "
    "salted_aggregate) on lineitem's 3-value l_returnflag — the "
    "pathological groupBy shape where partial aggregation still lands "
    "each hot key on ONE reducer. Phase 1 aggregates on (key, salt) so "
    "the hot key's rows spread over 16 tasks; phase 2 merges the 16 "
    "bucket partials per key (sum-of-sums / sum-of-counts). The salt is "
    "a content hash (xxhash64 of the row), never rand(): map-task "
    "retries re-salt identically, so no row is double-counted or lost "
    "at scale. Oracle is the plain GROUP BY — salting must be "
    "semantically invisible.",
)
def q83_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return salted_aggregate(
        li.select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount"),
        key_cols=["l_returnflag"],
        partial_aggs={
            "n": F.count(F.lit(1)),
            "qty": F.sum("l_quantity"),
            "rev": F.sum(revenue),
        },
        merge_aggs={
            "n_rows": F.sum("n"),
            "sum_qty": F.round(F.sum("qty"), 2),
            "revenue": F.round(F.sum("rev"), 2),
        },
        buckets=16,
    )


@register(
    "q84_salted_broadcast_join",
    oracle="""
    SELECT p.p_brand,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Skew-safe fact-dim join (operators/skew.py salted_broadcast_join): "
    "the dim (part) is exploded 16x with a salt column and broadcast, the "
    "fact (lineitem) joins on (partkey, content-hash salt) — the fact "
    "side NEVER shuffles and no reducer owns a hot key, the strategy for "
    "a dim too hot to shuffle against but small enough that 16x "
    "replication still broadcasts. Plan gate asserts BroadcastHashJoin "
    "with zero fact-side Exchange before the join. Oracle is the plain "
    "join + GROUP BY — salting must be semantically invisible.",
)
def q84_salted_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.skew import salted_broadcast_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_broadcast_join(li, part, on="l_partkey", buckets=16)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )
