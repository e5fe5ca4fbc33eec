"""Second batch of TPC-H-shaped queries: the multi-join "volume" family
(Q2/Q4/Q7/Q8/Q9/Q10/Q12/Q14/Q21 shapes) adapted to the driver schema
(no partsupp, no shipmode/commitdate/receiptdate/comment columns — each
docstring states the adaptation). Together with ``tpch_extra`` this
completes the 22-query dialect surface the reference never had
(SURVEY §2.4/§2.5 "absent": outer/semi/anti joins, EXISTS/NOT EXISTS,
conditional aggregation, multi-way snowflake joins).

Scale notes common to the family: nation/region/supplier/part are
dimensions → broadcast (Catalyst sizes their scans itself; only a
joined dimension frame carries a hint); lineitem⋈orders is the one
large-large join and shuffles on the order key only once per query;
year extraction happens before aggregation so the shuffle carries
(key, year) not timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktrends_spark.plans.registry import query
from sparktrends_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
)
SELECT s.s_name, n.n_name, p.p_partkey, p.p_type, sp.unit_cost
FROM supply sp
JOIN part p ON p.p_partkey = sp.l_partkey
JOIN supplier s ON s.s_suppkey = sp.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'REGION_1'
  AND sp.unit_cost = (
    SELECT min(sp2.unit_cost)
    FROM supply sp2
    JOIN supplier s2 ON s2.s_suppkey = sp2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE sp2.l_partkey = p.p_partkey AND r2.r_name = 'REGION_1'
  )
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): no partsupp table, so
    supply cost is derived as min unit price (l_extendedprice /
    l_quantity) per (part, supplier) observed in lineitem. The
    correlated "cheapest in region per part" subquery is decorrelated
    into a grouped min + self-join on (partkey, unit_cost) — the
    classic argmin-per-group plan: one shuffle for the supply agg, the
    min-per-part frame rejoined by partkey, dims broadcast.
    Ref parity: SURVEY §2.4 (absent joins surface).
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")

    from sparktrends_spark.caching import persist_tracked

    # Suppliers in REGION_1 (dimension chain, broadcast to the fact agg).
    reg_supp = (
        s.join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            r.filter(F.col("r_name") == "REGION_1"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    supply = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    # Regional supply only: referenced by both the min-per-part branch
    # and the winner rejoin -> persist to stop branch recompute.
    regional = persist_tracked(
        supply.join(
            F.broadcast(reg_supp), F.col("s_suppkey") == F.col("l_suppkey")
        )
    )
    min_per_part = regional.groupBy(
        F.col("l_partkey").alias("_pk")
    ).agg(F.min("unit_cost").alias("_min_cost"))
    keep_parts = p.filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    return (
        regional.join(
            F.broadcast(min_per_part),
            (F.col("_pk") == F.col("l_partkey"))
            & (F.col("unit_cost") == F.col("_min_cost")),
        )
        .join(keep_parts, F.col("p_partkey") == F.col("l_partkey"))
        .select("s_name", "n_name", "p_partkey", "p_type", "unit_cost")
    )


@query(
    "q4_priority_check",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): EXISTS with a non-equi
    correlated predicate. No commitdate/receiptdate columns, so "late"
    is adapted to l_shipdate > o_orderdate + 60 days. Spark plans it as
    a LEFT SEMI join on orderkey with the date comparison in the join
    condition — the quarter filter prunes orders before the shuffle.
    Ref parity: SURVEY §2.4 absent semi-join surface.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    window_orders = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    return (
        window_orders.join(
            li.select("l_orderkey", "l_shipdate"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q7_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS volume
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between two nations by year
    and direction. The nation-pair disjunction is applied after both
    dimension joins; supplier/customer/nation broadcast, so the only
    shuffle is lineitem⋈orders on orderkey. Year is extracted before
    the final agg so the groupBy key is (string, string, long).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    pair = ["NATION_3", "NATION_7"]
    n1 = n.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(pair))
    n2 = n.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(pair))
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp_ntz"),
                F.lit("1997-12-31").cast("timestamp_ntz"),
            )
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n1, F.col("_snk") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        # the one hint left: without it the plan is the same joins, but
        # Catalyst orders the inferred nation scan filters differently
        .join(F.broadcast(n2), F.col("_cnk") == F.col("c_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q8_market_share",
    oracle="""
SELECT o_year,
       sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS nation_volume,
       sum(volume) AS total_volume,
       count(*) AS n
FROM (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'REGION_1' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 7-table snowflake with a
    conditional aggregate. The share ratio itself (nation_volume /
    total_volume) is float-division-order sensitive, so the query
    returns the two sums separately (driver rounds before hashing) —
    the numerator uses CASE WHEN, Spark-side F.when. All six dimension
    joins broadcast; lineitem⋈orders is the single shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")

    cust_nation = c.join(
        n, F.col("n_nationkey") == F.col("c_nationkey")
    ).join(
        r.filter(F.col("r_name") == "REGION_1"),
        F.col("r_regionkey") == F.col("n_regionkey"),
    ).select("c_custkey")
    # nation stays hinted: on small tables supplier is the smaller
    # side, and Catalyst would build the hash table on it instead
    supp_nation = s.join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("_snk"),
                F.col("n_name").alias("nation"),
            )
        ),
        F.col("_snk") == F.col("s_nationkey"),
    ).select("s_suppkey", "nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            p.filter(F.col("p_type") == "ECONOMY"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            o.filter(
                F.col("o_orderdate").between(
                    F.lit("1996-01-01").cast("timestamp_ntz"),
                    F.lit("1997-12-31").cast("timestamp_ntz"),
                )
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(cust_nation), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp_nation), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("nation") == "NATION_3", volume).otherwise(0.0)
            ).alias("nation_volume"),
            F.sum(volume).alias("total_volume"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q9_product_profit",
    oracle="""
SELECT nation, o_year, sum(amount) AS sum_profit, count(*) AS n
FROM (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) - 0.6 * l.l_quantity *
           (l.l_extendedprice / l.l_quantity) AS amount
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%_5%' AND l.l_quantity > 0
)
GROUP BY nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): no partsupp.ps_supplycost, so
    cost is modeled as 60% of the observed unit price — the algebraic
    shape (profit expression over a 5-table join, grouped by supplier
    nation and order year) is preserved, including the LIKE filter on
    part name. The profit expression is kept textually identical in
    both engines so float rounding agrees.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")

    # nation stays hinted: on small tables supplier is the smaller
    # side, and Catalyst would build the hash table on it instead
    supp_nation = s.join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("_snk"),
                F.col("n_name").alias("nation"),
            )
        ),
        F.col("_snk") == F.col("s_nationkey"),
    ).select("s_suppkey", "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        0.6
        * F.col("l_quantity")
        * (F.col("l_extendedprice") / F.col("l_quantity"))
    )
    return (
        li.filter(F.col("l_quantity") > 0)
        .join(
            p.filter(F.col("p_name").like("%_5%")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(supp_nation), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            "nation", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(
            F.sum(amount).alias("sum_profit"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM (
  SELECT c.c_custkey, c.c_name,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
         c.c_acctbal, n.n_name
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
    AND o.o_orderdate < TIMESTAMP '1996-10-01'
    AND l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
)
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): top-20 customers by revenue
    lost to returns in a quarter. Revenue is rounded BEFORE the sort so
    the top-k boundary cannot flip between engines on a sub-ulp tie
    (driver-contract trick); c_custkey breaks exact ties. Spark plans
    TakeOrderedAndProject — no global sort materialization.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")

    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (
                    F.col("o_orderdate")
                    >= F.lit("1996-07-01").cast("timestamp_ntz")
                )
                & (
                    F.col("o_orderdate")
                    < F.lit("1996-10-01").cast("timestamp_ntz")
                )
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q12_priority_by_delay",
    oracle="""
SELECT delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o.o_orderpriority,
         CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 'fast'
              WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY THEN 'normal'
              ELSE 'slow' END AS delay_bucket
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
)
GROUP BY delay_bucket
""",
)
def q12_priority_by_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): no
    l_shipmode column, so lines are bucketed by ship delay
    (shipdate − orderdate: ≤30d fast, ≤90d normal, else slow) and the
    canonical high/low-priority conditional counts are computed per
    bucket. CASE WHEN inside sum == F.when inside F.sum — both engines
    fold the predicate identically on integer counts.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = (
        F.when(
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
            "fast",
        )
        .when(
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            "normal",
        )
        .otherwise("slow")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_shipdate")
        .join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_effect",
    oracle="""
SELECT sum(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         AS promo_revenue,
       sum(l_extendedprice * (1 - l_discount)) AS total_revenue,
       count(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
""",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional revenue share for
    promo-type parts in one month. Returns numerator and denominator
    separately instead of the 100*x/y ratio (ratio-of-rounded ≠
    rounded-ratio across engines). Part dim broadcasts; the month
    filter reaches the lineitem scan as a PushedFilter.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
        )
        .join(
            p.select("p_partkey", "p_type"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
            ).alias("promo_revenue"),
            F.sum(rev).alias("total_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the EXISTS /
    NOT-EXISTS pair over the same fact — "some other supplier was on
    the order, but no other supplier was late". Late = shipped >60 days
    after order date (no receipt/commit dates in this schema).
    Decorrelated Spark-side into one groupBy(l_orderkey) pass computing
    per-order supplier counts and late-supplier counts, then a join
    back — two scans of lineitem total instead of the naive three, and
    the correlated predicates become set-size comparisons:
      EXISTS other supplier        <=> n_suppliers > 1
      NOT EXISTS other late suppl. <=> n_late_suppliers == 1 (just me)
    restricted to my line being late. Counted at the (order, supplier)
    grain (= distinct waiting orders per supplier), so multi-line
    orders don't double count; the oracle mirrors with count(DISTINCT
    l1.l_orderkey).
    """
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    fo = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lines = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        fo, F.col("o_orderkey") == F.col("l_orderkey")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    # Referenced by both the stats branch and the final filter. NOT
    # persisted: the frame sits on a groupBy shuffle, and caching it
    # pins the shuffle layout (AQE cannot re-coalesce under an
    # InMemoryRelation — measured 4x slower in a default-partition
    # session than recomputing the branch, and a per-(order, supplier)
    # frame is uncacheable at 100 TB anyway).
    per_order = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late).alias("supp_late")
    )
    order_stats = per_order.groupBy(
        F.col("l_orderkey").alias("_ok")
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("supp_late").cast("int")).alias("n_late"),
    )
    return (
        per_order.filter(F.col("supp_late"))
        .join(order_stats, F.col("_ok") == F.col("l_orderkey"))
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late") == 1))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q11_important_stock",
    oracle="""
WITH supply AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18, 4))) AS value_dec
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(CAST(value_dec AS DECIMAL(38, 4)) AS VARCHAR) AS part_value
FROM supply
WHERE CAST(value_dec AS DOUBLE) > 0.001 * (
  SELECT CAST(sum(value_dec) AS DOUBLE) FROM supply
)
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose supply value from
    one nation's suppliers exceeds a fraction of that nation's total
    supply value. No partsupp table, so "value" is the summed extended
    price observed in lineitem. The HAVING-against-global-scalar is the
    uncorrelated scalar subquery surface (SURVEY §2.4 absent).

    Scale shape: supplier⋈nation dims broadcast into the lineitem scan;
    ONE shuffle for the per-part agg; the global total derives from the
    already-aggregated frame (persisted — Spark has no cross-branch
    subplan reuse) and rejoins as a broadcast one-row frame, so the
    threshold filter is map-side. Sums are DECIMAL so both engines are
    order-independent-exact; the threshold compares doubles derived
    from identical decimals (deterministic), and the output value is
    the canonical decimal string (DuckDB's pandas bridge renders
    DECIMAL as float64, which can never hash-match).
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    from sparktrends_spark.caching import persist_tracked

    nat_supp = s.join(
        n.filter(F.col("n_name") == "NATION_7"),
        F.col("n_nationkey") == F.col("s_nationkey"),
    ).select("s_suppkey")
    supply = persist_tracked(
        li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias(
                "value_dec"
            )
        )
    )
    total = supply.agg(
        F.sum("value_dec").cast("double").alias("_total")
    )
    return (
        supply.crossJoin(total)
        .filter(F.col("value_dec").cast("double") > 0.001 * F.col("_total"))
        .select(
            "l_partkey",
            F.col("value_dec")
            .cast("decimal(38,4)")
            .cast("string")
            .alias("part_value"),
        )
    )


@query(
    "q20_dominant_supplier",
    oracle="""
WITH promo AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty_ps
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%gear%' AND EXTRACT(year FROM l_shipdate) = 1996
  GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, sum(qty_ps) AS qty_part FROM promo GROUP BY l_partkey
)
SELECT DISTINCT s_name, n_name
FROM promo
JOIN per_part USING (l_partkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE qty_ps > 0.5 * qty_part
""",
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    dominated supply of 'gear' parts shipped in 1996. The original's
    availqty-vs-half-of-shipped correlated subquery has no partsupp
    here, so the threshold becomes "this supplier shipped more than
    half the part's 1996 total" — the same nested
    semi-join-on-correlated-aggregate shape, decorrelated.

    Scale shape: the part filter broadcasts into the lineitem scan
    (predicate + year pushed to the scan); ONE shuffle produces the
    (part, supplier) sums; the per-part total is a window over
    l_partkey on the already-tiny aggregate (no second fact scan, no
    self-join); dims broadcast at the end. Quantities are small-int
    doubles, so sums are exact in both engines and the 0.5 threshold is
    deterministic.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    from pyspark.sql import Window

    gear = p.filter(F.col("p_name").like("%gear%")).select("p_partkey")
    ps = (
        li.filter(F.year("l_shipdate") == 1996)
        .join(gear, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_ps"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("qty_part", F.sum("qty_ps").over(w))
        .filter(F.col("qty_ps") > 0.5 * F.col("qty_part"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .distinct()
    )


_SPINE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT min(year(o_orderdate) * 12 + month(o_orderdate)) AS mn,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS mx
  FROM {orders}
),
months(mid) AS (
  SELECT mn FROM bounds
  UNION ALL
  SELECT mid + 1 FROM months WHERE mid < (SELECT mx FROM bounds)
),
per_month AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mid,
         count(*) AS n, sum(o_totalprice) AS tp
  FROM {orders}
  GROUP BY 1
)
SELECT CAST(mid AS BIGINT) AS month_id,
       CAST(floor((mid - 1) / 12.0) AS BIGINT) AS year,
       CAST(((mid - 1) % 12) + 1 AS BIGINT) AS month,
       CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
       round(coalesce(tp, 0.0), 6) AS total_price
FROM months LEFT JOIN per_month USING (mid)
"""


@query(
    "order_month_spine_recursive",
    oracle=_SPINE_SQL.format(orders="orders"),
)
def q_order_month_spine_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (new in Spark 4): a WITH RECURSIVE month
    spine from the first to the last order month, left-joined to
    per-month order counts so months with zero orders still appear —
    the calendar-fill shape that sequence()-free SQL dialects write
    recursively. The IDENTICAL statement runs on DuckDB (its recursive
    CTE dialect matches), so the recursion itself is value-oracled.

    Scale shape: the recursion materializes one row per month (dozens)
    on the driver-side loop of the recursive plan; the fact table is
    touched exactly twice (bounds agg + per-month agg), both plain
    hash aggregates."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_spine_orders"
    )
    return spark.sql(_SPINE_SQL.format(orders="_spine_orders"))
