"""Raw-SQL analytics passthrough shapes (SURVEY.md §2.3/§2.4).

The reference executes arbitrary analyst SQL through its consumption APIs
(ts-moose-lib/src/consumption-apis/runner.ts, sql template tag;
py-moose-lib/moose_lib/dmv2/consumption.py) — the engine's job is to run
classic multi-join + aggregate shapes well.  aggregates.py carries TPC-H Q1
and joins.py Q3/Q5; this module carries every other TPC-H shape, adapted to
the columns the testdata actually has (no partsupp / shipmode / commitdate /
receiptdate; see TESTDATA.md): Q2 (correlated min), Q4 (EXISTS), Q6
(forecast revenue), Q7 (volume shipping), Q8 (market share), Q9 (profit),
Q10 (returned items), Q11 (scalar-subquery HAVING), Q12 (priority classes),
Q13 (outer-join distribution), Q14 (promo revenue), Q15 (max-revenue view),
Q16 (supplier variety), Q17 (correlated avg), Q18 (large orders), Q19
(disjunctive pushdown), Q20 (nested IN), Q21 (multi-supplier waiting) and
Q22 (idle customers).

Scale notes common to all of these:
- the only large-table shuffles are the final aggregations and the
  lineitem⋈orders equi-join (one shuffle each side, AQE-skew-handled);
- every dimension join (customer, supplier, nation, region, part at bench SF)
  is broadcast-eligible; nation/region are forced (fixed 25/5 rows at any SF);
- correlated subqueries are rewritten as aggregate-then-join (Catalyst does
  the same decorrelation for the SQL spelling — we write the join form
  directly so the shuffle structure is explicit);
- scalar subqueries (Q11's total, Q15's max) materialize as 1-row broadcast
  cross joins, whitelisted in scripts/plan_audit.py;
- ratio results are computed as exact decimal sums surfaced as doubles with a
  single IEEE division (see operators/_determinism.py) so the DuckDB oracle
  hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.operators._determinism import davg, dsum, sql_davg, sql_dsum
from moosestack_spark.registry import query
from moosestack_spark.tables import t

# Shared revenue expression: exact decimal l_extendedprice * (1 - l_discount).
_ONE = "CAST(1 AS DECIMAL(3,2))"
_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) "
    f"* ({_ONE} - CAST(l_discount AS DECIMAL(8,2)))"
)


def _rev() -> F.Column:
    one = F.lit(1).cast("decimal(3,2)")
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        one - F.col("l_discount").cast("decimal(8,2)")
    )


# --------------------------------------------------------------------------
# Q7 shape: bilateral trade volume between two nations by ship year.
# --------------------------------------------------------------------------


@query(
    "analytics_volume_shipping",
    oracle=f"""
SELECT
  sn.n_name AS supp_nation,
  cn.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
  CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT)
""",
)
def analytics_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing each way between a nation pair, per
    ship year.  The nation filter lands on the *dimension* sides (supplier /
    customer shrink to ~1/25th before the fact join), so the big join inputs
    are pre-pruned — the same plan Catalyst picks at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 shape: one nation's market share inside a region's PROMO-part spend.
# --------------------------------------------------------------------------


@query(
    "analytics_market_share",
    oracle=f"""
SELECT
  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
  CAST(SUM(CASE WHEN sn.n_name = 'NATION_5' THEN {_SQL_REV}
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    / CAST(SUM({_SQL_REV}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY CAST(EXTRACT(year FROM o_orderdate) AS INT)
""",
)
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5 suppliers' share of ASIA customers' spend on
    PROMO parts, by order year.  Numerator and denominator are both exact
    decimal sums; the share is one IEEE division (deterministic vs DuckDB)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    nation_rev = F.when(F.col("supp_nation") == "NATION_5", _rev()).otherwise(zero)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (
                F.sum(nation_rev).cast("double") / F.sum(_rev()).cast("double")
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# Q10 shape: top customers by returned-item revenue.
# --------------------------------------------------------------------------


@query(
    "analytics_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, n_name,
  CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
  CAST(c_acctbal AS DOUBLE) AS acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def analytics_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a half
    year, top 20.  Date predicate pushes into the orders scan; the top-20 is
    a TakeOrderedAndProject (no global sort materialization)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q14 shape: promo revenue percentage by ship month.
# --------------------------------------------------------------------------


@query(
    "analytics_promo_revenue",
    oracle=f"""
SELECT
  strftime(DATE_TRUNC('month', l_shipdate), '%Y-%m') AS ship_month,
  CAST(100 AS DOUBLE)
    * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_REV}
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY DATE_TRUNC('month', l_shipdate)
""",
)
def analytics_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percent of each month's revenue from PROMO parts.
    100 * x / y on exact-decimal-summed doubles: the multiply by the exact
    double 100 then one division — both engines agree bit-for-bit."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,2)")
    promo_rev = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(zero)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(_rev()).cast("double")
            ).alias("promo_pct")
        )
    )


# --------------------------------------------------------------------------
# Q18 shape: large-volume orders (HAVING over a fact-side rollup, then
# enrich with the customer dimension).
# --------------------------------------------------------------------------


@query(
    "analytics_large_orders",
    oracle="""
SELECT c_name, c_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(o_totalprice AS DOUBLE) AS totalprice,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
""",
)
def analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 150.  The rollup
    happens on (orderkey) BEFORE joining customer, so the HAVING filter
    shrinks the join input from |orders| to the handful of giants — at 100 TB
    that ordering is the difference between joining 1e10 and 1e4 rows."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier variety per part brand/type (COUNT DISTINCT across a
# fact-derived bridge, standing in for the absent partsupp table).
# --------------------------------------------------------------------------


@query(
    "analytics_supplier_variety",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
""",
)
def analytics_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each brand/type/size
    (lineitem stands in for partsupp).  COUNT DISTINCT expands to a two-level
    aggregate — partial per-partition dedup before the exchange, so the
    shuffle carries distinct (group, suppkey) pairs, not raw lineitems."""
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
        .limit(50)
    )


# --------------------------------------------------------------------------
# Q22 shape: well-funded customers who never ordered, by nation.
# --------------------------------------------------------------------------


@query(
    "analytics_idle_customers",
    oracle=f"""
WITH threshold AS (
  SELECT {sql_davg('c_acctbal')} AS avg_bal FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey AS nationkey, COUNT(*) AS n_custs,
  {sql_dsum('c_acctbal')} AS total_bal
FROM customer, threshold
WHERE c_acctbal > threshold.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
)
def analytics_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and zero orders.
    The average is an exact decimal sum / count (deterministic vs DuckDB);
    the no-orders test is a LEFT ANTI join on the order keys — at scale the
    anti join shuffles only the distinct custkey projection of orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal").alias("avg_bal"))
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


# --------------------------------------------------------------------------
# Q6 shape: forecast revenue change — the canonical scan-only aggregate.
# Completes the full TPC-H 1-22 shape coverage (Q1 aggregates.py, Q3/Q5
# joins.py, the rest here).
# --------------------------------------------------------------------------


@query(
    "analytics_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS lost_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def analytics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be gained by eliminating small
    discounts — a pure scan + filter + global aggregate, ZERO joins.  The
    plan test to care about: all three predicates reach the parquet scan
    (PushedFilters) so only matching row groups are read; the aggregate is
    partial+final with no other exchange.  Exact decimal product keeps the
    sum hash-identical to DuckDB."""
    li = t(spark, sf_dir, "lineitem")
    lost = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(8,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(lost).cast("double").alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q2 shape: correlated-min — for each small STANDARD part, the supplier(s)
# offering its cheapest lineitem.
# --------------------------------------------------------------------------


@query(
    "analytics_min_cost_supplier",
    oracle="""
WITH minc AS (
  SELECT l_partkey AS mk, MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey, p_name, s_name,
       CAST(min_price AS DOUBLE) AS min_price
FROM part
JOIN minc ON p_partkey = mk
JOIN lineitem ON l_partkey = p_partkey
  AND CAST(l_extendedprice AS DECIMAL(18,2)) = min_price
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size <= 3 AND p_type = 'STANDARD'
""",
)
def analytics_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated `price = (SELECT min(price) ...)`
    subquery, decorrelated to aggregate-then-join.  The per-part min is a
    single map-side-combined shuffle on l_partkey; the equality join back to
    lineitem reuses the same key so AQE coalesces into one exchange each
    side.  Part is filtered before its (broadcast) join, exactly what the
    100 TB plan wants."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 3) & (F.col("p_type") == "STANDARD")
    )
    s = t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    minc = li.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min(price).alias("min_price")
    )
    return (
        li.join(minc, (li.l_partkey == minc.mk) & (price == F.col("min_price")))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("min_price").cast("double").alias("min_price"),
        )
    )


# --------------------------------------------------------------------------
# Q4 shape: EXISTS — order-priority counts for orders with a returned item.
# --------------------------------------------------------------------------


@query(
    "analytics_priority_exists",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def analytics_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS realized as a LEFT SEMI join — lineitem is
    filtered (returnflag pushdown) before the semi join, and the semi join
    never widens orders, so the agg input stays one row per order.  The date
    filter prunes orders before the shuffle."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and year (retailprice as cost proxy).
# --------------------------------------------------------------------------


@query(
    "analytics_nation_profit",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(SUM({_SQL_REV}
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(0.1 AS DECIMAL(3,1))
                  * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%blue%'
GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)
""",
)
def analytics_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (ps_supplycost proxied by 10% of p_retailprice, which
    the testdata has).  The p_name LIKE filter shrinks part before its
    broadcast join, which in turn prunes lineitem rows ahead of the one big
    lineitem⋈orders shuffle."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.lit(0.1).cast("decimal(3,1)")
        * F.col("l_quantity").cast("decimal(8,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(F.sum(_rev() - cost).cast("double").alias("profit"))
    )


# --------------------------------------------------------------------------
# Q11 shape: scalar-subquery HAVING — parts whose inventory value exceeds a
# fraction of the total.
# --------------------------------------------------------------------------


@query(
    "analytics_important_parts",
    oracle="""
SELECT l_partkey AS partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(8,2))) AS DECIMAL(25,4)) AS DOUBLE)
     > (SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(8,2))) AS DECIMAL(25,4))
                    AS DOUBLE)
               * 1.4 / COUNT(DISTINCT l_partkey) FROM lineitem)
""",
)
def analytics_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery.  The global total
    is a 1-row aggregate broadcast-cross-joined onto the per-part aggregate
    (whitelisted 1-row cross join); both aggregates are map-side-combined
    single shuffles over the same scan, and exact decimal keeps the
    threshold comparison bit-identical with the oracle."""
    li = t(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_quantity").cast(
        "decimal(8,2)"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(val).cast("decimal(25,4)").alias("val_dec")
    )
    # TPC-H scales Q11's fraction by 1/SF; the scale-invariant spelling is
    # "1.4x the average per-part value", computed with the same IEEE ops as
    # the oracle (double total * 1.4 / part count — identical operand order).
    total = li.agg(
        (
            F.sum(val).cast("decimal(25,4)").cast("double")
            * F.lit(1.4)
            / F.count_distinct(F.col("l_partkey"))
        ).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val_dec").cast("double") > F.col("threshold"))
        .select("partkey", F.col("val_dec").cast("double").alias("part_value"))
    )


# --------------------------------------------------------------------------
# Q12 shape: priority-class counts per line status in a ship-year.
# --------------------------------------------------------------------------


@query(
    "analytics_priority_class",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY l_linestatus
""",
)
def analytics_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode proxied by l_linestatus, which the testdata
    has): conditional counts after the fact join.  The shipdate range prunes
    lineitem before the join — at 100 TB with date-partitioned layout this
    becomes partition pruning, not a scan."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution via left outer join.
# --------------------------------------------------------------------------


@query(
    "analytics_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
)
def analytics_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an ON-clause predicate (the
    filter must NOT drop customers — it drops matches), then a two-level
    aggregate.  First agg shuffles on c_custkey; the distribution agg is
    tiny.  COUNT(o_orderkey) counts non-null matches only, preserving
    zero-order customers as c_count = 0."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "4-NOT SPECIFIED"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# Q15 shape: top supplier(s) — revenue view + scalar max subquery.
# --------------------------------------------------------------------------


@query(
    "analytics_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_SQL_REV}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
""",
)
def analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue "view" is computed once and reused for
    both the per-supplier rows and the scalar MAX (Spark caches nothing here
    — but AQE reuses the exchange, and the MAX side collapses to one row
    broadcast back).  Exact decimal makes `= MAX(...)` safe."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    s = t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q17 shape: correlated per-part average quantity threshold.
# --------------------------------------------------------------------------


@query(
    "analytics_small_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
       AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
""",
)
def analytics_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated AVG decorrelated to a per-part
    aggregate joined back on partkey.  l_quantity is integral-valued, so the
    double AVG is exact in any accumulation order and `0.2 * avg` is the
    same IEEE product on both engines; revenue is summed in exact decimal
    with one final division by 7."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("q_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("q_threshold"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunctive multi-table predicates.
# --------------------------------------------------------------------------


@query(
    "analytics_disjunctive_predicates",
    oracle=f"""
SELECT CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def analytics_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR'd conjunctions spanning both join sides.  Catalyst
    extracts the common single-table residuals (p_brand IN (...), p_size <=
    15, l_quantity <= 30) and pushes them below the join — the part scan
    reads 3 brands, not 50.  Verified in .explain: PushedFilters carries the
    In(p_brand) predicate."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & (q >= 1)
            & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & (q >= 10)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & (q >= 20)
            & (q <= 30)
        )
    )
    return j.filter(cond).agg(F.sum(_rev()).cast("double").alias("revenue"))


# --------------------------------------------------------------------------
# Q20 shape: nested IN — suppliers who shipped an outsized share of a part.
# --------------------------------------------------------------------------


@query(
    "analytics_excess_suppliers",
    oracle="""
SELECT DISTINCT s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    JOIN (SELECT l_partkey AS pk,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS part_total
          FROM lineitem GROUP BY l_partkey) totals
      ON l_partkey = pk
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    GROUP BY l_suppkey, l_partkey, part_total
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2)))
         > part_total * CAST(0.1 AS DECIMAL(3,2))
  )
""",
)
def analytics_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subqueries realized as semi joins.  The
    part-name filter shrinks the partkey set (broadcast), per-part totals
    and per-(supplier, part) sums share the l_partkey shuffle key, and the
    final supplier filter is a broadcast semi join onto the nation-pruned
    supplier dimension."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    red_parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li_red = li.join(F.broadcast(red_parts), li.l_partkey == F.col("p_partkey"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    totals = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("part_total")
    )
    excess = (
        li_red.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty).alias("supp_qty"))
        .join(totals, F.col("l_partkey") == F.col("pk"))
        .filter(
            F.col("supp_qty")
            > F.col("part_total") * F.lit(0.1).cast("decimal(3,2)")
        )
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        # the excess-supplier key set is small by construction (only
        # suppliers holding >10% of a part's volume — shares shrink as data
        # grows), so broadcast the semi-join side
        .join(F.broadcast(excess), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name")
        .distinct()
    )


# --------------------------------------------------------------------------
# Q21 shape: suppliers who were sole last-shippers in multi-supplier orders.
# --------------------------------------------------------------------------


@query(
    "analytics_waiting_suppliers",
    oracle="""
WITH per_supp AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk, MAX(l_shipdate) AS supp_max
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT ok, MAX(supp_max) AS order_max, COUNT(*) AS n_supps
  FROM per_supp GROUP BY ok
), last_counts AS (
  SELECT per_supp.ok AS lk, COUNT(*) AS n_last
  FROM per_supp JOIN per_order ON per_supp.ok = per_order.ok
  WHERE supp_max = order_max
  GROUP BY per_supp.ok
)
SELECT s_name, COUNT(*) AS numwait
FROM per_supp
JOIN per_order ON per_supp.ok = per_order.ok
JOIN last_counts ON per_supp.ok = lk
JOIN orders ON o_orderkey = per_supp.ok AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = sk
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
WHERE supp_max = order_max AND n_supps > 1 AND n_last = 1
GROUP BY s_name
""",
)
def analytics_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (commitdate/receiptdate proxied by ship dates): count,
    per NATION_7 supplier, the 'F' orders with 2+ suppliers where that
    supplier was the UNIQUE last shipper — Q21's EXISTS/NOT EXISTS pair
    expressed as one per-(order, supplier) aggregate plus one per-order
    rollup, two shuffles total on l_orderkey, instead of two self-joins of
    lineitem."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    per_supp = li.groupBy(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).agg(F.max("l_shipdate").alias("supp_max"))
    # One unbounded window over ok replaces the two self-joins of the CTE
    # spelling: lineitem is scanned once and shuffled twice (groupBy key
    # (ok, sk), then window key ok) instead of three scans + three shuffles.
    w = Window.partitionBy("ok")
    enriched = (
        per_supp.withColumn("order_max", F.max("supp_max").over(w))
        .withColumn("n_supps", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_last",
            F.sum(
                F.when(F.col("supp_max") == F.col("order_max"), 1).otherwise(0)
            ).over(w),
        )
    )
    return (
        enriched.filter(
            (F.col("supp_max") == F.col("order_max"))
            & (F.col("n_supps") > 1)
            & (F.col("n_last") == 1)
        )
        .join(o, F.col("ok") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
