"""Batch-relational query family (TPC-H-style) on the driver's tables.

The reference has no batch joins or multi-agg queries — Spark gets
broadcast/sort-merge joins, partial aggregation, predicate pushdown and
column pruning for free (SURVEY.md §2.9 note, §4). These queries are
the engine's headline batch path and the primary bench workload:

- q1: wide aggregation (8 aggs, 2 group keys) — partial-agg heavy;
- q3: 3-table join + agg;
- q5: 5-table star join — region/nation broadcast, AQE reorders;
- q6: selective scan-agg — predicate pushdown to parquet.

Broadcast-hint policy (100 TB discipline): explicit ``F.broadcast`` only
on tables whose size is bounded by construction — nation (25) and
region (5 rows) — and on 1-row scalar aggregates. customer / supplier /
part scale linearly with the dataset, so their join strategy is left to
AQE, which broadcasts them at runtime when (and only when) the filtered
side is actually small.

Cross-engine determinism: money math is done in DECIMAL (exact sums,
identical half-away-from-zero rounding on the final cast in both Spark
and DuckDB — double sums are order-dependent and round() semantics
diverge at decimal half-points). Averages are derived from the exact
decimal sums with an explicit floor-based half-up, which is a pure
function of identical doubles on both engines.

Output-dtype policy: the FINAL projection casts
every decimal aggregate to DOUBLE and every integer sum to BIGINT, on
BOTH engines. In the pandas/Arrow comparison path Spark renders
DECIMAL as Decimal objects and integer sums as int64, while DuckDB
renders DECIMAL and HUGEINT sums as float64 — same values, different
serialized hashes. The values are exactly rounded before the cast, so
the double is the same bit pattern on both engines. Internal math
stays DECIMAL; only the output projection changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import Query

# money columns as exact decimals — precisions kept tight so products
# never exceed precision 38 (overflow triggers engine-specific scale
# reduction: Spark and DuckDB round differently there)
_EP = "CAST(l_extendedprice AS DECIMAL(12,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"
_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
_DISC_PRICE = f"{_EP} * (1 - {_DISC})"
_CHARGE = f"{_EP} * (1 - {_DISC}) * (1 + {_TAX})"


def _avg4(sum_expr: str, cnt: str = "count(*)") -> str:
    """Deterministic 4-dp half-up average from an exact decimal sum."""
    return f"floor(CAST({sum_expr} AS DOUBLE) / {cnt} * 10000 + 0.5) / 10000"


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST(round(sum({_QTY}), 2) AS DOUBLE)").alias("sum_qty"),
            F.expr(f"CAST(round(sum({_EP}), 2) AS DOUBLE)").alias("sum_base_price"),
            F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("sum_disc_price"),
            F.expr(f"CAST(round(sum({_CHARGE}), 2) AS DOUBLE)").alias("sum_charge"),
            F.expr(_avg4(f"sum({_QTY})")).alias("avg_qty"),
            F.expr(_avg4(f"sum({_EP})")).alias("avg_price"),
            F.expr(_avg4(f"sum({_DISC})")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


TPCH_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum({_QTY}), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum({_EP}), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum({_CHARGE}), 2) AS DOUBLE) AS sum_charge,
       {_avg4(f"sum({_QTY})")} AS avg_qty,
       {_avg4(f"sum({_EP})")} AS avg_price,
       {_avg4(f"sum({_DISC})")} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("revenue"))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("long").alias("orderdate_s"),
            "o_orderpriority",
            "revenue",
        )
    )


TPCH_Q3_ORACLE = f"""
SELECT o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_s,
       o_orderpriority,
       CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: revenue per nation for one region. region/nation are
    broadcast (tiny dims); customer⋈orders⋈lineitem carry the shuffles
    on their keys."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("revenue"))
    )


TPCH_Q5_ORACLE = f"""
SELECT n_name,
       CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM region, nation, customer, orders, lineitem
WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
"""


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.expr(f"CAST(round(sum({_EP} * {_DISC}), 4) AS DOUBLE)").alias("revenue"))
    )


TPCH_Q6_ORACLE = f"""
SELECT CAST(round(sum({_EP} * {_DISC}), 4) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join shape (TPC-H Q4, adapted: no l_commitdate column, the
    EXISTS predicate is l_shipdate > o_orderdate): orders with at least
    one late-shipped line, counted per priority. LEFT SEMI keeps only
    the order key + priority flowing — no lineitem payload after the
    join, and the probe side deduplicates in the join itself."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


_Q7_SUPP = ("NATION_1", "NATION_2", "NATION_3")
_Q7_CUST = ("NATION_4", "NATION_5", "NATION_6")


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping shape (TPC-H Q7): revenue between two nation
    groups per year. supplier/customer/nation are broadcast dims; the
    only shuffles are the l⋈o fact join and the final small agg."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*_Q7_SUPP)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*_Q7_CUST)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("revenue"))
    )


TPCH_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND n1.n_name IN {_Q7_SUPP} AND n2.n_name IN {_Q7_CUST}
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue Top-20 (TPC-H Q10). Exact decimal revenue
    plus a total-order tiebreak (revenue DESC, c_custkey) makes the
    LIMIT deterministic across engines."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


TPCH_Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


_HIGH_PRIO = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation shape (TPC-H Q12, adapted: grouped by
    l_linestatus since the slim schema has no l_shipmode)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.expr(f"CAST(sum(CASE WHEN {_HIGH_PRIO} THEN 1 ELSE 0 END) AS BIGINT)").alias("high_line_count"),
            F.expr(f"CAST(sum(CASE WHEN {_HIGH_PRIO} THEN 0 ELSE 1 END) AS BIGINT)").alias("low_line_count"),
        )
    )


TPCH_Q12_ORACLE = f"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN {_HIGH_PRIO} THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN {_HIGH_PRIO} THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
"""


# q14-shape ratio: identical textual formula on both engines — exact
# decimal sums cast to double, one FP division, floor-based 4-dp round.
_Q14_RATIO = (
    f"floor(CAST(100 * sum(CASE WHEN p_type = 'ECONOMY' THEN {_DISC_PRICE} "
    f"ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) "
    f"/ CAST(sum({_DISC_PRICE}) AS DOUBLE) * 10000 + 0.5) / 10000"
)


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-revenue-ratio shape (TPC-H Q14): part dim broadcast, one
    scalar output row."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-02-01")
    )
    p = load(spark, sf_dir, "part")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(F.expr(_Q14_RATIO).alias("economy_revenue_ratio"))
    )


TPCH_Q14_ORACLE = f"""
SELECT {_Q14_RATIO} AS economy_revenue_ratio
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
"""


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-supplier shape (TPC-H Q15): scalar-max subquery. The max is
    a 1-row aggregate cross-broadcast back onto the per-supplier
    revenues — no single-partition window, no second scan shuffle."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = l.groupBy("l_suppkey").agg(
        F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top._max_rev)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue"))
    )


TPCH_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey,
         CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = l_suppkey
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


_Q16_SIZES = (1, 5, 10, 15, 20, 25, 30, 35)


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-count shape (TPC-H Q16, adapted: lineitem is the
    part↔supplier bridge since the slim schema has no partsupp).
    Distinct-agg after a broadcast dim join."""
    p = load(spark, sf_dir, "part").filter(
        ~F.col("p_brand").isin("Brand#1", "Brand#2") & F.col("p_size").isin(*_Q16_SIZES)
    )
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_ORACLE = f"""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part, lineitem
WHERE p_partkey = l_partkey
  AND p_brand NOT IN ('Brand#1', 'Brand#2')
  AND p_size IN {_Q16_SIZES}
GROUP BY p_brand, p_type, p_size
"""


# q17: l_quantity is integral (1..50) so sum/avg are exact in FP; the
# 0.2*avg threshold is the same double on both engines.
_Q17_REV = f"CAST(round(CAST(sum({_EP}) AS DOUBLE) / 7.0 * 100 + 0.5, 0) / 100 AS DOUBLE)"


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): correlated AVG
    subquery decorrelated into a per-part aggregate joined back to
    lineitem. The per-part thresholds re-shuffle on l_partkey once;
    AQE turns the join broadcast when the agg side is small."""
    l = load(spark, sf_dir, "lineitem")
    thresholds = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(thresholds, l.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.expr(_Q17_REV).alias("avg_yearly"))
    )


TPCH_Q17_ORACLE = f"""
SELECT {_Q17_REV} AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_threshold
      FROM lineitem GROUP BY l_partkey) t
  ON l.l_partkey = t.t_partkey
WHERE l.l_quantity < t.qty_threshold
"""


_Q18_QTY = 150


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18): HAVING-subquery shape. One
    pass over lineitem computes the per-order quantity sum; the HAVING
    filter and the output column reuse that single aggregate (no second
    lineitem scan), then orders/customer attach by key."""
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.expr(f"CAST(round(sum({_QTY}), 2) AS DOUBLE)").alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_QTY)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("long").alias("orderdate_s"),
            "o_totalprice",
            "sum_qty",
        )
    )


TPCH_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_s,
       o_totalprice,
       CAST(round(sum({_QTY}), 2) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > {_Q18_QTY})
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


_Q19_PRED = """
  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 30)
  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 40)
"""


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-predicate join (TPC-H Q19): the equi-key join plus
    an OR-of-conjunctions residual filter — broadcast the part dim so
    the residual evaluates without a shuffle."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(F.expr(_Q19_PRED))
        .agg(F.expr(f"CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE)").alias("revenue"))
    )


TPCH_Q19_ORACLE = f"""
SELECT CAST(round(sum({_DISC_PRICE}), 2) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey AND ({_Q19_PRED})
"""


# q22: the avg threshold is derived from the exact decimal sum with the
# same textual formula on both engines — no order-dependent double sum.
_ACCTBAL_AVG = (
    "CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)"
)


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity shape (TPC-H Q22, adapted: grouped by
    c_nationkey, anti join on recent orders instead of all orders since
    every synthetic customer has some order). Scalar-avg subquery
    broadcast + LEFT ANTI join."""
    c = load(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.expr(_ACCTBAL_AVG).alias("_avg_bal"))
    recent = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr("CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)")
            .alias("totacctbal"),
        )
    )


TPCH_Q22_ORACLE = f"""
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {_ACCTBAL_AVG} FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
"""


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13, adapted: the
    join residual filters a priority class instead of the absent
    o_comment regex). LEFT OUTER join preserving order-less customers,
    then two aggregations — count per customer, customers per count."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


TPCH_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# q8 market-share ratio: same textual formula both engines (exact
# decimal sums -> double division -> floor-based 6-dp round)
_Q8_SHARE = (
    f"floor(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume "
    f"ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) "
    f"/ CAST(sum(volume) AS DOUBLE) * 1000000 + 0.5) / 1000000"
)


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8): one nation's revenue fraction
    inside one region's market per year. Seven-table join — the two
    fact tables shuffle on their keys once, every dim is broadcast."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.expr(f"CAST({_DISC_PRICE} AS DECIMAL(16,4))").alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(F.expr(_Q8_SHARE).alias("mkt_share"))


TPCH_Q8_ORACLE = f"""
SELECT o_year, {_Q8_SHARE} AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         CAST({_DISC_PRICE} AS DECIMAL(16,4)) AS volume,
         n2.n_name AS supp_nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND p_type = 'ECONOMY'
)
GROUP BY o_year
"""


_Q21_NATIONS = ("NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4")
_Q21_LATE = "l_shipdate > o_orderdate + INTERVAL 60 DAY"


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting shape (TPC-H Q21, adapted: no
    l_commitdate/l_receiptdate in the testdata, so "late" is
    l_shipdate > o_orderdate + 60 days). Counts late lines of suppliers
    who were the *only* late supplier on a multi-supplier 'F' order.

    The canonical form is EXISTS + NOT-EXISTS self-joins on lineitem —
    three scans and two extra orderkey shuffles at 100 TB (and Spark
    plans the correlated subqueries as two *independent* re-scans of
    the per-supplier aggregate). This plan makes one pass: aggregate
    per (order, supplier) late-line stats, then qualify each supplier
    with window functions over the orderkey partition — no join-back,
    one lineitem scan, two exchanges total before the tiny dim joins."""
    from pyspark.sql.window import Window

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per_supp = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", F.expr(f"CAST(({_Q21_LATE}) AS INT)").alias("is_late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("is_late").alias("late_lines"))
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_supp.select(
            "l_orderkey",
            "l_suppkey",
            "late_lines",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum((F.col("late_lines") > 0).cast("int")).over(w).alias("n_late_supp"),
        )
        .filter((F.col("late_lines") > 0) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*_Q21_NATIONS))
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


TPCH_Q21_ORACLE = f"""
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.{_Q21_LATE}
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.{_Q21_LATE})
  AND s_nationkey = n_nationkey
  AND n_name IN {_Q21_NATIONS}
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ---- derived partsupp -------------------------------------------------
# The slim schema ships no partsupp table, so the four partsupp-centric
# queries (q2/q9/q11/q20) derive the part↔supplier bridge from lineitem
# — the same adaptation q16 already uses for its supplier counts:
#   ps_cost_e4  = best observed unit price, in exact 1e-4 integer units
#                 (one IEEE division of identical doubles + floor-based
#                 half-up on both engines — deterministic; staying in
#                 BIGINT keeps every downstream product/sum exact, so
#                 cross-engine double-summation order can't matter);
#   ps_availqty = total quantity supplied (integral doubles sum exact).
# At 100 TB the derived bridge is one map-side-combined shuffle on
# (l_partkey, l_suppkey) — strictly cheaper than the real partsupp scan
# + join it stands in for. Each caller additionally PRE-FILTERS the
# lineitem side with a broadcast left-semi join on its selective
# dimension predicate BEFORE the aggregate (Spark does not push joins
# through aggregates itself): the predicates are on grouping keys, so
# every surviving group keeps all of its rows and the aggregate values
# are identical — but the bridge shuffle carries only the few percent
# of groups the query will keep. The explicit F.broadcast assumes the
# FILTERED key set stays broadcast-sized; that holds for a fixed name/
# type/size predicate only up to the SF where a few percent of part
# still fits an executor — past that, drop the hint and let AQE pick
# the join side (the semi below the aggregate stays correct either
# way, it just shuffles).


def _push_semi(l: DataFrame, keys: DataFrame, left_col: str, key_col: str) -> DataFrame:
    """Broadcast left-semi of ``l`` against a selective key frame —
    the one pushdown pattern all four partsupp-derived queries share."""
    return l.join(F.broadcast(keys), F.col(left_col) == F.col(key_col), "left_semi")

_PS_COST_E4 = "CAST(floor(l_extendedprice / l_quantity * 10000 + 0.5) AS BIGINT)"

_PS_SQL = f"""
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min({_PS_COST_E4}) AS ps_cost_e4,
         CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
  FROM lineitem GROUP BY 1, 2
"""


def _derived_partsupp(l: DataFrame) -> DataFrame:
    return l.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.expr(f"min({_PS_COST_E4})").alias("ps_cost_e4"),
        F.expr("CAST(sum(l_quantity) AS BIGINT)").alias("ps_availqty"),
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost-supplier shape (TPC-H Q2): the correlated MIN
    subquery ("the supplier whose cost equals the minimum for that part
    within the region") decorrelated into a per-part aggregate joined
    back on (part, min cost) — one extra agg over the already-grouped
    eligible set instead of a per-row re-scan. part/supplier/nation/
    region all reach the derived-partsupp shuffle as broadcasts; the
    min-cost frame is tiny (one row per surviving part) and broadcasts
    back. Cost equality joins on the exact BIGINT e4 units, never a
    float. The part filter semi-joins lineitem BELOW the bridge
    aggregate (predicate on a grouping key — result-identical), so the
    shuffle carries only the surviving parts' groups."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    l = _push_semi(
        load(spark, sf_dir, "lineitem"), p.select("p_partkey"), "l_partkey", "p_partkey"
    )
    ps = _derived_partsupp(l).select("ps_partkey", "ps_suppkey", "ps_cost_e4")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from ..caching import track

    # referenced twice (min-cost frame + final join) — persist so the
    # derived-partsupp shuffle and lineitem scan run once, not per branch
    eligible = track(
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(supp), ps.ps_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "ps_cost_e4", "s_name", "s_acctbal", "n_name")
        .persist()
    )
    mincost = eligible.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("ps_cost_e4").alias("min_cost_e4")
    )
    return (
        eligible.join(
            F.broadcast(mincost),
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("ps_cost_e4") == F.col("min_cost_e4")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_cost_e4").cast("double") / 10000).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


TPCH_Q2_ORACLE = f"""
WITH ps AS ({_PS_SQL}),
eligible AS (
  SELECT p_partkey, p_brand, ps_cost_e4, s_name, s_acctbal, n_name
  FROM ps, part, supplier, nation, region
  WHERE ps_partkey = p_partkey AND ps_suppkey = s_suppkey
    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 10
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_cost_e4 AS DOUBLE) / 10000 AS supply_cost
FROM eligible e
WHERE ps_cost_e4 = (SELECT min(ps_cost_e4) FROM eligible m
                    WHERE m.p_partkey = e.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type-profit shape (TPC-H Q9): profit = revenue minus
    supply cost, by supplier nation and order year. The supply-cost
    lookup joins lineitem back to its own (part, supplier) aggregate —
    the q17 self-agg discipline — then orders attaches the year and the
    supplier→nation dims broadcast. Profit stays an exact BIGINT in
    1e-4 units until the terminal projection (sum order can't matter);
    at 100 TB the DECIMAL(38) variant replaces the BIGINT but the plan
    is unchanged: two fact shuffles (the ps aggregate, the orderkey
    join), everything else broadcast — and both shuffles carry only
    the '%gear%' parts' rows, because the part filter semi-joins
    lineitem below the bridge aggregate (grouping-key predicate,
    result-identical)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    # only the BRIDGE input needs the semi — the fact path inner-joins
    # broadcast(p) on the same key below, which subsumes it
    l = load(spark, sf_dir, "lineitem")
    ps = _derived_partsupp(
        _push_semi(l, p.select(F.col("p_partkey").alias("_fp")), "l_partkey", "_fp")
    ).select("ps_partkey", "ps_suppkey", "ps_cost_e4")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    profit_e4 = (
        F.expr(f"CAST({_DISC_PRICE} * 10000 AS BIGINT)")
        - F.col("ps_cost_e4") * F.expr("CAST(l_quantity AS BIGINT)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(ps, (l.l_partkey == ps.ps_partkey) & (l.l_suppkey == ps.ps_suppkey))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "o_year", profit_e4.alias("profit_e4"))
        .groupBy("nation", "o_year")
        .agg((F.sum("profit_e4").cast("double") / 10000).alias("sum_profit"))
    )


TPCH_Q9_ORACLE = f"""
WITH ps AS ({_PS_SQL})
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST({_DISC_PRICE} * 10000 AS BIGINT)
                - ps_cost_e4 * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 10000
         AS sum_profit
FROM lineitem, ps, part, orders, supplier, nation
WHERE l_partkey = p_partkey AND l_partkey = ps_partkey
  AND l_suppkey = ps_suppkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%gear%'
GROUP BY 1, 2
"""


_Q11_SHARE_MULT = 2  # keep parts holding > 2x the average part's value


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock shape (TPC-H Q11): per-part inventory value
    filtered by a HAVING scalar subquery against the grand total. The
    canonical fixed fraction scales as 1/SF in the spec (a constant
    share selects nothing as the catalog grows), so the threshold here
    is SIZE-RELATIVE — parts holding more than ``_Q11_SHARE_MULT``
    times the average part's value — which keeps the selectivity
    stable at every SF. Both scalars (total, part count) come from ONE
    1-row aggregate broadcast-crossed back onto the per-part frame —
    no second scan of the bridge, no single-partition window. Value
    stays exact BIGINT e4 units; the compare cross-multiplies integers
    (no float in the filter; at true 100 TB card the product needs
    DECIMAL(38) headroom, same swap as q9's profit note). The nation's
    supplier keys semi-join lineitem below the bridge aggregate
    (grouping-key predicate, result-identical), so the shuffle carries
    one nation's groups, not the world's."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    nat_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    l = _push_semi(
        load(spark, sf_dir, "lineitem"), nat_supp, "l_suppkey", "s_suppkey"
    )
    ps = _derived_partsupp(l)
    from ..caching import track

    # the semi-join above already restricts the bridge to the nation's
    # suppliers — no post-aggregate supplier/nation join needed
    joined = ps.select(
        "ps_partkey", (F.col("ps_cost_e4") * F.col("ps_availqty")).alias("value_e4")
    )
    # referenced twice (grand total + HAVING filter) — persist so the
    # bridge aggregate runs once instead of once per branch
    grouped = track(
        joined.groupBy("ps_partkey").agg(F.sum("value_e4").alias("value_e4")).persist()
    )
    total = grouped.agg(
        F.sum("value_e4").alias("total_e4"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        grouped.join(F.broadcast(total))
        .filter(
            F.col("value_e4") * F.col("n_parts")
            > _Q11_SHARE_MULT * F.col("total_e4")
        )
        .select("ps_partkey", (F.col("value_e4").cast("double") / 10000).alias("value"))
    )


TPCH_Q11_ORACLE = f"""
WITH ps AS ({_PS_SQL}),
grouped AS (
  SELECT ps_partkey, sum(ps_cost_e4 * ps_availqty) AS value_e4
  FROM ps, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_19'
  GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(value_e4 AS DOUBLE) / 10000 AS value
FROM grouped
WHERE value_e4 * (SELECT count(*) FROM grouped)
      > {_Q11_SHARE_MULT} * (SELECT sum(value_e4) FROM grouped)
"""


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-part-promotion shape (TPC-H Q20): nested semi-joins —
    suppliers having a promo part whose off-1997 stock exceeds half of
    what they shipped in 1997 (adapted: no ps_availqty column exists,
    so "stock" is the quantity supplied outside the window — the
    correlated inner SUM subquery survives intact as the conditional
    split of one aggregate). One lineitem pass computes both sums;
    the part filter semi-joins as a broadcast; the qualifying supplier
    keys collapse to a distinct set that semi-joins supplier. The
    half-threshold compares 2*stock > shipped in exact integers. The
    promo-part semi-join sits BELOW the pair aggregate (grouping-key
    predicate, result-identical), so the shuffle carries only promo
    parts' groups."""
    promo = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    l = _push_semi(load(spark, sf_dir, "lineitem"), promo, "l_partkey", "p_partkey")
    pairs = l.groupBy("l_partkey", "l_suppkey").agg(
        F.expr(
            "CAST(sum(CASE WHEN l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'"
            " THEN l_quantity ELSE 0 END) AS BIGINT)"
        ).alias("shipped_1997"),
        F.expr(
            "CAST(sum(CASE WHEN l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'"
            " THEN 0 ELSE l_quantity END) AS BIGINT)"
        ).alias("stock_qty"),
    )
    qualified = (
        pairs.filter(
            (F.col("shipped_1997") > 0)
            & (F.lit(2) * F.col("stock_qty") > F.col("shipped_1997"))
        )
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_18")
    return (
        s.join(qualified, s.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


TPCH_Q20_ORACLE = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_18'
  AND s_suppkey IN (
    SELECT l_suppkey FROM (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                           THEN l_quantity ELSE 0 END) AS BIGINT) AS shipped_1997,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                           THEN 0 ELSE l_quantity END) AS BIGINT) AS stock_qty
      FROM lineitem GROUP BY 1, 2)
    WHERE shipped_1997 > 0 AND 2 * stock_qty > shipped_1997
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'))
ORDER BY s_name
"""


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (priority → status → grand
    total) — the multi-level aggregation surface the reference lacks
    entirely (SURVEY.md §2.7 note: no grouping sets/cube/rollup).
    One Expand + one aggregation exchange, same as a plain groupBy."""
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)"
            ).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
    )


ORDERS_ROLLUP_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS total_price,
       GROUPING(o_orderpriority, o_orderstatus) AS gid
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""




def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (order year, status): every cross-marginal —
    the slices ROLLUP's strict hierarchy cannot produce (status totals
    without a year, and the grand total, in one pass). Same physical
    cost class as orders_rollup: one Expand (4 grouping sets) feeding
    one aggregation exchange; at 100 TB the Expand multiplies the
    map-side rows 4x but the partial aggregate collapses them before
    the shuffle, so the wire carries |years x statuses| x 4 rows."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube(F.year("o_orderdate").alias("order_year"), F.col("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)"
            ).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
    )


ORDERS_CUBE_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS total_price,
       GROUPING(year(o_orderdate), o_orderstatus) AS gid
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
"""


# --- referential-integrity coverage audit ---
#
# The data-quality gate a warehouse load runs before anything joins:
# for each FK edge of the star schema, how many child rows resolve a
# parent and how many are orphans. The scale shape is
# aggregate-then-probe: each child side collapses to its DISTINCT key
# frame first (one map-side-combined groupBy, the only corpus-sized
# shuffle), and the parent side joins as a bare unique-key projection
# — broadcast when it fits, co-partitioned shuffle join when it
# doesn't — so the join never carries child row multiplicity.

FK_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
)


def fk_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track

    # one scan per TABLE, not per edge: tables on 2+ edges (lineitem
    # as child of two parents, orders/customer as both child and
    # parent) are persisted as the narrow projection of exactly the
    # key columns the edges touch, so the largest fact table is read
    # from parquet once however many edges probe it; single-edge
    # tables stay plain scans — a persist with no reuse is pure
    # block-store overhead
    uses: dict[str, set[str]] = {}
    for _edge, child, ckey, parent, pkey in FK_EDGES:
        uses.setdefault(child, set()).add(ckey)
        uses.setdefault(parent, set()).add(pkey)
    frames = {}
    for t, ks in uses.items():
        proj = load(spark, sf_dir, t).select(*sorted(ks))
        n_uses = sum(
            (t == c) + (t == p) for _e, c, _ck, p, _pk in FK_EDGES
        )
        frames[t] = track(proj.persist()) if n_uses > 1 else proj
    out = None
    for edge, child, ckey, parent, pkey in FK_EDGES:
        ca = (
            frames[child]
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pk = frames[parent].select(F.col(pkey).alias("k"), F.lit(1).alias("hit"))
        row = (
            ca.join(pk, "k", "left")
            .agg(
                F.lit(edge).alias("edge"),
                F.sum("cnt").cast("long").alias("child_rows"),
                F.count(F.lit(1)).cast("long").alias("child_keys"),
                F.sum(F.when(F.col("hit").isNotNull(), F.col("cnt")).otherwise(0))
                .cast("long")
                .alias("matched_rows"),
                F.sum(F.when(F.col("hit").isNull(), F.col("cnt")).otherwise(0))
                .cast("long")
                .alias("orphan_rows"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


FK_AUDIT_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{edge}' AS edge,
       CAST(sum(cnt) AS BIGINT) AS child_rows,
       CAST(count(*) AS BIGINT) AS child_keys,
       CAST(sum(CASE WHEN p.k IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS matched_rows,
       CAST(sum(CASE WHEN p.k IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS orphan_rows
FROM (SELECT {ckey} AS k, count(*) AS cnt FROM {child} GROUP BY 1) c
LEFT JOIN (SELECT {pkey} AS k FROM {parent}) p USING (k)
"""
    for edge, child, ckey, parent, pkey in FK_EDGES
)


QUERIES = [
    Query("tpch_q1", tpch_q1, TPCH_Q1_ORACLE, "batch agg (beyond ref)", ("bench",)),
    Query("tpch_q2", tpch_q2, TPCH_Q2_ORACLE, "correlated-min subquery (beyond ref)", ("bench",)),
    Query("tpch_q9", tpch_q9, TPCH_Q9_ORACLE, "profit multi-join self-agg (beyond ref)", ("bench",)),
    Query("tpch_q11", tpch_q11, TPCH_Q11_ORACLE, "HAVING scalar subquery (beyond ref)", ("bench",)),
    Query("tpch_q20", tpch_q20, TPCH_Q20_ORACLE, "nested semi-join (beyond ref)", ("bench",)),
    Query("tpch_q3", tpch_q3, TPCH_Q3_ORACLE, "batch join+agg (beyond ref)", ("bench",)),
    Query("tpch_q4", tpch_q4, TPCH_Q4_ORACLE, "semi join (beyond ref)", ("bench",)),
    Query("tpch_q5", tpch_q5, TPCH_Q5_ORACLE, "batch star join (beyond ref)", ("bench",)),
    Query("tpch_q6", tpch_q6, TPCH_Q6_ORACLE, "batch scan-agg (beyond ref)", ("bench",)),
    Query("tpch_q7", tpch_q7, TPCH_Q7_ORACLE, "multi-dim broadcast join (beyond ref)"),
    Query("tpch_q8", tpch_q8, TPCH_Q8_ORACLE, "7-table join + share ratio (beyond ref)"),
    Query("tpch_q10", tpch_q10, TPCH_Q10_ORACLE, "top-n join+agg (beyond ref)", ("bench",)),
    Query("tpch_q12", tpch_q12, TPCH_Q12_ORACLE, "conditional agg (beyond ref)"),
    Query("tpch_q13", tpch_q13, TPCH_Q13_ORACLE, "outer join + distribution agg (beyond ref)"),
    Query("tpch_q14", tpch_q14, TPCH_Q14_ORACLE, "agg ratio (beyond ref)"),
    Query("tpch_q15", tpch_q15, TPCH_Q15_ORACLE, "scalar-max subquery (beyond ref)"),
    Query("tpch_q16", tpch_q16, TPCH_Q16_ORACLE, "distinct agg (beyond ref)"),
    Query("tpch_q17", tpch_q17, TPCH_Q17_ORACLE, "correlated-avg subquery (beyond ref)"),
    Query("tpch_q18", tpch_q18, TPCH_Q18_ORACLE, "having subquery semi join (beyond ref)", ("bench",)),
    Query("tpch_q19", tpch_q19, TPCH_Q19_ORACLE, "disjunctive-pred join (beyond ref)"),
    Query("tpch_q21", tpch_q21, TPCH_Q21_ORACLE, "exists/not-exists self-join (beyond ref)"),
    Query("tpch_q22", tpch_q22, TPCH_Q22_ORACLE, "anti join + scalar subquery (beyond ref)"),
    Query("orders_rollup", orders_rollup, ORDERS_ROLLUP_ORACLE, "rollup/grouping-sets (beyond ref)"),
    Query("orders_cube", orders_cube, ORDERS_CUBE_ORACLE, "full cube cross-marginals (beyond ref)"),
    Query("fk_coverage_audit", fk_coverage_audit, FK_AUDIT_ORACLE,
          "referential-integrity audit: aggregate-then-probe per FK edge (beyond ref)"),
]
