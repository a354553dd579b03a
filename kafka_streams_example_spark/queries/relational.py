"""Extended relational coverage: the remaining classic TPC-H query shapes,
adapted to the driver's reduced schemas (no partsupp / commit dates / phone
— see repo:TESTDATA.md). Each query exercises a distinct relational pattern
not covered elsewhere in the registry:

- q2:  correlated scalar-MIN subquery  -> window-min rewrite (one scan)
- q7:  region-pair volume join         -> 5-way join, dims broadcast
- q8:  market-share ratio per year     -> conditional-sum ratio
- q9:  product profit                  -> two decimal sums combined in doubles
- q11: HAVING vs scalar subquery       -> broadcast scalar threshold
- q13: distribution of an aggregate    -> left-outer join + group-on-count
- q15: argmax via scalar subquery      -> broadcast max equality
- q16: distinct-count w/ NOT IN        -> broadcast anti-join exclusion
- q21: double-correlated EXISTS/NOT EXISTS -> per-order supplier stats
- q22: NOT EXISTS + scalar AVG         -> anti-join + broadcast scalar

Scale notes (100 TB target): `nation`/`region` are fixed-size -> always
broadcast. `supplier` is the smallest scaling table (10k rows/SF in TPC-H
proportions) -> broadcast. `part` is broadcast only AFTER a selective
filter. `customer`/`orders`/`lineitem` shuffle on their join keys; every
aggregation is a plain hash groupBy with map-side partial aggregation, and
all filters sit directly on the scans so Catalyst pushes them into parquet.

These are engine-surface queries, not ports: the reference
(thingsboard/kafka-streams-example) has no relational layer at all
(SolarConsumer.java is the entire topology); this module is part of the
SURVEY.md §2 "operators the reference does NOT have" breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_streams_example_spark.operators import share
from kafka_streams_example_spark.registry import _dec, _sum_dbl, register
from kafka_streams_example_spark.sources.files import load_table, table_uncompressed_bytes

_REV = "CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))"


def _revenue() -> F.Column:
    one = F.lit(1).cast("decimal(8,4)")
    return _dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))


@register(
    "q2_min_balance_supplier",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
sn AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 0),
cand AS (
    SELECT p_partkey, p_name, s_name, s_acctbal, n_name
    FROM part
    JOIN ps ON l_partkey = p_partkey
    JOIN sn ON l_suppkey = s_suppkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE')
SELECT p_partkey, p_name, s_name, s_acctbal, n_name
FROM cand
WHERE s_acctbal = (SELECT min(c2.s_acctbal) FROM cand c2
                   WHERE c2.p_partkey = cand.p_partkey)
""",
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the supplier(s) with the minimum account
    balance among suppliers that ever shipped it (region-0 suppliers,
    LARGE mid-size parts). The correlated scalar-MIN subquery is rewritten
    as a window MIN over the candidate set — one scan, no self-join; the
    equality compares bit-identical doubles on both engines."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    sn = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    cand = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), ps.l_suppkey == sn.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("__min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__min_bal"))
        .drop("__min_bal")
    )


@register(
    "q7_volume_shipping",
    f"""
SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(round(sum({_REV}), 6) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
WHERE ((r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
    OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border shipping volume between a region pair
    by year (regions, not nations — the driver's synthetic data spreads
    25 nations so thin that a nation pair is empty at smoke scale).
    Region filters are applied to the broadcast dims BEFORE the joins, so
    the big-table rows that survive are pruned at the earliest exchange;
    the disjunctive pair predicate runs after both regions are attached."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    nat_r = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "r_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat_r), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat_r), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_region") == "AMERICA") & (F.col("cust_region") == "ASIA"))
            | ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "AMERICA"))
        )
        .groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(_sum_dbl(_revenue()).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           {_REV} AS volume,
           n1.n_name AS supp_nation
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n2.n_regionkey = 0 AND p_type = 'ECONOMY')
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part volume sold into
    region 0, per order year. Both the numerator and denominator are exact
    decimal sums; the ratio is formed in double space from identical
    inputs on both engines, so round(·,6) hash-matches."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_r0 = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.filter(F.col("n_regionkey") == 0)),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(18,4)")
    vol = _revenue()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_r0, orders.o_custkey == cust_r0.c_custkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero))
            .cast("double")
            .alias("__n"),
            F.sum(vol).cast("double").alias("__d"),
        )
        .select(
            "o_year", F.round(F.col("__n") / F.col("__d"), 6).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    f"""
SELECT supp_nation, o_year,
       round(CAST(round(sum_rev, 6) AS DOUBLE)
             - 0.1 * CAST(round(sum_cost, 6) AS DOUBLE), 4) AS profit
FROM (
    SELECT n_name AS supp_nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           sum({_REV}) AS sum_rev,
           sum(CAST(p_retailprice AS DECIMAL(18,4))
               * CAST(l_quantity AS DECIMAL(18,4))) AS sum_cost
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: p_retailprice*quantity*0.1 stands in for
    ps_supplycost — there is no partsupp table). Revenue and cost are
    separate exact decimal sums; they are combined in double space AFTER
    the group-by so both engines do the identical double arithmetic."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(F.sum(_revenue()), 6).cast("double").alias("__rev"),
            F.round(F.sum(_dec("p_retailprice") * _dec("l_quantity")), 6)
            .cast("double")
            .alias("__cost"),
        )
        .select(
            "supp_nation",
            "o_year",
            F.round(F.col("__rev") - 0.1 * F.col("__cost"), 4).alias("profit"),
        )
    )


@register(
    "q11_important_parts",
    f"""
WITH val AS (
    SELECT l_partkey, sum({_REV}) AS v FROM lineitem GROUP BY 1),
total AS (
    SELECT round(1.5 * CAST(round(sum({_REV}), 6) AS DOUBLE)
                 / count(DISTINCT l_partkey), 6) AS thr
    FROM lineitem)
SELECT l_partkey, CAST(round(v, 6) AS DOUBLE) AS part_value
FROM val
WHERE CAST(round(v, 6) AS DOUBLE) > (SELECT thr FROM total)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted to lineitem revenue — no partsupp): parts
    whose revenue exceeds 1.5x the mean per-part revenue (a relative
    threshold, like Q11's 0.0001/SF, so the query selects at every scale
    factor). The HAVING-vs-scalar-subquery is a broadcast of a 1-row
    aggregate; the threshold and per-part values derive from exact
    decimal sums so the strict comparison agrees across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE lineitem pass: the threshold's corpus revenue sum and distinct
    # part count roll up exactly from the per-part decimal sums (decimal
    # addition is exact and associative; one row per group makes
    # count(l_partkey) the distinct count) — the former shape scanned and
    # re-aggregated lineitem a second time just for the 1-row threshold.
    vdec = share(
        li.groupBy("l_partkey").agg(F.sum(_revenue()).alias("v"))
    )
    val = vdec.select(
        "l_partkey", F.round(F.col("v"), 6).cast("double").alias("part_value")
    )
    thr = vdec.agg(
        F.round(
            1.5
            * F.round(F.sum("v"), 6).cast("double")
            / F.count("l_partkey"),
            6,
        ).alias("thr")
    )
    return (
        val.join(F.broadcast(thr))
        .filter(F.col("part_value") > F.col("thr"))
        .select("l_partkey", "part_value")
    )


@register(
    "q13_customer_distribution",
    """
WITH c_orders AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
                    AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, ... qualifying
    orders. The filter lives in the JOIN condition (not WHERE) so
    customers with zero qualifying orders survive the outer join with
    count 0 — the classic outer-join-then-group-on-aggregate pattern."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q15_top_supplier",
    f"""
WITH rev AS (
    SELECT l_suppkey, CAST(round(sum({_REV}), 6) AS DOUBLE) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.
    The scalar-MAX subquery is a broadcast 1-row aggregate; equality is
    exact because both sides compare the same round-6 decimal-sum
    doubles (ties would return all tied suppliers on both engines)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(_sum_dbl(_revenue()).alias("total_rev"))
    top = rev.agg(F.max("total_rev").alias("__max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("__max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q16_supplier_variety",
    """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    with a NOT IN supplier exclusion. The NOT IN becomes a broadcast
    left-anti join (keys are non-null, so anti-join == NOT IN); the
    selective part filter is broadcast so the big lineitem side never
    shuffles before the distinct-count aggregation."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q21_waiting_suppliers",
    """
WITH lo AS (
    SELECT l_orderkey, l_suppkey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS is_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'),
per_os AS (
    SELECT l_orderkey, l_suppkey,
           max(is_late) AS supp_late,
           CAST(sum(is_late) AS BIGINT) AS late_rows
    FROM lo GROUP BY 1, 2),
ord AS (
    SELECT l_orderkey,
           count(*) AS n_supp,
           CAST(sum(supp_late) AS BIGINT) AS n_late_supp
    FROM per_os GROUP BY 1)
SELECT s_name, CAST(sum(late_rows) AS BIGINT) AS numwait
FROM per_os
JOIN ord USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: "late" = shipped >90 days after the order
    date — there is no commit/receipt date). For finished orders, count
    late lineitems of suppliers who were the ONLY late supplier on a
    multi-supplier order. The double-correlated EXISTS / NOT EXISTS pair
    is rewritten as two hash aggregations over (order, supplier) — one
    shuffle each on keys that are already co-partitioned — instead of two
    correlated re-scans of lineitem."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1
        ).otherwise(0).alias("is_late"),
    )

    # per_os ((order, supplier) rollup — the EXISTS-rewrite's pivot table)
    # feeds BOTH the per-order stats and the final filter join; without
    # materialization the lineitem⋈orders join + aggregation executed
    # once per consumer.
    per_os = share(
        lo.groupBy("l_orderkey", "l_suppkey").agg(
            F.max("is_late").alias("supp_late"),
            F.sum("is_late").cast("bigint").alias("late_rows"),
        )
    )
    ord_stats = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("supp_late").cast("bigint").alias("n_late_supp"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_os.join(ord_stats, "l_orderkey")
        .filter(
            (F.col("supp_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_rows").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "q22_dormant_customers",
    """
SELECT CAST(c_custkey % 7 AS INT) AS code,
       count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 6) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_custkey % 7 IN (1, 3, 5)
  AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                          / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
GROUP BY 1
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: custkey-mod-7 stands in for the phone
    country code, and "dormant" means no order above 450k — every
    synthetic customer has at least one order). NOT EXISTS -> left-anti
    join against the filtered distinct order custkeys; the scalar AVG is
    a broadcast 1-row aggregate from an exact decimal sum on both
    engines."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("__avg")
    )
    order_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.filter((F.col("c_custkey") % 7).isin(1, 3, 5))
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(order_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_custkey") % 7).cast("int").alias("code"))
        .agg(
            F.count("*").alias("numcust"),
            _sum_dbl(_dec("c_acctbal")).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Analytic shapes beyond the TPC-H set: GROUPING SETS, unpivot/melt,
# bivariate statistical aggregates, and time-range window frames.
# --------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
       count(*) AS n,
       CAST(round(sum({_REV}), 6) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — the generalization of the
    registry's ROLLUP/CUBE queries to an explicit set list. One scan;
    Spark expands the sets in a single Expand+hash-aggregate (no
    self-union), identical to ROLLUP here but spelled explicitly."""
    rev = (
        "CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "CAST(1 - l_discount AS DECIMAL(8,4))"
    )
    # revenue is projected BELOW the Expand: grouping sets triple every
    # input row, and an aggregate-child expression is evaluated per
    # EXPANDED row — pre-projecting runs the decimal multiply once per
    # source row instead of once per (row × grouping set). Same decimals
    # summed, identical output (guide §2.3 — project before the exchange).
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(*) AS n,
               CAST(round(sum(rev), 6) AS DOUBLE) AS revenue
        FROM (SELECT l_returnflag, l_linestatus, {rev} AS rev
              FROM {{lineitem}})
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "unpivot_part_metrics",
    """
SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
FROM part WHERE p_size <= 5
UNION ALL
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
FROM part WHERE p_size <= 5
""",
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt: wide part columns to (key, metric, value) rows via
    Spark's native `unpivot` (one Expand node, one scan — NOT a
    scan-per-metric union; the oracle spells the portable UNION ALL)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "stat_aggregates",
    """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 5) AS qty_price_corr,
       round(covar_pop(l_quantity, l_extendedprice), 3) AS qty_price_covar,
       round(covar_samp(l_quantity, l_extendedprice), 3) AS qty_price_covar_samp,
       round(stddev_samp(l_quantity), 5) AS qty_stddev,
       round(var_samp(l_quantity), 5) AS qty_var
FROM lineitem
GROUP BY l_returnflag
""",
)
def stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate/sample statistical aggregates (corr, covar_pop,
    covar_samp, stddev_samp, var_samp) — single hash aggregate, all
    co-moments accumulated in one pass. Rounded one digit short of the
    usual 6 because both engines accumulate co-moments in
    merge-order-dependent doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 5).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 3).alias(
            "qty_price_covar"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias(
            "qty_price_covar_samp"
        ),
        F.round(F.stddev_samp("l_quantity"), 5).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 5).alias("qty_var"),
    )


@register(
    "range_frame_rolling_sum",
    """
SELECT event_id, user_id,
       round(sum(value) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS rolling_1h
FROM events
""",
)
def range_frame_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the rolling 1-hour sum of event
    values (value-based frame, not row-based — covers the RANGE BETWEEN
    frame spec the registry's cumulative/lag-lead queries don't). Ordered
    on whole epoch seconds so both engines bound the frame identically."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_1h"),
    )


@register(
    "approx_top_k_events",
    """
SELECT event_type AS item, count(*) AS cnt
FROM events
GROUP BY event_type
ORDER BY cnt DESC, item
LIMIT 3
""",
)
def approx_top_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch: ``approx_top_k`` (space-saving) — the
    heavy-hitters member of the sketch family next to HLL and
    approx-percentile. One aggregation, mergeable sketch state, no
    exact-distinct shuffle. Oracle-exact here because the tracked-item
    capacity (10k) exceeds the column's cardinality, making the sketch
    counts exact and deterministic."""
    return spark.sql(
        """
        SELECT t.item AS item, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 3)) AS t
              FROM {events})
        """,
        events=load_table(spark, sf_dir, "events"),
    )


def _duck_kmeans_sql(k: int = 8, dim: int = 64, iterations: int = 2) -> str:
    """Unrolled Lloyd's iterations in DuckDB — same rounded-centroid
    contract as operators.similarity.kmeans_lloyd, so assignment compares
    identical doubles on both engines."""
    from kafka_streams_example_spark.registry import _duck_cosine

    cos0 = _duck_cosine("e.embedding", "c.cv", dim)
    # Seeded-sample init mirroring kmeans_lloyd: k smallest MINSTD hashes
    # h = (id % 2147483647) * 48271 % 2147483647, cid = rank within them.
    sql = f"""
WITH cent0 AS (
    SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cid, cv
    FROM (SELECT vec_id,
                 (vec_id % 2147483647) * 48271 % 2147483647 AS h,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings
          ORDER BY h, vec_id
          LIMIT {k}))"""
    prev = "cent0"
    for it in range(1, iterations + 1):
        sql += f""",
a{it} AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {cos0} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {prev} c)
    WHERE rn = 1),
c{it}cols AS (
    SELECT cid, CAST(pos AS INT) AS pos,
           round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS cval
    FROM a{it} CROSS JOIN range(1, {dim + 1}) AS t(pos)
    GROUP BY 1, 2),
c{it} AS (
    SELECT cid, list(cval ORDER BY pos) AS cv FROM c{it}cols GROUP BY cid)"""
        prev = f"c{it}"
    sql += f"""
SELECT cid, pos AS dim_pos, cval
FROM c{iterations}cols
"""
    return sql


@register("kmeans_centroids", _duck_kmeans_sql())
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative ML on the DataFrame API: 2 Lloyd's iterations of k=8
    cosine k-means over the embeddings table (the IVF index's centroid
    trainer). Oracle-exact: both engines assign against round-6 centroids
    with identical fold-order cosine, and emit the final centroids
    exploded to (cid, dim_pos, cval).

    Shared (k×dim rows): the trained-IVF family
    (similarity_ivf_trained_topk, ann_recall_trained_vs_fixed via
    retrieval._trained_centroid_vectors) consumes this exact frame."""
    from kafka_streams_example_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return share(
        kmeans_lloyd(emb, k=8, dim=64, iterations=2),
        table_uncompressed_bytes(sf_dir, "embeddings"),
    )


@register(
    "string_agg_ordered",
    """
SELECT n.n_name AS nation,
       count(*) AS n_customers,
       string_agg(c.c_name, ',' ORDER BY c.c_name) AS top_names
FROM (SELECT c_name, c_nationkey,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.rn <= 5
GROUP BY 1
""",
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered within-group string aggregation (LISTAGG): the 5 richest
    customers per nation, names concatenated in deterministic name order.

    collect_list is order-nondeterministic under parallelism, so the
    deterministic form sorts the collected array before joining —
    array_sort(collect_list(...)) is the scalable ORDER BY-in-aggregate:
    per-group arrays are bounded (top-5) and the sort is per-row work."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    top = cust.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        top.join(F.broadcast(nation), top.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "top_names"
            ),
        )
    )


@register(
    "bitmap_exact_distinct",
    """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
""",
)
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmaps (bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_count — Spark
    3.5+): one bitmap builds per (key, bucket) group — each bucket covers
    2^15 bit positions — with map-side partial bitmap combine inside the
    hash aggregate; per-bucket cardinalities then SUM per key (buckets
    partition the value space, so no OR-merge across buckets is needed).

    At 100 TB this is the standard two-level exact-distinct: the shuffle
    carries fixed-size bitmaps per bucket instead of every distinct value
    (count(DISTINCT) shuffles all values to one reducer per key), while
    staying exact — unlike approx_count_distinct's HLL. The oracle is the
    plain COUNT(DISTINCT), proving the bitmap path's exactness."""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return partial.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_users")
    )


@register(
    "q20_excess_supply",
    """
WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
sup AS (
    SELECT l_suppkey, l_partkey,
           sum(l_quantity) AS total_qty,
           sum(CASE WHEN year(l_shipdate) = 1996 THEN l_quantity ELSE 0 END)
               AS qty_1996
    FROM lineitem JOIN pp ON l_partkey = p_partkey
    GROUP BY 1, 2
),
excess AS (SELECT DISTINCT l_suppkey FROM sup WHERE total_qty > 2 * qty_1996)
SELECT s.s_name, round(s.s_acctbal, 2) AS acctbal
FROM excess e
JOIN supplier s ON e.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
""",
)
def q20_excess_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp table → lifetime shipped quantity
    stands in for availability): suppliers of 'small%' parts whose 1996
    shipments of a part used less than half its lifetime supply, limited
    to three nations — the nested-aggregate + semi-join pattern
    (reference has no relational layer; TPC-H spec Q20 is the public
    model).

    Plan shape: the part-prefix filter is a broadcast semi-join into the
    lineitem scan, the per-(supplier, part) aggregate is one map-side-
    combinable shuffle with conditional sums (no second scan for the
    year-scoped quantity), and supplier/nation are broadcast dimension
    joins. Quantities are integral doubles, so the sums — and the strict
    comparison — are order-independent and exact across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    sup = (
        li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            F.sum(
                F.when(F.year("l_shipdate") == 1996, F.col("l_quantity")).otherwise(
                    0.0
                )
            ).alias("qty_1996"),
        )
    )
    excess = (
        sup.filter(F.col("total_qty") > 2 * F.col("qty_1996"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    return (
        excess.join(F.broadcast(s), excess.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


from kafka_streams_example_spark.operators import custom_agg as ca  # noqa: E402


# --------------------------------------------------------------------------
# Relational operator breadth over the TPC-H-ish tables (SURVEY.md §2 —
# "operators the reference does NOT have", exposed per the north star).
# Money math runs in exact decimal and casts to double at the end, so both
# engines emit bit-identical values regardless of summation order.
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4))), 6) AS DOUBLE) AS sum_charge,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) / count(*) AS avg_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 6) AS DOUBLE) / count(*) AS avg_price,
       CAST(round(sum(CAST(l_discount AS DECIMAL(18,4))), 6) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark, sf_dir):
    """Filter → multi-aggregate groupBy (TPC-H Q1 shape). Scan-side filter
    is pushed to parquet; partial aggregation runs map-side before the
    single exchange on the (tiny-cardinality) group key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = _dec("l_discount", "8,4")
    tax = _dec("l_tax", "8,4")
    one = F.lit(1).cast("decimal(8,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _sum_dbl(_dec("l_quantity")).alias("sum_qty"),
        _sum_dbl(_dec("l_extendedprice")).alias("sum_base_price"),
        _sum_dbl(_dec("l_extendedprice") * (one - disc)).alias("sum_disc_price"),
        _sum_dbl(_dec("l_extendedprice") * (one - disc) * (one + tax)).alias("sum_charge"),
        (F.round(F.sum(_dec("l_quantity")), 6).cast("double") / F.count("*")).alias("avg_qty"),
        (F.round(F.sum(_dec("l_extendedprice")), 6).cast("double") / F.count("*")).alias("avg_price"),
        (F.round(F.sum(_dec("l_discount")), 6).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q3_top_orders",
    """
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS revenue,
       epoch(o_orderdate)::BIGINT AS o_orderdate_s, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_top_orders(spark, sf_dir):
    """3-way join → agg → deterministic top-k (TPC-H Q3 shape). customer is
    tiny → broadcast; orders⋈lineitem shuffles on the orderkey."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _sum_dbl(
                _dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("long").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_region_revenue(spark, sf_dir):
    """6-way join with a dimension-chain filter (TPC-H Q5 shape). All
    dimensions broadcast; the only shuffle is lineitem⋈orders + final agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _sum_dbl(
                _dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))
            ).alias("revenue")
        )
    )


@register(
    "ranking_top_customers",
    """
SELECT * FROM (
    SELECT n_name, c_custkey, c_acctbal,
           row_number()  OVER w AS rnk,
           rank()        OVER w AS rnk_gaps,
           dense_rank()  OVER w AS rnk_dense
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
) WHERE rnk <= 3
""",
)
def ranking_top_customers(spark, sf_dir):
    """Ranking window functions: top-3 customers by balance per nation."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rnk"),
            F.rank().over(w).alias("rnk_gaps"),
            F.dense_rank().over(w).alias("rnk_dense"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "rollup_returns",
    """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_qty,
       count(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_returns(spark, sf_dir):
    """Hierarchical grouping-sets aggregation (ROLLUP)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_sum_dbl(_dec("l_quantity")).alias("sum_qty"), F.count("*").alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "cnt",
        )
    )


@register(
    "set_ops_customers",
    """
SELECT 'union' AS op, c FROM (
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'intersect', c FROM (
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'except', c FROM (
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
""",
)
def set_ops_customers(spark, sf_dir):
    """Set operators: UNION / INTERSECT / EXCEPT (distinct semantics),
    tagged and stacked."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c")
    )
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c")
        .unionAll(a.intersect(b).select(F.lit("intersect").alias("op"), "c"))
        .unionAll(a.subtract(b).select(F.lit("except").alias("op"), "c"))
    )


@register(
    "udaf_weighted_avg",
    """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
           / sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS weighted_avg,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def udaf_weighted_avg(spark, sf_dir):
    """Custom UDA surface (U1): price-weighted mean quantity via Arrow
    applyInPandas with integer-exact accumulation (order-independent, hence
    oracle-checkable)."""
    li = load_table(spark, sf_dir, "lineitem")
    return ca.weighted_avg_in_pandas(
        li, group_col="l_returnflag", value_col="l_quantity", weight_col="l_extendedprice"
    )


@register(
    "cube_order_priority",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS cnt,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_order_priority(spark, sf_dir):
    """CUBE grouping sets over orders."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), _sum_dbl(_dec("o_totalprice")).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "cnt",
            "sum_price",
        )
    )


@register(
    "string_date_functions",
    """
SELECT o_orderkey,
       upper(o_orderpriority) AS prio_upper,
       substr(o_orderpriority, 1, 1) AS prio_code,
       length(o_orderpriority) AS prio_len,
       concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(month(o_orderdate) AS INT) AS o_month,
       CAST(day(o_orderdate) AS INT) AS o_day,
       CAST(quarter(o_orderdate) AS INT) AS o_quarter
FROM orders
WHERE o_orderkey <= 1000
""",
)
def string_date_functions(spark, sf_dir):
    """Scalar string/date function coverage (X1/X2 beyond the reference's
    round/sqrt/abs/pow)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
    )


@register(
    "sql_q6_revenue_delta",
    """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS promo_revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def sql_q6_revenue_delta(spark, sf_dir):
    """The engine's SQL-text surface (TPC-H Q6 shape): same Catalyst plan
    as the DataFrame API."""
    return spark.sql(
        """
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * CAST(l_discount AS DECIMAL(8,4))), 6) AS DOUBLE)
                   AS promo_revenue,
               count(*) AS n
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "semi_anti_joins",
    """
SELECT 'semi' AS op, c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
UNION ALL
SELECT 'anti', c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""",
)
def semi_anti_joins(spark, sf_dir):
    """Left-semi and left-anti joins (EXISTS / NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    fo = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    semi = cust.join(fo, cust.c_custkey == fo.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"), "c_custkey"
    )
    anti = cust.join(fo, cust.c_custkey == fo.o_custkey, "left_anti").select(
        F.lit("anti").alias("op"), "c_custkey"
    )
    return semi.unionAll(anti)


@register(
    "q4_order_priority_check",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def q4_order_priority_check(spark, sf_dir):
    """Correlated EXISTS (TPC-H Q4 shape) → left-semi join on a compound
    condition."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q12_shipmode_case_agg",
    """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
""",
)
def q12_shipmode_case_agg(spark, sf_dir):
    """Conditional (CASE WHEN) aggregation over a join (TPC-H Q12 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_ratio",
    """
SELECT CAST(round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%%'
               THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))
               ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
       / CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 4) AS DOUBLE)
       AS promo_revenue_pct,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def q14_promo_ratio(spark, sf_dir):
    """Ratio of conditional sums (TPC-H Q14 shape), decimal-exact on both
    sides of the division."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(8,4)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.round(F.sum(promo) * F.lit(100).cast("decimal(8,4)"), 4).cast("double")
                / F.round(F.sum(rev), 4).cast("double")
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q18_large_orders",
    """
SELECT o_orderkey, o_custkey,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_custkey
HAVING sum(l_quantity) > 150
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_orders(spark, sf_dir):
    """HAVING + deterministic top-k (TPC-H Q18 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            _sum_dbl(_dec("l_quantity")).alias("total_qty"),
            F.sum("l_quantity").alias("__raw_qty"),
        )
        .filter(F.col("__raw_qty") > 150)
        .drop("__raw_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "scalar_subquery_above_avg",
    """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) FROM customer)
""",
)
def scalar_subquery_above_avg(spark, sf_dir):
    """Scalar subquery: customers above the mean balance. The mean is a
    double; both engines compare against sum/count of identical values —
    the comparison is strict-inequality on values well away from the mean
    boundary at any realistic ULP, and the subquery evaluates once
    (broadcast scalar)."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.agg((F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("a"))
    return cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("a")
    ).select("c_custkey", "c_acctbal")


@register(
    "q10_returned_items",
    """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark, sf_dir):
    """Returned-item revenue ranking (TPC-H Q10 shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _sum_dbl(
                _dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_filter",
    """
SELECT count(*) AS n,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))), 6) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
""",
)
def q19_disjunctive_filter(spark, sf_dir):
    """Disjunctive multi-attribute predicate across a join (TPC-H Q19
    shape) — exercises OR-predicate pushdown and CNF conversion."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(8,4)")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        F.count("*").alias("n"),
        _sum_dbl(_dec("l_extendedprice") * (one - _dec("l_discount", "8,4"))).alias("revenue"),
    )


@register(
    "q17_small_quantity_revenue",
    """
WITH part_avg AS (
    SELECT l_partkey, 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)) AS half_avg
    FROM lineitem GROUP BY l_partkey
)
SELECT count(*) AS n,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS revenue
FROM lineitem JOIN part_avg USING (l_partkey)
WHERE l_quantity < half_avg
""",
)
def q17_small_quantity_revenue(spark, sf_dir):
    """Correlated per-group aggregate subquery (TPC-H Q17 shape),
    decorrelated into an aggregate + self-join — the form Catalyst's
    subquery decorrelation produces anyway, written explicitly."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (
            F.lit(0.5)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count("*"))
        ).alias("half_avg")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.count("*").alias("n"),
            _sum_dbl(_dec("l_extendedprice")).alias("revenue"),
        )
    )


@register(
    "set_ops_multiset",
    """
SELECT 'intersect_all' AS op, c FROM (
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
UNION ALL
SELECT 'except_all', c FROM (
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
""",
)
def set_ops_multiset(spark, sf_dir):
    """Multiset set operators (INTERSECT ALL / EXCEPT ALL) — bag
    semantics with multiplicities, distinct from set_ops_customers."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c"))
    b = orders.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("c"))
    return (
        a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "c")
        .unionAll(a.exceptAll(b).select(F.lit("except_all").alias("op"), "c"))
    )


@register(
    "null_handling_outer_join",
    """
SELECT c.c_custkey,
       coalesce(o.n_orders, 0) AS n_orders,
       (o.n_orders IS NULL) AS never_ordered,
       CAST(round(coalesce(o.total, CAST(0 AS DECIMAL(18,4))), 6) AS DOUBLE) AS total_spent
FROM customer c
LEFT JOIN (
    SELECT o_custkey, count(*) AS n_orders,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS total
    FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
""",
)
def null_handling_outer_join(spark, sf_dir):
    """Outer-join NULL semantics: customers without orders surface as NULL
    aggregates, normalized with coalesce — plus an explicit IS NULL flag
    (NULL handling must be deliberate, not incidental, in a 100TB join)."""
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("total"),
        )
    )
    return cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.col("n_orders").isNull().alias("never_ordered"),
        F.round(
            F.coalesce(F.col("total"), F.lit(0).cast("decimal(18,4)")), 6
        ).cast("double").alias("total_spent"),
    )


@register(
    "date_arithmetic",
    """
SELECT o_orderkey,
       date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS days_to_y2k,
       epoch(date_trunc('month', o_orderdate))::BIGINT AS month_start_s,
       epoch(o_orderdate + INTERVAL 90 DAY)::BIGINT AS due_s,
       CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm
FROM orders WHERE o_orderkey <= 500
""",
)
def date_arithmetic(spark, sf_dir):
    """Date/interval arithmetic: day differences, month truncation,
    interval addition — all tz-pinned (UTC session) so epoch outputs are
    engine-portable."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return orders.select(
        "o_orderkey",
        F.datediff(
            F.lit("2000-01-01 00:00:00").cast("timestamp"), F.col("o_orderdate")
        ).alias("days_to_y2k"),
        F.date_trunc("month", F.col("o_orderdate")).cast("long").alias("month_start_s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast("long").alias("due_s"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("yyyymm"),
    )
