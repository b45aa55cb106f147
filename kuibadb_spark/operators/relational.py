"""Relational operator surface: scans, filters, joins (all types),
aggregations, sort/limit/top-k — the target surface of SURVEY.md §2.3.

The reference (KuiBaDB) reserves this surface in its catalog
(ProKind::Agg / ProKind::Window, /root/reference src/catalog.rs:127-133)
but executes none of it; semantics here follow the PostgreSQL contract its
catalog declares, expressed as TPC-H-style queries adapted to the fixture
star schema (FIXTURES.md).

Every query has a DuckDB oracle in ORACLES with identical output column
names (the driver sorts columns by name and hash-compares values).
Float aggregates are rounded in BOTH engines: partial/final aggregation
order differs across engines (and across Spark partitionings), so raw
double sums differ in low bits; rounding makes the comparison stable
without weakening semantics.

Scale notes (100 TB): nation/region are O(1)-size dimensions → explicit
broadcast; customer/part/supplier grow with SF → AQE decides
broadcast-vs-shuffle at runtime; every groupBy/join keys on the natural
TPC-H keys so shuffles are hash-partitioned on join keys and map-side
partial aggregation applies. No driver-side row handling anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kuibadb_spark.catalog import load


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


# --------------------------------------------------------------------------
# q1: pricing summary report (TPC-H Q1). Full scan → hash agg → sort.
# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q3: shipping priority (TPC-H Q3). 3-way join → agg → top-k.
# --------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-06-01"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-06-01"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q4: order priority checking (TPC-H Q4) — EXISTS → left-semi join.
# --------------------------------------------------------------------------
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q5: local supplier volume (TPC-H Q5). 6-way join with broadcast dims.
# --------------------------------------------------------------------------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# q6: forecast revenue change (TPC-H Q6). Scan + filter + scalar agg.
# Filters push down to the parquet scan (PushedFilters in explain).
# --------------------------------------------------------------------------
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# q7: volume shipping between two nations (TPC-H Q7).
# --------------------------------------------------------------------------
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") <= _ts("1997-12-31"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rev_pair = (F.col("supp_nation") == "NATION_2") & (
        F.col("cust_nation") == "NATION_1"
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair | rev_pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q10: returned item reporting (TPC-H Q10). Join + agg + top-k.
# --------------------------------------------------------------------------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q12: shipping modes / priority classes (TPC-H Q12 adapted: conditional agg)
# --------------------------------------------------------------------------
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q14: promotion effect (TPC-H Q14): conditional agg ratio over a join.
# --------------------------------------------------------------------------
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("ECONOMY%"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# q18: large volume customers (TPC-H Q18): agg-filtered IN subquery (semi
# join) + join back + agg + top-k.
# --------------------------------------------------------------------------
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(l, F.col("o_orderkey") == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# q19: discounted revenue, OR-of-ANDs predicate over a join (TPC-H Q19).
# --------------------------------------------------------------------------
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


# --------------------------------------------------------------------------
# q22: global sales opportunity (TPC-H Q22): anti join + scalar subquery.
# --------------------------------------------------------------------------
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 5).cast("int")
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = c.filter(F.col("cntrycode").isin(0, 1, 2)).join(
        F.broadcast(avg_bal), F.col("c_acctbal") > F.col("a"), "inner"
    )
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# set operations: UNION ALL / INTERSECT / EXCEPT (SURVEY.md §2.3)
# --------------------------------------------------------------------------
def setop_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn("tag", F.lit("cust_only"))
    all_rows = (
        c.unionAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tag", F.lit("all"))
    )
    return (
        both.withColumn("n", F.lit(None).cast("long"))
        .select("nationkey", "tag", "n")
        .unionAll(cust_only.withColumn("n", F.lit(None).cast("long")).select("nationkey", "tag", "n"))
        .unionAll(all_rows.select("nationkey", "tag", "n"))
        .orderBy("tag", "nationkey")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q12_priority_classes": q12_priority_classes,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q22_sales_opportunity": q22_sales_opportunity,
    "setop_union_intersect_except": setop_union_intersect_except,
}

ORACLES = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q5_local_supplier_volume": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7_volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q12_priority_classes": """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q14_promo_revenue": """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'ECONOMY%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    "q18_large_volume_customer": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "q19_discounted_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
               AND l_quantity BETWEEN 20 AND 40)
    """,
    "q22_sales_opportunity": """
        WITH rich AS (
            SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_custkey, c_acctbal
            FROM customer
            WHERE CAST(c_nationkey % 5 AS INTEGER) IN (0, 1, 2)
              AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        )
        SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM rich
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = rich.c_custkey AND o_totalprice > 400000.0)
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    "setop_union_intersect_except": """
        WITH c AS (SELECT c_nationkey AS nationkey FROM customer),
             s AS (SELECT s_nationkey AS nationkey FROM supplier),
             both_k    AS (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s),
             cust_only AS (SELECT DISTINCT nationkey FROM c
                           EXCEPT ALL SELECT DISTINCT nationkey FROM s),
             all_k     AS (SELECT nationkey, count(*) AS n
                           FROM (SELECT * FROM c UNION ALL SELECT * FROM s)
                           GROUP BY nationkey)
        SELECT nationkey, 'both' AS tag, CAST(NULL AS BIGINT) AS n FROM both_k
        UNION ALL
        SELECT nationkey, 'cust_only' AS tag, CAST(NULL AS BIGINT) AS n FROM cust_only
        UNION ALL
        SELECT nationkey, 'all' AS tag, n FROM all_k
        ORDER BY tag, nationkey
    """,
}


def subq_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with NULLs in the subquery (3-valued logic): a NULL in the
    IN-list makes NOT IN never-true — the classic SQL trap, same in PG,
    Spark, and DuckDB. The NULL-stripped variant returns rows."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("ks_cust_ni")
    load(spark, sf_dir, "orders").createOrReplaceTempView("ks_ord_ni")
    return spark.sql(
        """
        WITH keys AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM ks_ord_ni
        )
        SELECT
            (SELECT count(*) FROM ks_cust_ni
             WHERE c_custkey NOT IN (SELECT k FROM keys)) AS with_nulls,
            (SELECT count(*) FROM ks_cust_ni
             WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
                AS without_nulls
        """
    )


QUERIES["subq_not_in_nulls"] = subq_not_in_nulls

ORACLES["subq_not_in_nulls"] = """
        WITH keys AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM orders
        )
        SELECT
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM keys)) AS with_nulls,
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
                AS without_nulls
    """


# --------------------------------------------------------------------------
# bag-semantics set operations: INTERSECT ALL / EXCEPT ALL / UNION ALL
# --------------------------------------------------------------------------
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset semantics (duplicates preserved): suppkey occurrences on
    returned lines vs finished lines. Distinct-set ops are in
    setop_union_intersect_except; this exercises the ALL variants, which
    Catalyst rewrites into counted hash aggregates (no sort)."""
    l = load(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    b = l.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("k"))

    def counted(df: DataFrame, op: str) -> DataFrame:
        return (
            df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(op).alias("op"), "k", "n")
        )

    return (
        counted(a.intersectAll(b), "intersect_all")
        .unionAll(counted(a.exceptAll(b), "except_all"))
        .unionAll(counted(a.unionAll(b), "union_all"))
        .orderBy("op", "k")
    )


# --------------------------------------------------------------------------
# correlated scalar subqueries: customers above their nation's mean balance
# --------------------------------------------------------------------------
def subq_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("ks_customer_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM ks_customer_sq c2
                 WHERE c2.c_nationkey = c.c_nationkey) AS nation_peers
        FROM ks_customer_sq c
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT)
                * (SELECT count(*) FROM ks_customer_sq c2
                    WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                   FROM ks_customer_sq c2
                  WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
        """
    )


QUERIES["setop_bag_semantics"] = setop_bag_semantics
QUERIES["subq_scalar_correlated"] = subq_scalar_correlated

ORACLES["setop_bag_semantics"] = """
        WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
             b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F')
        SELECT op, k, n FROM (
            SELECT 'intersect_all' AS op, k, count(*) AS n
            FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
            UNION ALL
            SELECT 'except_all' AS op, k, count(*) AS n
            FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
            UNION ALL
            SELECT 'union_all' AS op, k, count(*) AS n
            FROM (SELECT k FROM a UNION ALL SELECT k FROM b) GROUP BY k
        )
        ORDER BY op, k
    """
ORACLES["subq_scalar_correlated"] = """
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM customer c2
                 WHERE c2.c_nationkey = c.c_nationkey) AS nation_peers
        FROM customer c
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT)
                * (SELECT count(*) FROM customer c2
                    WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT CAST(sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                             AS BIGINT)
                   FROM customer c2
                  WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
    """


# --------------------------------------------------------------------------
# null-safe equality join: <=> (IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-join semantics side by side: keys with injected NULLs joined
    under plain `=` (NULL matches nothing — 3VL) vs `<=>` / IS NOT
    DISTINCT FROM (NULL matches NULL — the PostgreSQL operator the
    reference's catalog family implies for null-safe comparisons). Emits
    per-key pair counts under both operators; the NULL bucket exists
    only in the null-safe column.

    Plan shape: the pair count per key is |a_k| × |b_k| — computed as a
    product of per-side aggregates joined null-safely on the 51-row
    count tables, NEVER by materializing the pair join (the low-
    cardinality key makes that quadratic: 450M joined rows, measured
    5.8 s at sf0.1 vs 0.4 s for this form — and it is exactly the
    fan-out that melts first at 100 TB). Spark plans EqualNullSafe as a
    hash key like any equi-join — that part is unchanged."""
    o = load(spark, sf_dir, "orders")
    keyed = o.selectExpr(
        "CASE WHEN o_orderkey % 97 = 0 THEN NULL"
        " ELSE o_custkey % 50 END AS k",
        "o_orderkey",
    )
    # groupBy puts NULL keys in their own group (null-safe by nature)
    ca = (
        keyed.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("na"))
        .alias("ca")
    )
    cb = (
        keyed.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nb"))
        .alias("cb")
    )
    return (
        ca.join(cb, F.col("ca.k").eqNullSafe(F.col("cb.k")))
        .selectExpr(
            "ca.k AS k",
            "na * nb AS n_nullsafe",
            "CASE WHEN ca.k IS NULL THEN 0L ELSE na * nb END AS n_strict",
            "ca.k IS NULL AS is_null_bucket",
        )
        .orderBy(F.col("k").asc_nulls_first())
    )


QUERIES["join_null_safe_eq"] = join_null_safe_eq

ORACLES["join_null_safe_eq"] = """
    WITH keyed AS (
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE o_custkey % 50 END AS k,
               o_orderkey
        FROM orders
    ),
    a AS (SELECT * FROM keyed WHERE o_orderkey % 2 = 0),
    b AS (SELECT * FROM keyed WHERE o_orderkey % 2 = 1),
    strict AS (
        SELECT a.k, count(*) AS n_strict
        FROM a JOIN b ON a.k = b.k
        GROUP BY a.k
    ),
    nullsafe AS (
        SELECT a.k, count(*) AS n_nullsafe
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        GROUP BY a.k
    )
    SELECT ns.k, ns.n_nullsafe,
           coalesce(s.n_strict, 0) AS n_strict,
           ns.k IS NULL AS is_null_bucket
    FROM nullsafe ns
    LEFT JOIN strict s ON ns.k IS NOT DISTINCT FROM s.k
    ORDER BY ns.k ASC NULLS FIRST
"""


# --------------------------------------------------------------------------
# LATERAL top-k: for each nation, the two highest-balance customers
# --------------------------------------------------------------------------
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation").alias("n")
    c = load(spark, sf_dir, "customer").alias("c")
    top2 = (
        c.where(F.col("c.c_nationkey") == F.col("n.n_nationkey").outer())
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(2)
    )
    return (
        n.lateralJoin(top2)
        .select("n_name", "c_custkey", "c_name", "c_acctbal")
        .orderBy("n_name", F.col("c_acctbal").desc(), "c_custkey")
    )


QUERIES["join_lateral_topk"] = join_lateral_topk

ORACLES["join_lateral_topk"] = """
        SELECT n_name, t.c_custkey, t.c_name, t.c_acctbal
        FROM nation,
        LATERAL (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        ORDER BY n_name, t.c_acctbal DESC, t.c_custkey
    """


# --------------------------------------------------------------------------
# q2-style minimum-cost supplier: for each STANDARD size-15 part, the
# European supplier(s) offering the regional minimum unit cost
# --------------------------------------------------------------------------
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )

    # part predicate pushed BELOW the cost aggregation: the per-part min
    # is independent across parts, so restricting to the selected parts
    # first (broadcast semi-shape) shrinks the groupBy and both
    # downstream joins by the part selectivity — 1.6 s → 0.6 s at sf0.1,
    # identical 80 rows; Catalyst cannot hoist the filter through the
    # aggregate+self-join on its own
    ps = (
        l.join(
            F.broadcast(p.select("p_partkey")),
            l.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.floor(
                    F.col("l_extendedprice") * 100 / F.col("l_quantity")
                ).cast("bigint")
            ).alias("cost_cents")
        )
    )
    eu_supp = s.join(
        F.broadcast(
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                "n_nationkey", "n_name"
            )
        ),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eu_ps = ps.join(eu_supp, ps.l_suppkey == F.col("s_suppkey"))
    min_cost = eu_ps.groupBy("l_partkey").agg(
        F.min("cost_cents").alias("min_cost")
    ).withColumnRenamed("l_partkey", "mc_partkey")
    return (
        eu_ps.join(
            min_cost,
            (eu_ps.l_partkey == F.col("mc_partkey"))
            & (eu_ps.cost_cents == F.col("min_cost")),
        )
        .join(p, eu_ps.l_partkey == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost_cents")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


# --------------------------------------------------------------------------
# q11-style important stock: parts whose national line value exceeds twice
# the nation's average part value (HAVING vs a global scalar aggregate;
# the threshold is relative to the average, not a fixed fraction of the
# total, so the result set does not vanish as the part count scales up)
# --------------------------------------------------------------------------
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")

    national = (
        l.join(
            s.join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey")).select(
                "s_suppkey"
            ),
            l.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "value_cents"
            )
        )
    )
    total = national.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        national.join(F.broadcast(total))
        .filter(F.col("value_cents") * F.col("n_parts") > 2 * F.col("total_cents"))
        .select(F.col("l_partkey").alias("partkey"), "value_cents")
        .orderBy(F.desc("value_cents"), "partkey")
    )


# --------------------------------------------------------------------------
# q13-style customer distribution: histogram of per-customer order counts,
# non-urgent orders only, customers with zero orders included (left join)
# --------------------------------------------------------------------------
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier
QUERIES["q11_important_stock"] = q11_important_stock
QUERIES["q13_customer_distribution"] = q13_customer_distribution

ORACLES["q2_min_cost_supplier"] = """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   CAST(min(floor(l_extendedprice * 100 / l_quantity)) AS BIGINT)
                       AS cost_cents
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eu_ps AS (
            SELECT l_partkey, cost_cents, s_suppkey, s_name, s_acctbal, n_name
            FROM ps
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_cents
        FROM eu_ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
          AND cost_cents = (SELECT min(e2.cost_cents) FROM eu_ps e2
                            WHERE e2.l_partkey = eu_ps.l_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """
ORACLES["q11_important_stock"] = """
        WITH national AS (
            SELECT l_partkey,
                   CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey
        )
        SELECT l_partkey AS partkey, value_cents
        FROM national
        WHERE value_cents * (SELECT count(*) FROM national)
              > 2 * (SELECT sum(value_cents) FROM national)
        ORDER BY value_cents DESC, partkey
    """
ORACLES["q13_customer_distribution"] = """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """


# --------------------------------------------------------------------------
# outer-join matrix: left / right / full with null-extension counts
# --------------------------------------------------------------------------
def join_outer_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000.0
    ).select("o_custkey", "o_orderkey", "o_totalprice")

    def summarize(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("join_type"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.count("c_custkey").alias("n_custs"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "null_right"
            ),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "null_left"
            ),
        )

    left = summarize(c.join(o, c.c_custkey == o.o_custkey, "left"), "left")
    right = summarize(c.join(o, c.c_custkey == o.o_custkey, "right"), "right")
    full = summarize(c.join(o, c.c_custkey == o.o_custkey, "full"), "full")
    return left.unionAll(right).unionAll(full).orderBy("join_type")


# --------------------------------------------------------------------------
# cross join (small × small): region × nation grid
# --------------------------------------------------------------------------
def join_cross_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = load(spark, sf_dir, "nation")
    return (
        r.crossJoin(F.broadcast(n.select("n_nationkey", "n_regionkey")))
        .withColumn("is_home", F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("is_home"), 1).otherwise(0)).alias("n_home"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# q17-style correlated scalar subquery: parts ordered below 20% of their
# own average order size (Catalyst decorrelates into agg + join)
# --------------------------------------------------------------------------
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    load(spark, sf_dir, "part").createOrReplaceTempView("ks_part_q17")
    l.createOrReplaceTempView("ks_lineitem_q17")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM ks_lineitem_q17, ks_part_q17
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#1'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity)
              FROM ks_lineitem_q17
              WHERE l_partkey = p_partkey)
        """
    )


# --------------------------------------------------------------------------
# q21-style multi-EXISTS: suppliers with returned lines on multi-supplier
# orders where they were the only returner (semi + anti composition)
# --------------------------------------------------------------------------
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    l1 = l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = l.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    exists_other = l1.join(
        l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    not_exists_other_return = exists_other.join(
        l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        not_exists_other_return.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


# --------------------------------------------------------------------------
# q15-style view + global max: top revenue supplier(s) via a reused CTE
# --------------------------------------------------------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = (
        l.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("m"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# ORDER BY with explicit NULL placement + LIMIT/OFFSET pagination
# --------------------------------------------------------------------------
def sort_nulls_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").withColumn(
        "bal", F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_acctbal"))
    )
    return (
        c.select("c_custkey", "bal")
        .orderBy(F.col("bal").desc_nulls_last(), F.col("c_custkey").asc())
        .offset(10)
        .limit(25)
    )


# --------------------------------------------------------------------------
# q8-style national market share (ratio of sums — integer cents for
# cross-engine determinism of the division)
# --------------------------------------------------------------------------
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"ks8_{t}")
    return spark.sql(
        """
        SELECT o_year,
               round(sum(CASE WHEN nation = 'NATION_3' THEN vol_cents ELSE 0 END)
                     / CAST(sum(vol_cents) AS DOUBLE), 6) AS mkt_share
        FROM (
            SELECT year(o_orderdate) AS o_year,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                       AS vol_cents,
                   n2.n_name AS nation
            FROM ks8_part, ks8_supplier, ks8_lineitem, ks8_orders, ks8_customer,
                 ks8_nation n1, ks8_nation n2, ks8_region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP_NTZ '1998-01-01 00:00:00'
              AND p_type = 'ECONOMY'
        )
        GROUP BY o_year
        ORDER BY o_year
        """
    )


# --------------------------------------------------------------------------
# q9-style product profit by nation and year (cost modeled as 80% of price)
# --------------------------------------------------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("part", "supplier", "lineitem", "orders", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"ks9_{t}")
    return spark.sql(
        """
        SELECT nation, o_year,
               sum(profit_cents) AS profit_cents
        FROM (
            SELECT n_name AS nation,
                   year(o_orderdate) AS o_year,
                   CAST(round((l_extendedprice * (1 - l_discount)
                        - 0.8 * l_extendedprice) * 100) AS BIGINT) AS profit_cents
            FROM ks9_part, ks9_supplier, ks9_lineitem, ks9_orders, ks9_nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%bolt%'
        )
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
        """
    )


# --------------------------------------------------------------------------
# q16-style: distinct supplier counts per part attribute combo
# --------------------------------------------------------------------------
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# q20-style nested-IN chain: suppliers who shipped >100 units of small parts
# --------------------------------------------------------------------------
def q20_small_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    big_shippers = (
        l.join(p.select("p_partkey"), l.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(big_shippers, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_name")
    )


QUERIES["q8_market_share"] = q8_market_share
QUERIES["q16_parts_supplier_relationship"] = q16_parts_supplier_relationship
QUERIES["q20_small_part_shippers"] = q20_small_part_shippers
QUERIES["q9_product_profit"] = q9_product_profit
QUERIES["join_outer_matrix"] = join_outer_matrix
QUERIES["join_cross_grid"] = join_cross_grid
QUERIES["q17_small_quantity_revenue"] = q17_small_quantity_revenue
QUERIES["q21_waiting_supplier"] = q21_waiting_supplier
QUERIES["q15_top_supplier"] = q15_top_supplier
QUERIES["sort_nulls_offset"] = sort_nulls_offset

ORACLES["q16_parts_supplier_relationship"] = """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """
ORACLES["q20_small_part_shippers"] = """
        SELECT s_suppkey, s_name, s_nationkey
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'small%')
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING sum(l_quantity) > 100)
        ORDER BY s_name
    """
ORACLES["q8_market_share"] = """
        SELECT o_year,
               round(sum(CASE WHEN nation = 'NATION_3' THEN vol_cents ELSE 0 END)
                     / CAST(sum(vol_cents) AS DOUBLE), 6) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                       AS vol_cents,
                   n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer,
                 nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
              AND p_type = 'ECONOMY'
        )
        GROUP BY o_year
        ORDER BY o_year
    """
ORACLES["q9_product_profit"] = """
        SELECT nation, o_year,
               CAST(sum(profit_cents) AS BIGINT) AS profit_cents
        FROM (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(round((l_extendedprice * (1 - l_discount)
                        - 0.8 * l_extendedprice) * 100, 0) AS BIGINT)
                       AS profit_cents
            FROM part, supplier, lineitem, orders, nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%bolt%'
        )
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """
ORACLES["join_outer_matrix"] = """
        WITH c AS (SELECT c_custkey, c_nationkey FROM customer),
             o AS (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
                   WHERE o_totalprice > 450000.0),
        s AS (
            SELECT 'left' AS join_type, count(*) AS n_rows,
                   count(o_orderkey) AS n_orders, count(c_custkey) AS n_custs,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS null_right,
                   CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS null_left
            FROM c LEFT JOIN o ON c_custkey = o_custkey
            UNION ALL
            SELECT 'right', count(*), count(o_orderkey), count(c_custkey),
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM c RIGHT JOIN o ON c_custkey = o_custkey
            UNION ALL
            SELECT 'full', count(*), count(o_orderkey), count(c_custkey),
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM c FULL JOIN o ON c_custkey = o_custkey
        )
        SELECT * FROM s ORDER BY join_type
    """
ORACLES["join_cross_grid"] = """
        SELECT r_name, count(*) AS n_pairs,
               CAST(sum(CASE WHEN n_regionkey = r_regionkey THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_home
        FROM region CROSS JOIN nation
        GROUP BY r_name
        ORDER BY r_name
    """
ORACLES["q17_small_quantity_revenue"] = """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#1'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity)
              FROM lineitem
              WHERE l_partkey = p_partkey)
    """
ORACLES["q21_waiting_supplier"] = """
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
    """
ORACLES["q15_top_supplier"] = """
        WITH revenue AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """
ORACLES["sort_nulls_offset"] = """
        SELECT c_custkey, bal FROM (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
            FROM customer)
        ORDER BY bal DESC NULLS LAST, c_custkey ASC
        LIMIT 25 OFFSET 10
    """
