"""Aggregation surface beyond plain groupBy (SURVEY.md §2.3): grouping
sets / rollup / cube, multi-distinct, statistical aggregates, FILTERed
and conditional aggregation, pivot, and sketch-based approximations.

The reference reserves aggregates in its catalog (ProKind::Agg,
/root/reference src/catalog.rs:127-133) but declares none; this module
supplies the PostgreSQL-contract surface with Spark built-ins only.

Scale notes: groupBy/rollup/cube all get map-side partial aggregation
(the Expand for rollup/cube multiplies rows AFTER the scan but partials
still combine before the shuffle). Multi-distinct triggers Spark's
Expand-based plan — one extra shuffle, unavoidable for exact distincts;
the sketch query (approx_count_distinct = HyperLogLog++) is the 100 TB
path where exactness isn't required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load


def _grp(col):  # grouping() → int in both engines
    return F.grouping(col).cast("int")


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _grp("l_returnflag").alias("g_rf"),
            _grp("l_linestatus").alias("g_ls"),
        )
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            _grp("o_orderstatus").alias("g_st"),
            _grp("o_orderpriority").alias("g_pr"),
        )
        .orderBy("g_st", "g_pr", "o_orderstatus", "o_orderpriority")
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("ks_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS total,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls
        FROM ks_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
        """
    )


def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_dist_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.stddev_pop("l_discount"), 6).alias("sdp_disc"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
            F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("cov_pd"),
            F.round(F.covar_pop("l_extendedprice", "l_discount"), 4).alias("covp_pd"),
        )
        .orderBy("l_returnflag")
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-status percentiles of order value — the declared exact
    quantile surface. Scale shape: percentile() buffers a counts map
    over DISTINCT o_totalprice cents per group (bounded by the price
    grid, not row count), but its updates are interpreted
    ObjectHashAggregate work; at agg_approx_sketches-scale inputs the
    codegen histogram-selection spelling there (aggregates.py:219) is
    the drop-in replacement, and approx_percentile is the sketch path."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    big = F.col("value") > 100.0
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.when(big, 1)).alias("n_big"),
            F.round(F.sum(F.when(big, F.col("value")).otherwise(0.0)), 2).alias(
                "sum_big"
            ),
            F.bool_or(big).alias("any_big"),
            F.bool_and(big).alias("all_big"),
            # argmax with unique tie-break: bare max_by(value) is
            # nondeterministic when values tie (bit us at sf0.1); the key is
            # zero-padded (cents, event_id) so lexicographic == numeric
            F.expr(
                "max_by(event_id, concat(lpad(CAST(CAST(round(value * 100) AS BIGINT)"
                " AS STRING), 12, '0'), lpad(CAST(event_id AS STRING), 12, '0')))"
            ).alias("top_event"),
            F.expr(
                "min_by(event_id, concat(lpad(CAST(CAST(round(value * 100) AS BIGINT)"
                " AS STRING), 12, '0'), lpad(CAST(event_id AS STRING), 12, '0')))"
            ).alias("bottom_event"),
        )
        .orderBy("event_type")
    )


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    )


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long): per-returnflag metric columns melted into
    (metric, value) rows via stack()."""
    l = load(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 2).alias("disc"),
    )
    return (
        wide.selectExpr(
            "l_returnflag",
            "stack(3, 'qty', qty, 'price', price, 'disc', disc)"
            " AS (metric, val)",
        )
        .orderBy("l_returnflag", "metric")
    )


def _bucket_selection_median(l: DataFrame) -> DataFrame:
    """Exact per-flag median of l_extendedprice by two-pass bucket
    selection → (l_returnflag, _exact_median). Bit-identical to
    `percentile(l_extendedprice, 0.5)` for non-NULL ≤2-decimal inputs
    (the agg_approx_sketches precondition); kept as a named helper so
    tests can compare it against percentile() directly on adversarial
    layouts (tests/test_lakehouse_sketches.py: boundary-straddling
    middles, duplicates piled on the bucket edge)."""
    cents = l.filter("l_extendedprice IS NOT NULL").selectExpr(
        "l_returnflag",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS _c",
    ).withColumn("_cb", F.expr("_c div 4096"))
    coarse = cents.groupBy("l_returnflag", "_cb").agg(
        F.count(F.lit(1)).alias("_m")
    )
    wb = W.partitionBy("l_returnflag").orderBy("_cb")
    sel = (
        coarse.withColumn("_hi", F.sum("_m").over(wb))
        .withColumn("_n", F.sum("_m").over(W.partitionBy("l_returnflag")))
        .withColumn("_lo", F.col("_hi") - F.col("_m"))
        .filter(
            "((_n - 1) DIV 2 >= _lo AND (_n - 1) DIV 2 < _hi)"
            " OR (_n DIV 2 >= _lo AND _n DIV 2 < _hi)"
        )
        .select("l_returnflag", "_cb", "_lo", "_n")
    )
    fine = (
        cents.join(F.broadcast(sel), ["l_returnflag", "_cb"])
        .groupBy("l_returnflag", "_c")
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.min("_lo").alias("_blo"),
            F.min("_n").alias("_n"),
        )
    )
    wf = W.partitionBy("l_returnflag").orderBy("_c")
    return (
        fine.withColumn(
            "_off", F.min("_blo").over(W.partitionBy("l_returnflag"))
        )
        .withColumn("_hi", F.col("_off") + F.sum("_m").over(wf))
        .selectExpr(
            "l_returnflag",
            "CASE WHEN (_n - 1) DIV 2 >= _hi - _m AND (_n - 1) DIV 2 < _hi"
            " THEN _c END AS _v0",
            "CASE WHEN _n DIV 2 >= _hi - _m AND _n DIV 2 < _hi"
            " THEN _c END AS _v1",
        )
        .groupBy("l_returnflag")
        .agg(F.max("_v0").alias("_v0"), F.max("_v1").alias("_v1"))
        .selectExpr(
            "l_returnflag",
            "(_v0 + _v1) / 2.0 / 100.0 AS _exact_median",
        )
    )


def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates, oracle-able form: the raw HLL++/GK
    estimates are engine-specific, so the query emits the EXACT answer
    plus booleans asserting each sketch lands within its error bound
    (HLL++ default rsd 0.05 → 5%; approx_percentile vs exact percentile
    ≤5% relative). The oracle computes the exact side and expects TRUE —
    a sketch drifting out of bound flips the row and fails the hash.
    At 100 TB the sketches are the point (one pass, bounded memory vs an
    exact distinct's shuffle of every key); the exact columns here are
    the test harness, not the production plan."""
    l = load(spark, sf_dir, "lineitem")
    # sketches and exact sides in SEPARATE aggregation passes joined on
    # the 5-row group key: one combined agg mixes DISTINCT (expand: every
    # row duplicated per distinct/non-distinct path) with a sort-based
    # exact percentile and ran 3.5× slower (6.1 s → 1.75 s at sf0.1, N=3
    # noop-forced). Two lean scans beat one expanded scan.
    approx = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)")
        .alias("_approx_median"),
    )
    # Exact median via TWO-PASS BUCKET SELECTION, not percentile() and
    # not a full-grid histogram window. History of this spelling:
    # percentile() is an interpreted ObjectHashAggregate over a boxed
    # counts map (127 s at ×100); the round-9 (flag, cents) histogram
    # + flag-partitioned window assumed the cents GRID is
    # domain-bounded, but the fixture's prices are near-continuous —
    # 23.9 M distinct cents at ×100 — so the two windows walked the
    # data, not the domain (36 s standalone, the query's whole ×24).
    # The classic distributed selection instead: PASS 1 aggregates
    # 4096-cent coarse buckets (≤ ~2.6 k buckets per flag — bounded by
    # the PRICE DOMAIN / 4096, fully map-combinable codegen) and a
    # window over that tiny frame finds, per flag, the bucket(s)
    # holding order statistics (n−1) div 2 and n div 2 — at most two,
    # and cumulative-ADJACENT (the targets differ by ≤1 position, so
    # no non-empty bucket can lie between them; their rows are
    # contiguous in the global value order starting at min(_lo)).
    # PASS 2 broadcast-semi-joins lineitem down to those buckets' rows
    # (~rows/2.6k) and selects the exact positions from the small
    # exact histogram. Both passes are narrow codegen aggregates; no
    # window ever sees more than rows-per-bucket. 36 → ~2×2.5 s at
    # ×100; at 100 TB rows-per-bucket grows linearly and the width
    # (or one recursion level) is the documented knob.
    # (v0+v1)/2 reproduces percentile()'s type-7 median bit-for-bit:
    # odd n → both positions hit the same value, even n → mean of the
    # two middles; the quotient only feeds a ±5% band check.
    # PRECONDITION (stated, not assumed silently): l_extendedprice is
    # non-NULL with ≤2 decimals. percentile() ignores NULLs, so the
    # selection drops them explicitly before quantizing — otherwise a
    # NULL-cents group would shift the selected positions; sub-cent
    # prices would likewise collide under the cents grid.
    med = _bucket_selection_median(l)
    # Exact distinct via CHUNKED BITSETS, not countDistinct: Spark plans
    # countDistinct as an Expand-based two-phase aggregate whose first
    # exchange carries every (flag, partkey) pair — at ×100 rows that
    # expand was this query's dominant cost (67 s, ×29.9 over two
    # decades). The agg_bitmap_distinct form (above, same file) replaces
    # it: each key sets bit (key mod 63) of 63-bit chunk (key div 63),
    # chunks merge with bit_or — an associative, partial-aggregable
    # combine, so the map side collapses each chunk to ONE row before
    # the exchange and shuffled rows are bounded by the KEY RANGE / 63,
    # not by the row count. popcount-sum yields the identical exact
    # count (dense int keys; 63-bit chunks keep the shift portable).
    bits = (
        l.selectExpr(
            "l_returnflag",
            "l_partkey div 63 AS _chunk",
            "shiftleft(CAST(1 AS BIGINT), CAST(l_partkey % 63 AS INT)) AS _bit",
        )
        .groupBy("l_returnflag", "_chunk")
        .agg(F.expr("bit_or(_bit)").alias("_bm"))
        .groupBy("l_returnflag")
        .agg(F.expr("CAST(sum(bit_count(_bm)) AS BIGINT)").alias("exact_parts"))
    )
    exact = bits.join(med, "l_returnflag")
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "exact_parts",
            "abs(_approx_parts - exact_parts) <= 0.05 * exact_parts"
            " AS parts_within_5pct",
            "abs(_approx_median - _exact_median) <= 0.05 * _exact_median"
            " AS median_within_5pct",
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# equi-width histogram: 20 fixed buckets over customer balances — the
# data-profiling primitive (bucket key derived per row, one small shuffle)
# --------------------------------------------------------------------------
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    lo, hi, n = 0.0, 10000.0, 20
    width = (hi - lo) / n
    bucket = F.least(
        F.greatest(F.floor((F.col("c_acctbal") - lo) / width), F.lit(0)),
        F.lit(n - 1),
    ).cast("int")
    return (
        c.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * width + lo, 2))
        .withColumn("bucket_hi", F.round(F.col("bucket") * width + lo + width, 2))
        .select("bucket", "bucket_lo", "bucket_hi", "n", "avg_bal")
        .orderBy("bucket")
    )


QUERIES = {
    "agg_rollup": agg_rollup,
    "agg_histogram": agg_histogram,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_multi_distinct": agg_multi_distinct,
    "agg_stats": agg_stats,
    "agg_percentiles": agg_percentiles,
    "agg_conditional": agg_conditional,
    "agg_pivot": agg_pivot,
    "agg_unpivot": agg_unpivot,
    "agg_approx_sketches": agg_approx_sketches,
}

ORACLES = {
    "agg_histogram": """
        WITH bucketed AS (
            SELECT CAST(least(greatest(floor((c_acctbal - 0.0) / 500.0), 0), 19)
                        AS INTEGER) AS bucket,
                   c_acctbal
            FROM customer
        )
        SELECT bucket,
               CAST(round(bucket * 500.0, 2) AS DOUBLE) AS bucket_lo,
               CAST(round(bucket * 500.0 + 500.0, 2) AS DOUBLE) AS bucket_hi,
               count(*) AS n,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """,
    "agg_rollup": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
               CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
    """,
    "agg_cube": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total,
               CAST(grouping(o_orderstatus) AS INTEGER) AS g_st,
               CAST(grouping(o_orderpriority) AS INTEGER) AS g_pr
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 2) AS total,
               CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
               CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
    """,
    "agg_multi_distinct": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS nd_part,
               count(DISTINCT l_suppkey) AS nd_supp,
               round(sum(DISTINCT l_quantity), 2) AS sum_dist_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "agg_stats": """
        SELECT l_returnflag,
               round(stddev_samp(l_extendedprice), 4) AS sd_price,
               round(stddev_pop(l_discount), 6)       AS sdp_disc,
               round(var_samp(l_quantity), 4)         AS var_qty,
               round(corr(l_extendedprice, l_quantity), 6)        AS corr_pq,
               round(covar_samp(l_extendedprice, l_discount), 4)  AS cov_pd,
               round(covar_pop(l_extendedprice, l_discount), 4)   AS covp_pd
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "agg_percentiles": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "agg_conditional": """
        SELECT event_type,
               count(CASE WHEN value > 100.0 THEN 1 END) AS n_big,
               round(sum(CASE WHEN value > 100.0 THEN value ELSE 0.0 END), 2)
                   AS sum_big,
               bool_or(value > 100.0)  AS any_big,
               bool_and(value > 100.0) AS all_big,
               arg_max(event_id, lpad(CAST(CAST(round(value * 100, 0) AS BIGINT)
                       AS VARCHAR), 12, '0')
                       || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS top_event,
               arg_min(event_id, lpad(CAST(CAST(round(value * 100, 0) AS BIGINT)
                       AS VARCHAR), 12, '0')
                       || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS bottom_event
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "agg_approx_sketches": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS parts_within_5pct,
               TRUE AS median_within_5pct
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "agg_unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS qty,
                   round(sum(l_extendedprice), 2) AS price,
                   round(sum(l_discount), 2) AS disc
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty' AS metric, qty AS val FROM wide
        UNION ALL SELECT l_returnflag, 'price', price FROM wide
        UNION ALL SELECT l_returnflag, 'disc', disc FROM wide
        ORDER BY l_returnflag, metric
    """,
    "agg_pivot": """
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
}


# --------------------------------------------------------------------------
# hand-rolled HyperLogLog with EXACT cross-engine parity: md5-keyed
# 64-register sketch, integer-scaled harmonic sum, per-group sketches
# merged by register-max — the mergeability that makes sketches the
# 100 TB answer to COUNT(DISTINCT), here with a DuckDB hash-match (the
# native approx_count_distinct above stays rows-only: HLL++ internals
# are engine-specific by design).
# --------------------------------------------------------------------------
_HLL_M = 64  # registers (b=6 bits)
_HLL_ALPHA = 0.709  # alpha_64


def agg_hll_handrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag HLL estimate of distinct l_partkey, plus a
    '__all__' row whose sketch is the MERGE (register-wise max) of the
    per-flag sketches — the union-without-rescan property that makes
    sketches composable across partitions/days at 100 TB.

    Exactness across engines: the hash is md5 (identical by
    construction), rho is branch-free integer bit math, and the harmonic
    sum is kept as an INTEGER (sum of 2^(55-M_j), register scale 2^55)
    so no cross-row float accumulation exists; the single final
    double division is IEEE-exact. countDistinct rides along as the
    ground truth column."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    hashed = li.selectExpr(
        "l_returnflag AS grp",
        "l_partkey",
        "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) AS h",
    ).selectExpr("grp", "l_partkey", "h % 64 AS bucket", "h div 64 AS rest")
    rho = (
        "least(bit_count((rest & -rest) - 1) + 1, 55)"
    )
    regs = (
        hashed.selectExpr("grp", "bucket", f"{rho} AS rho")
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m").alias("m"))
        .selectExpr("'__all__' AS grp", "bucket", "m")
    )
    est = (
        regs.unionAll(merged)
        .groupBy("grp")
        .agg(
            F.expr(
                "sum(shiftleft(CAST(1 AS BIGINT), 55 - m))"
            ).alias("sum_present"),
            F.count(F.lit(1)).alias("n_regs"),
        )
        .selectExpr(
            "grp",
            "sum_present + (64 - n_regs) * shiftleft(CAST(1 AS BIGINT), 55)"
            " AS hll_sum_scaled",
        )
        .selectExpr(
            "grp",
            "hll_sum_scaled",
            f"round({_HLL_ALPHA}D * {_HLL_M * _HLL_M} * pow(2.0D, 55)"
            " / hll_sum_scaled, 4) AS hll_estimate",
        )
    )
    exact = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(F.countDistinct("l_partkey").alias("n_exact"))
        .unionAll(
            li.agg(
                F.countDistinct("l_partkey").alias("n_exact")
            ).selectExpr("'__all__' AS grp", "n_exact").select("grp", "n_exact")
        )
    )
    return (
        est.join(exact, "grp")
        .select("grp", "n_exact", "hll_sum_scaled", "hll_estimate")
        .orderBy("grp")
    )


QUERIES["agg_hll_handrolled"] = agg_hll_handrolled

ORACLES["agg_hll_handrolled"] = """
    WITH hashed AS (
        SELECT l_returnflag AS grp, l_partkey,
               CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM lineitem
    ),
    br AS (
        SELECT grp, h % 64 AS bucket, h // 64 AS rest FROM hashed
    ),
    regs AS (
        SELECT grp, bucket,
               max(least(bit_count((rest & -rest) - 1) + 1, 55)) AS m
        FROM br GROUP BY grp, bucket
    ),
    merged AS (
        SELECT '__all__' AS grp, bucket, max(m) AS m
        FROM regs GROUP BY bucket
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    sums AS (
        SELECT grp,
               CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
                   + (64 - count(*)) * (CAST(1 AS BIGINT) << 55)
                   AS hll_sum_scaled
        FROM allregs GROUP BY grp
    ),
    est AS (
        SELECT grp, hll_sum_scaled,
               round(CAST(0.709 AS DOUBLE) * 4096 * pow(2.0, 55)
                     / hll_sum_scaled, 4) AS hll_estimate
        FROM sums
    ),
    exact AS (
        SELECT l_returnflag AS grp,
               count(DISTINCT l_partkey) AS n_exact
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '__all__', count(DISTINCT l_partkey) FROM lineitem
    )
    SELECT e.grp, x.n_exact, e.hll_sum_scaled, e.hll_estimate
    FROM est e JOIN exact x ON e.grp = x.grp
    ORDER BY e.grp
"""


# ---------------------------------------------------------------------------
# hand-rolled Count-Min sketch: heavy-hitter frequencies with exact parity
# ---------------------------------------------------------------------------
_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row


def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows x w=256 counters) over lineitem
    l_partkey, probed for the top-20 exact heavy hitters — estimate =
    min over rows of the hashed counter, always >= exact (one-sided
    error), with the overcount emitted so the oracle checks the sketch
    CONTENT, not just the winners.

    Like agg_hll_handrolled, the whole sketch is exact across engines:
    md5-keyed buckets, integer counters, no floats anywhere. The sketch
    is a 1,024-cell aggregate — mergeable cell-wise across partitions /
    days / tables (same property as the HLL register row), which is why
    a 100 TB deployment keeps one per ingest window and answers
    frequency probes without rescanning anything. Build is one
    explode(d)+groupBy shuffle of (row, bucket) ints; probes broadcast.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    # the d "independent" row hashes are d disjoint bytes of ONE md5 —
    # one hash evaluation per input row instead of d (md5 dominated the
    # build: 4x fewer digests, measured 4.1s -> ~1s at sf0.1); hex pair
    # at offset 2r+1 is row r's 8-bit bucket
    rows = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("r")
    bucket = F.conv(
        F.expr("substring(h, 2 * r + 1, 2)"), 16, 10
    ).cast("int")
    hashed = li.withColumn("h", F.md5(F.col("l_partkey").cast("string")))
    cells = (
        hashed.select("l_partkey", "h", rows)
        .withColumn("bucket", bucket)
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_exact"))
    # top-k via orderBy+limit => TakeOrderedAndProject (per-partition
    # partial top-20, merged on the driver) — NOT a global row_number
    # window, which would single-partition the whole count table
    cand = counts.orderBy(F.desc("n_exact"), "l_partkey").limit(20)
    probes = (
        cand.withColumn("h", F.md5(F.col("l_partkey").cast("string")))
        .select("l_partkey", "n_exact", "h", rows)
        .withColumn("bucket", bucket)
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("l_partkey", "n_exact")
        .agg(F.min("cnt").alias("cms_est"))
        .selectExpr(
            "l_partkey",
            "n_exact",
            "cms_est",
            "cms_est - n_exact AS overcount",
        )
        .orderBy("l_partkey")
    )


QUERIES["agg_cms_heavy_hitters"] = agg_cms_heavy_hitters

ORACLES["agg_cms_heavy_hitters"] = f"""
    WITH keyed AS (
        SELECT l_partkey, md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem
    ),
    rows_ AS (SELECT unnest(range(0, {_CMS_D})) AS r),
    cells AS (
        SELECT r,
               CAST('0x' || substr(h, 2 * r + 1, 2) AS INT) AS bucket,
               count(*) AS cnt
        FROM keyed CROSS JOIN rows_
        GROUP BY 1, 2
    ),
    counts AS (
        SELECT l_partkey, count(*) AS n_exact, any_value(h) AS h
        FROM keyed GROUP BY l_partkey
    ),
    cand AS (
        SELECT l_partkey, n_exact, h FROM (
            SELECT l_partkey, n_exact, h,
                   row_number() OVER (ORDER BY n_exact DESC, l_partkey) AS rn
            FROM counts
        ) WHERE rn <= 20
    )
    SELECT c.l_partkey, c.n_exact, min(s.cnt) AS cms_est,
           min(s.cnt) - c.n_exact AS overcount
    FROM cand c
    CROSS JOIN rows_ rr
    JOIN cells s
      ON s.r = rr.r
     AND s.bucket = CAST('0x' || substr(c.h, 2 * rr.r + 1, 2) AS INT)
    GROUP BY c.l_partkey, c.n_exact
    ORDER BY c.l_partkey
"""


# ---------------------------------------------------------------------------
# bitmap-index exact distinct: chunked bitsets + bit_or merge
# ---------------------------------------------------------------------------
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via bitmap indexes (the Roaring/bitmap-OLAP
    technique, integer-exact in both engines): each l_partkey sets bit
    (key mod 64) in 64-bit chunk (key div 64); per-group chunks merge
    with bit_or — an associative partial-aggregable combine, unlike the
    Expand-based exact-distinct plan — and popcounts sum to the distinct
    count. The '__all__' row re-merges the per-flag chunk bitmaps,
    proving the same union-without-rescan property as the HLL/CMS rows
    but EXACT: bitmap distincts trade memory (bits ∝ key range) for
    zero error, the classic warehouse accelerator for dense int keys.

    Two narrow shuffles: groupBy(grp, chunk) bit_or, then groupBy(grp)
    popcount-sum. countDistinct rides along as the ground truth."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    # 63 bits per chunk: bit 63 would flip the BIGINT sign, which DuckDB
    # rejects as shift overflow (Spark wraps silently) — 62 is the max
    # portable shift
    chunks = li.selectExpr(
        "l_returnflag AS grp",
        "l_partkey div 63 AS chunk",
        "shiftleft(CAST(1 AS BIGINT), CAST(l_partkey % 63 AS INT)) AS bit",
    )
    per_flag = chunks.groupBy("grp", "chunk").agg(
        F.expr("bit_or(bit)").alias("bm")
    )
    merged = (
        per_flag.groupBy("chunk")
        .agg(F.expr("bit_or(bm)").alias("bm"))
        .selectExpr("'__all__' AS grp", "chunk", "bm")
    )
    counts = (
        per_flag.unionAll(merged)
        .groupBy("grp")
        .agg(
            F.expr("sum(bit_count(bm))").alias("n_distinct_bitmap"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
    )
    exact = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(F.countDistinct("l_partkey").alias("n_exact"))
        .unionAll(
            li.agg(F.countDistinct("l_partkey").alias("n_exact"))
            .selectExpr("'__all__' AS grp", "n_exact")
        )
    )
    return (
        counts.join(exact, "grp")
        .selectExpr(
            "grp",
            "n_distinct_bitmap",
            "n_chunks",
            "n_exact",
            "n_distinct_bitmap = n_exact AS bitmap_exact",
        )
        .orderBy("grp")
    )


QUERIES["agg_bitmap_distinct"] = agg_bitmap_distinct

ORACLES["agg_bitmap_distinct"] = """
    WITH chunks AS (
        SELECT l_returnflag AS grp,
               l_partkey // 63 AS chunk,
               (CAST(1 AS BIGINT) << CAST(l_partkey % 63 AS INT)) AS bit
        FROM lineitem
    ),
    per_flag AS (
        SELECT grp, chunk, bit_or(bit) AS bm
        FROM chunks GROUP BY grp, chunk
    ),
    merged AS (
        SELECT '__all__' AS grp, chunk, bit_or(bm) AS bm
        FROM per_flag GROUP BY chunk
    ),
    counts AS (
        SELECT grp,
               CAST(sum(bit_count(bm)) AS BIGINT) AS n_distinct_bitmap,
               count(*) AS n_chunks
        FROM (SELECT * FROM per_flag UNION ALL SELECT * FROM merged)
        GROUP BY grp
    ),
    exact AS (
        SELECT l_returnflag AS grp,
               count(DISTINCT l_partkey) AS n_exact
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '__all__', count(DISTINCT l_partkey) FROM lineitem
    )
    SELECT c.grp, c.n_distinct_bitmap, c.n_chunks, e.n_exact,
           c.n_distinct_bitmap = e.n_exact AS bitmap_exact
    FROM counts c JOIN exact e ON c.grp = e.grp
    ORDER BY c.grp
"""


# ---------------------------------------------------------------------------
# deterministic mode (most frequent value, ties broken by value)
# ---------------------------------------------------------------------------
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with a pinned tie-break: built-in mode() is free to return
    ANY most-frequent value (engine- and partition-order-dependent), so
    the portable form is count-then-rank with (count DESC, value ASC) —
    deterministic in every engine. Two partial-aggregated shuffles on
    narrow int keys; the rank window rides the second's partitioning."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("n"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["agg_mode_deterministic"] = agg_mode_deterministic

ORACLES["agg_mode_deterministic"] = """
    SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_count
    FROM (
        SELECT l_returnflag, l_quantity, count(*) AS n,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_quantity) AS rn
        FROM lineitem
        GROUP BY l_returnflag, l_quantity
    )
    WHERE rn = 1
    ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# exact weighted average (integer cross-multiplied)
# ---------------------------------------------------------------------------
def agg_weighted_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted mean discount per return flag, exact: weights
    and values in integer cents/1e-4 units, the ratio emitted as
    truncating integer division at 1e-6 scale — no float accumulation
    anywhere, so partition order can't move the answer (a float wavg
    over 100 TB gives different last digits per run; this one is
    bit-stable). Single partial-aggregated groupBy."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(
            "l_returnflag",
            "CAST(round(l_extendedprice * 100) AS BIGINT) AS w_cents",
            "CAST(round(l_discount * 10000) AS BIGINT) AS d_e4",
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.expr("w_cents * d_e4")).alias("num"),
            F.sum("w_cents").alias("den"),
            F.count(F.lit(1)).alias("n"),
        )
        .selectExpr(
            "l_returnflag",
            "(100 * num) div den AS wavg_discount_e6",
            "den AS total_cents",
            "n",
        )
        .orderBy("l_returnflag")
    )


QUERIES["agg_weighted_avg_exact"] = agg_weighted_avg_exact

ORACLES["agg_weighted_avg_exact"] = """
    SELECT l_returnflag,
           CAST((100 * sum(w_cents * d_e4)) // sum(w_cents) AS BIGINT)
               AS wavg_discount_e6,
           CAST(sum(w_cents) AS BIGINT) AS total_cents,
           count(*) AS n
    FROM (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS w_cents,
               CAST(round(l_discount * 10000) AS BIGINT) AS d_e4
        FROM lineitem
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# boolean aggregates: bool_and / bool_or / count_if
# --------------------------------------------------------------------------
def agg_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.bool_and(F.col("o_totalprice") > 5000).alias("all_over_5k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["agg_boolean_aggs"] = agg_boolean_aggs

ORACLES["agg_boolean_aggs"] = """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               bool_and(o_totalprice > 5000) AS all_over_5k,
               bool_or(o_totalprice > 400000) AS any_over_400k,
               CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


# --------------------------------------------------------------------------
# salted two-phase aggregation (skew remedy as an oracled query)
# --------------------------------------------------------------------------
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately skewed key
    (l_returnflag has ~3 values over the whole table — every row of a
    group lands on one reducer in the naive plan): phase 1 aggregates
    (key, salt) with a deterministic md5 salt spreading each group over
    8 reducers, phase 2 merges the 8 partials per key. Every aggregate
    here is associative (count/sum/min/max — sums in exact integer
    cents), so the result is IDENTICAL to the direct groupBy the oracle
    spells — which is the point: salting is a physical rewrite, not a
    semantic one. (Spark's own partial aggregation already does this
    map-side; explicit salting is the remedy when the skew survives to
    the REDUCE side, e.g. high-cardinality-input distincts or
    collect_list payloads per hot key.)"""
    from kuibadb_spark.plans.salting import salt_column

    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", salt_column(F.col("l_orderkey"), 8))
    phase1 = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
            "cents"
        ),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    )
    return (
        phase1.groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("n_rows"),
            F.sum("cents").alias("revenue_cents"),
            F.min("mn").alias("min_qty"),
            F.max("mx").alias("max_qty"),
            F.count(F.lit(1)).alias("n_salt_partials"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["agg_salted_skew"] = agg_salted_skew

ORACLES["agg_salted_skew"] = """
    WITH salted AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)
                    AS BIGINT) % 8 AS salt
        FROM lineitem
    ),
    phase1 AS (
        SELECT l_returnflag, salt, count(*) AS n,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
               min(l_quantity) AS mn, max(l_quantity) AS mx
        FROM salted GROUP BY l_returnflag, salt
    )
    SELECT l_returnflag,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           min(mn) AS min_qty,
           max(mx) AS max_qty,
           count(*) AS n_salt_partials
    FROM phase1
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# HLL set algebra: union + inclusion-exclusion intersection of sketches
# ---------------------------------------------------------------------------
def agg_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA — the property that makes HLL the 100 TB
    distinct-count currency: registers for returned (R) and
    A-status part sets merge by register-wise max into the UNION estimate without
    rescanning either input, and inclusion-exclusion gives the
    intersection estimate (|A|+|B|-|A∪B|) from three sketches alone.
    Exact counterparts ride along as ground truth, including the exact
    intersection via a both-modes semi-grouping.

    Exactness discipline = agg_hll_handrolled's (aggregates.py:429): md5
    hash, integer rho, harmonic sum kept as an exact integer at register
    scale 2^55; the three estimates divide exact integers, and the
    inclusion-exclusion combines those three doubles identically in both
    engines before the single final round."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select("l_returnflag", "l_partkey")
    )
    regs = (
        li.selectExpr(
            "l_returnflag AS grp",
            "l_partkey",
            "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) AS h",
        )
        .selectExpr("grp", "h % 64 AS bucket", "h div 64 AS rest")
        .groupBy("grp", "bucket")
        .agg(F.expr(
            "max(least(bit_count((rest & -rest) - 1) + 1, 55))").alias("m"))
    )
    union_regs = (
        regs.groupBy("bucket").agg(F.max("m").alias("m"))
        .selectExpr("'__union__' AS grp", "bucket", "m")
    )
    est = (
        regs.unionAll(union_regs)
        .groupBy("grp")
        .agg(
            F.expr("sum(shiftleft(CAST(1 AS BIGINT), 55 - m))").alias("sp"),
            F.count(F.lit(1)).alias("nr"),
        )
        .selectExpr(
            "grp",
            "0.709D * 4096 * pow(2.0D, 55)"
            " / (sp + (64 - nr) * shiftleft(CAST(1 AS BIGINT), 55)) AS est",
        )
    )
    wide = est.agg(
        F.max(F.when(F.col("grp") == "A", F.col("est"))).alias("e_air"),
        F.max(F.when(F.col("grp") == "R", F.col("est"))).alias("e_truck"),
        F.max(F.when(F.col("grp") == "__union__", F.col("est"))).alias("e_un"),
    ).selectExpr(
        "round(e_air, 4) AS hll_a",
        "round(e_truck, 4) AS hll_r",
        "round(e_un, 4) AS hll_union",
        "round(e_air + e_truck - e_un, 4) AS hll_intersection",
    )
    per_key = li.groupBy("l_partkey").agg(
        F.max(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("t"),
    )
    exact = per_key.agg(
        F.sum("a").alias("n_exact_a"),
        F.sum("t").alias("n_exact_r"),
        F.count(F.lit(1)).alias("n_exact_union"),
        F.sum(F.expr("CASE WHEN a = 1 AND t = 1 THEN 1 ELSE 0 END")).alias(
            "n_exact_intersection"
        ),
    )
    return exact.crossJoin(wide)


QUERIES["agg_hll_set_ops"] = agg_hll_set_ops

ORACLES["agg_hll_set_ops"] = """
    WITH li AS (
        SELECT l_returnflag, l_partkey FROM lineitem
        WHERE l_returnflag IN ('A', 'R')
    ),
    br AS (
        SELECT l_returnflag AS grp,
               CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                    AS BIGINT) % 64 AS bucket,
               CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                    AS BIGINT) // 64 AS rest
        FROM li
    ),
    regs AS (
        SELECT grp, bucket,
               max(least(bit_count((rest & -rest) - 1) + 1, 55)) AS m
        FROM br GROUP BY grp, bucket
    ),
    union_regs AS (
        SELECT '__union__' AS grp, bucket, max(m) AS m
        FROM regs GROUP BY bucket
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM union_regs),
    est AS (
        SELECT grp,
               CAST(0.709 AS DOUBLE) * 4096 * pow(2.0, 55)
               / (CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
                  + (64 - count(*)) * (CAST(1 AS BIGINT) << 55)) AS est
        FROM allregs GROUP BY grp
    ),
    wide AS (
        SELECT round(max(CASE WHEN grp = 'A' THEN est END), 4) AS hll_a,
               round(max(CASE WHEN grp = 'R' THEN est END), 4)
                   AS hll_r,
               round(max(CASE WHEN grp = '__union__' THEN est END), 4)
                   AS hll_union,
               round(max(CASE WHEN grp = 'A' THEN est END)
                     + max(CASE WHEN grp = 'R' THEN est END)
                     - max(CASE WHEN grp = '__union__' THEN est END), 4)
                   AS hll_intersection
        FROM est
    ),
    per_key AS (
        SELECT l_partkey,
               max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS a,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS t
        FROM li GROUP BY l_partkey
    ),
    exact AS (
        SELECT CAST(sum(a) AS BIGINT) AS n_exact_a,
               CAST(sum(t) AS BIGINT) AS n_exact_r,
               count(*) AS n_exact_union,
               CAST(sum(CASE WHEN a = 1 AND t = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_intersection
        FROM per_key
    )
    SELECT * FROM exact CROSS JOIN wide
"""


# ---------------------------------------------------------------------------
# sliding-window HLL: trailing-24h distinct users per hour
# ---------------------------------------------------------------------------
def agg_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour distinct-user estimate at every hour — the
    sketch property agg_hll_set_ops shows across GROUPS, exercised
    across TIME: hourly HLL registers merge into any trailing window by
    register-wise max (a RANGE frame over the hour value), so the
    dashboard never rescans raw events. Exact trailing distinct rides
    along via the bounded ×24 (user, hour) expansion (the ev_dau_wau_mau
    idiom) as ground truth.

    The register grid is DENSIFIED (hours × 64 buckets) before the
    frame so a bucket inactive in hour h still carries its trailing max
    into h's estimate; grid size is hours × 64 — a metadata-scale frame
    at any corpus size (a year is 560k rows). All register arithmetic
    is the exact-integer HLL of agg_hll_handrolled."""
    e = load(spark, sf_dir, "events").selectExpr(
        "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000 AS hour",
        "user_id",
    )
    regs = (
        e.selectExpr(
            "hour",
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) AS h",
        )
        .selectExpr("hour", "h % 64 AS bucket", "h div 64 AS rest")
        .groupBy("hour", "bucket")
        .agg(F.expr(
            "max(least(bit_count((rest & -rest) - 1) + 1, 55))").alias("m"))
    )
    bounds = e.agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.selectExpr(
        "explode(sequence(h0, h1)) AS hour"
    ).selectExpr(
        "hour", "explode(sequence(0, 63)) AS bucket"
    )
    from pyspark.sql import Window as W

    dense = grid.join(regs, ["hour", "bucket"], "left")
    w24 = (
        W.partitionBy("bucket").orderBy("hour").rangeBetween(-23, 0)
    )
    est = (
        dense.withColumn("m24", F.max("m").over(w24))
        .groupBy("hour")
        .agg(
            F.expr("sum(CASE WHEN m24 IS NULL THEN"
                   " shiftleft(CAST(1 AS BIGINT), 55)"
                   " ELSE shiftleft(CAST(1 AS BIGINT), 55 - m24) END)"
                   ).alias("hll_sum_scaled"),
        )
        .selectExpr(
            "hour",
            "round(0.709D * 4096 * pow(2.0D, 55) / hll_sum_scaled, 4)"
            " AS hll_24h",
        )
    )
    exact = (
        e.distinct()
        .selectExpr("user_id", "explode(sequence(hour, hour + 23)) AS ehour")
        .distinct()
        .groupBy(F.col("ehour").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_exact_24h"))
    )
    return (
        est.join(exact, "hour", "inner")
        .join(bounds.selectExpr("h1"), F.col("hour") <= F.col("h1"))
        .select("hour", "n_exact_24h", "hll_24h")
        .orderBy("hour")
    )


QUERIES["agg_hll_sliding_distinct"] = agg_hll_sliding_distinct

ORACLES["agg_hll_sliding_distinct"] = """
    WITH e AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
               user_id
        FROM events
    ),
    regs AS (
        SELECT hour,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 64 AS bucket,
               max(least(bit_count(
                   ((CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                     AS BIGINT) // 64)
                    & -(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) // 64)) - 1) + 1, 55)) AS m
        FROM e GROUP BY 1, 2
    ),
    bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
    hours AS (
        SELECT unnest(generate_series(h0, h1)) AS hour FROM bounds
    ),
    grid AS (
        SELECT h.hour, b.bucket
        FROM hours h, (SELECT unnest(generate_series(0, 63)) AS bucket) b
    ),
    dense AS (
        SELECT g.hour, g.bucket, r.m
        FROM grid g LEFT JOIN regs r
          ON g.hour = r.hour AND g.bucket = r.bucket
    ),
    rolled AS (
        SELECT hour, bucket,
               max(m) OVER (PARTITION BY bucket ORDER BY hour
                            RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS m24
        FROM dense
    ),
    est AS (
        SELECT hour,
               round(CAST(0.709 AS DOUBLE) * 4096 * pow(2.0, 55)
                     / CAST(sum(CASE WHEN m24 IS NULL
                                     THEN (CAST(1 AS BIGINT) << 55)
                                     ELSE (CAST(1 AS BIGINT) << (55 - m24))
                                END) AS BIGINT), 4) AS hll_24h
        FROM rolled GROUP BY hour
    ),
    expanded AS (
        SELECT DISTINCT user_id, hour + x.i AS ehour
        FROM (SELECT DISTINCT user_id, hour FROM e) u,
             (SELECT unnest(generate_series(0, 23)) AS i) x
    ),
    exact AS (
        SELECT ehour AS hour, count(*) AS n_exact_24h
        FROM expanded GROUP BY ehour
    )
    SELECT s.hour, x.n_exact_24h, s.hll_24h
    FROM est s
    JOIN exact x ON s.hour = x.hour
    JOIN bounds b ON s.hour <= b.h1
    ORDER BY s.hour
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the theta-sketch family
# ---------------------------------------------------------------------------
_KMV_K = 64


def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (Beyer et al., "On Synopses for
    Distinct-Value Estimation Under Multiset Operations", SIGMOD'07 —
    the estimator inside Apache DataSketches' theta sketch): hash every
    user to a 32-bit value, keep the k=64 smallest per event_type, and
    estimate distinct users as (k-1)·2^32 / h_(k); a sketch with fewer
    than k values is exact by construction. A final 'ALL' row merges the
    per-type sketches (union of min-sets, re-take min-k) — the
    mergeability that makes KMV a one-pass, fixed-memory distinct
    count at 100 TB where count(DISTINCT) needs a full shuffle of every
    key. The exact count runs beside it ONLY as the eval harness
    (sim_ann_recall_eval precedent): the sketch is the production path.

    Determinism: md5 → first 8 hex chars → [0, 2^32) integers; the k-th
    smallest via row_number over (hash, user_id) — total order, no ties
    ambiguity; the estimate is one integer multiply-then-divide.
    Scale shape: one groupBy(event_type, hash-distinct) aggregation;
    the min-k step is a per-type top-k (window over ≤ |types| × k rows
    after the per-partition partial)."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
        ).alias("h"),
    )
    # distinct (type, h) — the sketch state; 'ALL' merges every type
    per_type = e.select("event_type", "h").distinct()
    merged = e.select(F.lit("ALL").alias("event_type"), "h").distinct()
    sk = per_type.unionAll(merged)
    rn = sk.withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
    )
    est = rn.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    ).selectExpr(
        "event_type",
        f"CASE WHEN n_hashes < {_KMV_K} THEN n_hashes"
        f" ELSE ({_KMV_K} - 1) * 4294967296L div hk END AS kmv_est",
    )
    ex_t = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    ex_all = (
        load(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(F.lit("ALL").alias("event_type"), "exact_distinct")
    )
    exact = ex_t.unionAll(ex_all)
    return (
        est.join(exact, "event_type")
        .selectExpr(
            "event_type",
            "kmv_est",
            "exact_distinct",
            "round(abs(kmv_est - exact_distinct) * 100.0D"
            " / exact_distinct, 4) AS rel_err_pct4",
        )
        .orderBy("event_type")
    )


QUERIES["agg_kmv_distinct_sketch"] = agg_kmv_distinct_sketch

ORACLES["agg_kmv_distinct_sketch"] = f"""
    WITH h AS (
        SELECT event_type, user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h
        FROM events
    ),
    sk AS (
        SELECT DISTINCT event_type, h FROM h
        UNION ALL
        SELECT DISTINCT 'ALL' AS event_type, h FROM h
    ),
    rn AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM sk
    ),
    est AS (
        SELECT event_type,
               count(*) AS n_hashes,
               max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
        FROM rn GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL', count(DISTINCT user_id) FROM events
    )
    SELECT est.event_type,
           CAST(CASE WHEN n_hashes < {_KMV_K} THEN n_hashes
                ELSE ({_KMV_K} - 1) * 4294967296 // hk END AS BIGINT)
               AS kmv_est,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           round(abs(CAST(CASE WHEN n_hashes < {_KMV_K} THEN n_hashes
                     ELSE ({_KMV_K} - 1) * 4294967296 // hk END AS BIGINT)
                     - exact_distinct) * 100.0
                 / exact_distinct, 4) AS rel_err_pct4
    FROM est JOIN ex ON est.event_type = ex.event_type
    ORDER BY est.event_type
"""


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch vs exact quantiles
# ---------------------------------------------------------------------------
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width-histogram quantile estimation over order totals: 100
    fixed bins between the global min/max, quantile estimated as the
    lower bound of the first bin whose cumulative count reaches
    ceil(q·n) — the fixed-memory, one-pass, MERGEABLE quantile scheme
    (each partition's bin counts just add), i.e. the shape a 100 TB
    engine actually ships for p50/p90/p99 dashboards where an exact
    quantile needs a global sort. The exact rank value is computed
    beside it as the eval harness (group-by-value + cumulative window;
    fine at fixture scale, and the docstringed trade-off is the point).

    Determinism: prices quantized to integer cents (floor(x·100+0.5));
    bin ids, ranks, targets ceil(q·n) = (n·q_bp + 9999) div 10000, and
    both quantile values are pure int64 arithmetic — no doubles anywhere
    in the output."""
    o = load(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(floor(o_totalprice * 100.0D + 0.5D) AS BIGINT)"
        ).alias("cents")
    )
    glob = o.agg(
        F.min("cents").alias("minc"),
        F.max("cents").alias("maxc"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = (
        o.crossJoin(F.broadcast(glob))
        .selectExpr(
            "minc", "maxc", "n",
            "least(99L, (cents - minc) * 100 div (maxc - minc + 1)) AS bin",
        )
        .groupBy("bin", "minc", "maxc", "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(W.orderBy("bin")))
    )
    targets = spark.range(1).selectExpr(
        "explode(array(5000L, 9000L, 9900L)) AS q_bp"
    )
    est = (
        binned.crossJoin(F.broadcast(targets))
        .withColumn(
            "target_rank", F.expr("(n * q_bp + 9999) div 10000")
        )
        .filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("q_bp")
        .agg(
            F.max("n").alias("n_rows"),
            F.max("target_rank").alias("target_rank"),
            F.min(
                F.expr("minc + bin * (maxc - minc + 1) div 100")
            ).alias("est_cents"),
        )
    )
    exact_cum = (
        o.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(W.orderBy("cents")))
    )
    exact = (
        exact_cum.crossJoin(F.broadcast(est.select("q_bp", "target_rank")))
        .filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("q_bp")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return (
        est.join(exact, "q_bp")
        .selectExpr(
            "q_bp", "n_rows", "target_rank", "est_cents", "exact_cents",
            "abs(est_cents - exact_cents) AS err_cents",
        )
        .orderBy("q_bp")
    )


QUERIES["agg_histogram_quantiles"] = agg_histogram_quantiles

ORACLES["agg_histogram_quantiles"] = """
    WITH o AS (
        SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    g0 AS (
        SELECT min(cents) AS minc, max(cents) AS maxc,
               count(*) AS n
        FROM o
    ),
    binned AS (
        SELECT least(99, (cents - minc) * 100 // (maxc - minc + 1)) AS bin,
               minc, maxc, n, count(*) AS cnt
        FROM o CROSS JOIN g0
        GROUP BY 1, 2, 3, 4
    ),
    cumb AS (
        SELECT *, sum(cnt) OVER (ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM binned
    ),
    targets AS (
        SELECT unnest([5000, 9000, 9900]) AS q_bp
    ),
    est AS (
        SELECT q_bp,
               max(n) AS n_rows,
               max((n * q_bp + 9999) // 10000) AS target_rank,
               min(minc + bin * (maxc - minc + 1) // 100) AS est_cents
        FROM cumb CROSS JOIN targets
        WHERE cum >= (n * q_bp + 9999) // 10000
        GROUP BY q_bp
    ),
    exact_cum AS (
        SELECT cents, sum(cnt) OVER (ORDER BY cents
                                     ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT cents, count(*) AS cnt FROM o GROUP BY cents)
    ),
    exact AS (
        SELECT q_bp, min(cents) AS exact_cents
        FROM exact_cum CROSS JOIN est
        WHERE cum >= target_rank
        GROUP BY q_bp
    )
    SELECT CAST(est.q_bp AS BIGINT) AS q_bp,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(target_rank AS BIGINT) AS target_rank,
           CAST(est_cents AS BIGINT) AS est_cents,
           CAST(exact_cents AS BIGINT) AS exact_cents,
           CAST(abs(est_cents - exact_cents) AS BIGINT) AS err_cents
    FROM est JOIN exact ON est.q_bp = exact.q_bp
    ORDER BY q_bp
"""


# ---------------------------------------------------------------------------
# Price elasticity via quantized OLS
# ---------------------------------------------------------------------------
def agg_ols_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity per part brand: OLS slope of ln(qty) on
    ln(unit price) — the retail econometrics staple (elasticity < -1 =
    elastic demand). Inputs are QUANTIZED to int64 before summing, so
    the five OLS sums are exact integers in either engine (a double Σln
    would be accumulation-order-dependent) — the same trick as
    ev_bot_detection's scaled-integer variance. Quantization is ln·100
    with x CENTERED at 7.00 (xi −= 700): centering leaves the slope
    invariant but shrinks |xi| to ≲460, keeping n·Σxx ≈ 1.2e18 < 2^63
    even at the ×100 sweep's 2.4M rows/brand — the uncentered ln·1000
    form crosses 2^63 there and ANSI mode would abort the query.

    Scale shape: one projection + one groupBy(brand) — embarrassingly
    partial-aggregable."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    q = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == part["p_partkey"],
    ).selectExpr(
        "p_brand",
        "CAST(floor(ln(l_extendedprice / l_quantity) * 100.0D) AS BIGINT)"
        " - 700 AS xi",
        "CAST(floor(ln(CAST(l_quantity AS DOUBLE)) * 100.0D)"
        " AS BIGINT) AS yi",
    )
    return (
        q.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xi").alias("sx"),
            F.sum("yi").alias("sy"),
            F.sum(F.expr("xi * yi")).alias("sxy"),
            F.sum(F.expr("xi * xi")).alias("sxx"),
        )
        .selectExpr(
            "p_brand",
            "n",
            "round(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS elasticity4",
        )
        .orderBy("p_brand")
    )


QUERIES["agg_ols_elasticity"] = agg_ols_elasticity

ORACLES["agg_ols_elasticity"] = """
    WITH q AS (
        SELECT p_brand,
               CAST(floor(ln(l_extendedprice / l_quantity) * 100.0)
                    AS BIGINT) - 700 AS xi,
               CAST(floor(ln(CAST(l_quantity AS DOUBLE)) * 100.0)
                    AS BIGINT) AS yi
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    sums AS (
        SELECT p_brand, count(*) AS n,
               CAST(sum(xi) AS BIGINT) AS sx,
               CAST(sum(yi) AS BIGINT) AS sy,
               CAST(sum(xi * yi) AS BIGINT) AS sxy,
               CAST(sum(xi * xi) AS BIGINT) AS sxx
        FROM q GROUP BY 1
    )
    SELECT p_brand, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS elasticity4
    FROM sums
    ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Laspeyres price index
# ---------------------------------------------------------------------------
def agg_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per order year: Σ p_t·q₀ / Σ p₀·q₀ over
    parts traded in BOTH the base year (the data's first year) and year
    t, with p = cents unit price (part-year revenue / quantity) and
    q₀ = base-year quantity. Both sums are exact integer (cents ×
    whole units) per year; the index is one double expression in basis
    points. Plan: lineitem⋈orders on orderkey (the fact join), part-year
    prices grouped once, then a partkey equi-join against the base-year
    slice — every join keyed, no broadcast of unbounded sides."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "year(o_orderdate) AS yr"
    )
    py = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_partkey", "yr")
        .agg(
            F.expr(
                "CAST(round(100.0D * SUM(l_extendedprice) / SUM(l_quantity))"
                " AS BIGINT)"
            ).alias("price_c"),
            F.expr("CAST(SUM(l_quantity) AS BIGINT)").alias("qty"),
        )
    )
    base_yr = py.agg(F.min("yr").alias("byr"))
    base = (
        py.join(F.broadcast(base_yr), F.expr("yr = byr"))
        .selectExpr("l_partkey", "price_c AS p0", "qty AS q0")
    )
    return (
        py.join(base, "l_partkey")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.expr("price_c * q0")).alias("num"),
            F.sum(F.expr("p0 * q0")).alias("den"),
        )
        .selectExpr(
            "yr", "n_parts",
            "CAST(round(CAST(num AS DOUBLE) * 10000.0D"
            " / CAST(den AS DOUBLE)) AS BIGINT) AS index_bp",
        )
        .orderBy("yr")
    )


QUERIES["agg_price_index_laspeyres"] = agg_price_index_laspeyres

ORACLES["agg_price_index_laspeyres"] = """
    WITH py AS (
        SELECT l_partkey, year(o_orderdate) AS yr,
               CAST(round(100.0 * SUM(l_extendedprice) / SUM(l_quantity))
                    AS BIGINT) AS price_c,
               CAST(SUM(l_quantity) AS BIGINT) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_partkey, year(o_orderdate)
    ),
    base AS (
        SELECT l_partkey, price_c AS p0, qty AS q0
        FROM py WHERE yr = (SELECT MIN(yr) FROM py)
    )
    SELECT CAST(py.yr AS INT) AS yr, COUNT(*) AS n_parts,
           CAST(round(CAST(SUM(py.price_c * base.q0) AS DOUBLE) * 10000.0
                / CAST(SUM(base.p0 * base.q0) AS DOUBLE)) AS BIGINT)
               AS index_bp
    FROM py JOIN base USING (l_partkey)
    GROUP BY py.yr
    ORDER BY py.yr
"""


# ---------------------------------------------------------------------------
# rollup share-of-parent
# ---------------------------------------------------------------------------
def agg_rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic drill-down report: revenue by region/nation with each
    row's share OF ITS PARENT level — nations within their region,
    regions within the grand total — in exact ppm from integer cents.
    One fact aggregation at nation grain; parent totals are window sums
    over the (bounded) dimension grain, so no second scan and no
    self-join. Emits all three ROLLUP levels with a level tag."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.expr("CAST(SUM(round(o_totalprice * 100)) AS BIGINT)")
             .alias("rev_c"))
    )
    wreg = W.partitionBy("r_name").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    base = nat.select(
        "r_name", "n_name", "rev_c",
        F.sum("rev_c").over(wreg).alias("reg_c"),
        F.sum("rev_c").over(wall).alias("tot_c"),
    )
    nation_rows = base.selectExpr(
        "'nation' AS level", "r_name", "n_name", "rev_c",
        "rev_c * 1000000 DIV reg_c AS share_of_parent_ppm",
    )
    region_rows = (
        base.groupBy("r_name")
        .agg(F.max("reg_c").alias("rev_c"), F.max("tot_c").alias("tot_c"))
        .selectExpr(
            "'region' AS level", "r_name", "CAST(NULL AS STRING) AS n_name",
            "rev_c", "rev_c * 1000000 DIV tot_c AS share_of_parent_ppm",
        )
    )
    total_row = (
        base.groupBy()
        .agg(F.max("tot_c").alias("rev_c"))
        .selectExpr(
            "'total' AS level", "CAST(NULL AS STRING) AS r_name",
            "CAST(NULL AS STRING) AS n_name", "rev_c",
            "CAST(1000000 AS BIGINT) AS share_of_parent_ppm",
        )
    )
    return (
        nation_rows.unionAll(region_rows).unionAll(total_row)
        .orderBy("level", "r_name", "n_name")
    )


QUERIES["agg_rollup_share_of_parent"] = agg_rollup_share_of_parent

ORACLES["agg_rollup_share_of_parent"] = """
    WITH nat AS (
        SELECT r.r_name, n.n_name,
               CAST(SUM(round(o.o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    ),
    base AS (
        SELECT r_name, n_name, rev_c,
               SUM(rev_c) OVER (PARTITION BY r_name) AS reg_c,
               SUM(rev_c) OVER () AS tot_c
        FROM nat
    )
    SELECT 'nation' AS level, r_name, n_name, rev_c,
           CAST(rev_c * 1000000 // reg_c AS BIGINT) AS share_of_parent_ppm
    FROM base
    UNION ALL
    SELECT 'region', r_name, CAST(NULL AS VARCHAR),
           CAST(MAX(reg_c) AS BIGINT),
           CAST(MAX(reg_c) * 1000000 // MAX(tot_c) AS BIGINT)
    FROM base GROUP BY r_name
    UNION ALL
    SELECT 'total', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(MAX(tot_c) AS BIGINT), CAST(1000000 AS BIGINT)
    FROM base
    ORDER BY level, r_name, n_name
"""


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI per region: the sum of squared nation revenue shares — the
    antitrust-standard concentration scalar (10000 = monopoly, <1500 =
    competitive). Shares quantize to basis points FIRST (integer cents
    revenue, bp = rev·10000 // regional total), so the squared-share
    sum is exact in both engines; the two-level groupBy is the
    canonical partial-aggregated rollup."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.expr("CAST(SUM(round(o_totalprice * 100)) AS BIGINT)")
             .alias("rev_c"))
    )
    wreg = W.partitionBy("r_name").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    return (
        nat.withColumn("tot_c", F.sum("rev_c").over(wreg))
        .selectExpr("r_name", "rev_c * 10000 DIV tot_c AS share_bp")
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.expr("share_bp * share_bp DIV 10000")).alias("hhi"),
            F.max("share_bp").alias("top_share_bp"),
        )
        .orderBy("r_name")
    )


QUERIES["agg_hhi_concentration"] = agg_hhi_concentration

ORACLES["agg_hhi_concentration"] = """
    WITH nat AS (
        SELECT r.r_name, n.n_name,
               CAST(SUM(round(o.o_totalprice * 100)) AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    ),
    shares AS (
        SELECT r_name,
               rev_c * 10000 // (SUM(rev_c) OVER (PARTITION BY r_name))
                   AS share_bp
        FROM nat
    )
    SELECT r_name, COUNT(*) AS n_nations,
           CAST(SUM(share_bp * share_bp // 10000) AS BIGINT) AS hhi,
           CAST(MAX(share_bp) AS BIGINT) AS top_share_bp
    FROM shares
    GROUP BY r_name
    ORDER BY r_name
"""
