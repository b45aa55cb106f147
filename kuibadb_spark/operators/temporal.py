"""Temporal operators: the date/time scalar family, as-of join, range
join via bucketization, and multi-granularity (hypertable-style) rollups.

The reference has no time types at all (SURVEY.md §1.2 — no
timestamp/interval); this is target surface required by the fixtures
(events.ts, l_shipdate, o_orderdate).

As-of join is the canonical "operator Spark lacks": implemented as the
scalable union-tag-window composition (tag both streams, one shuffle on
the key, last-non-null carry-forward over event time) — not a pairwise
join. The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, which pins the
semantics independently of our construction.

Range join: the scalable form is bucketization (floor(value/width) →
equi-join / direct group) while the oracle states the naive inequality
join — same answer, different asymptotics; .explain shows no
BroadcastNestedLoop in ours.

Cross-engine notes: dayofweek conventions differ (Spark Sunday=1,
DuckDB Sunday=0) — adjusted explicitly; date formatting uses
date_format↔strftime pattern pairs that agree.

Scale notes: as-of = one shuffle on (key) + per-partition ordered scan;
rollup = grouping-sets over precomputed truncations (one shuffle);
bucketized range join has no inequality predicates anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load


# --------------------------------------------------------------------------
# date/time scalar family over orders/lineitem timestamps
# --------------------------------------------------------------------------
def time_scalar_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.selectExpr(
            "o_orderkey",
            "o_orderdate",
            "year(o_orderdate) AS y",
            "month(o_orderdate) AS m",
            "day(o_orderdate) AS d",
            "hour(o_orderdate) AS h",
            "quarter(o_orderdate) AS q",
            "dayofweek(o_orderdate) - 1 AS dow",  # align to DuckDB Sunday=0
            "dayofyear(o_orderdate) AS doy",
            "date_trunc('MONTH', o_orderdate) AS month_start",
            "date_trunc('WEEK', o_orderdate) AS week_start",
            "o_orderdate + INTERVAL 90 DAY AS due_date",
            "o_orderdate - INTERVAL 1 MONTH AS prev_month",
            "datediff(DATE '2002-01-01', CAST(o_orderdate AS DATE)) AS days_to_2002",
            "date_format(o_orderdate, 'yyyy-MM-dd') AS iso_day",
            "CAST(o_orderdate AS DATE) AS just_date",
        )
        .filter(F.col("o_orderkey") < 300)
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# as-of join: each purchase matched to the user's latest prior view
# --------------------------------------------------------------------------
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("ts"), F.col("value").alias("view_value"),
        F.lit(0).alias("tag"), F.col("event_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("tag"), "event_id",
    )
    merged = views.unionAll(purchases)
    # views sort before purchases at equal ts (tag asc) so an exact-tie view
    # is visible to the purchase — matching ASOF's >= semantics
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "last_view_value", F.last("view_value", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("tag") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "last_view_value",
        )
        .orderBy("user_id", "purchase_ts", "purchase_id")
    )


# --------------------------------------------------------------------------
# range join via bucketization: event values into fixed price bands
# --------------------------------------------------------------------------
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # scalable form: derive the band key directly — an equi-group, not an
    # inequality join (oracle states the naive BETWEEN join)
    return (
        e.withColumn("band_id", F.floor(F.col("value") / 50.0).cast("int"))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
        )
        .withColumn("band_lo", (F.col("band_id") * 50.0))
        .withColumn("band_hi", (F.col("band_id") * 50.0 + 50.0))
        .select("band_id", "band_lo", "band_hi", "n", "min_v", "max_v")
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# hypertable-style multi-granularity rollup (hour/day/month in one pass)
# --------------------------------------------------------------------------
def rollup_multigranularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("ks_events_rollup")
    return spark.sql(
        """
        WITH base AS (
            SELECT date_trunc('HOUR', ts)  AS h,
                   date_trunc('DAY', ts)   AS d,
                   date_trunc('MONTH', ts) AS mo,
                   value
            FROM ks_events_rollup
        )
        SELECT CASE WHEN grouping(h) = 0 THEN 'hour'
                    WHEN grouping(d) = 0 THEN 'day'
                    ELSE 'month' END AS granularity,
               coalesce(h, d, mo) AS bucket,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM base
        GROUP BY GROUPING SETS ((h), (d), (mo))
        ORDER BY granularity, bucket
        """
    )


# --------------------------------------------------------------------------
# gap fill + LOCF: dense hourly spine per event_type, carry last observation
# forward into empty hours (the TimescaleDB time_bucket_gapfill/locf shape)
# --------------------------------------------------------------------------
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly series: hours with no events get the previous
    hour's value (LOCF), leading gaps get 0. Integer-cents sums — float
    sum order differs across engines.

    Scale shape: the hourly aggregate is ONE shuffle of events; the spine
    is sequence() over a two-row global min/max (broadcast), exploded per
    event_type — spine size = types × hours, metadata-scale no matter the
    event count. The LOCF window shuffles only the dense spine, not the
    raw events."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"), F.date_trunc("HOUR", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))

    bounds = e.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("lo"),
        F.date_trunc("HOUR", F.max("ts")).alias("hi"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            (F.col("cents").isNull()).alias("filled"),
            F.coalesce(
                F.last("cents", ignorenulls=True).over(w), F.lit(0)
            ).alias("cents_locf"),
        )
        .orderBy("event_type", "h")
    )


QUERIES = {
    "time_scalar_family": time_scalar_family,
    "asof_purchase_last_view": asof_purchase_last_view,
    "range_join_value_bands": range_join_value_bands,
    "rollup_multigranularity": rollup_multigranularity,
    "ts_gap_fill_locf": ts_gap_fill_locf,
}

ORACLES = {
    "time_scalar_family": """
        SELECT o_orderkey, o_orderdate,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(day(o_orderdate) AS INTEGER) AS d,
               CAST(hour(o_orderdate) AS INTEGER) AS h,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
               o_orderdate + INTERVAL 90 DAY AS due_date,
               o_orderdate - INTERVAL 1 MONTH AS prev_month,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                    AS INTEGER) AS days_to_2002,
               strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
               CAST(o_orderdate AS DATE) AS just_date
        FROM orders
        WHERE o_orderkey < 300
        ORDER BY o_orderkey
    """,
    "asof_purchase_last_view": """
        WITH views AS (
            SELECT user_id, ts, value AS view_value FROM events
            WHERE event_type = 'view'
        ), purchases AS (
            SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'purchase'
        )
        SELECT p.user_id,
               p.event_id AS purchase_id,
               p.ts AS purchase_ts,
               v.view_value AS last_view_value
        FROM purchases p
        ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.user_id, purchase_ts, purchase_id
    """,
    "range_join_value_bands": """
        WITH bands AS (
            SELECT band_id, CAST(band_id * 50.0 AS DOUBLE) AS band_lo,
                   CAST(band_id * 50.0 + 50.0 AS DOUBLE) AS band_hi
            FROM (SELECT CAST(unnest(generate_series(0, 99)) AS INTEGER) AS band_id)
        )
        SELECT band_id, band_lo, band_hi,
               count(*) AS n,
               round(min(value), 2) AS min_v,
               round(max(value), 2) AS max_v
        FROM events JOIN bands
          ON value >= band_lo AND value < band_hi
        GROUP BY band_id, band_lo, band_hi
        ORDER BY band_id
    """,
    "rollup_multigranularity": """
        WITH base AS (
            SELECT date_trunc('hour', ts)  AS h,
                   date_trunc('day', ts)   AS d,
                   date_trunc('month', ts) AS mo,
                   value
            FROM events
        )
        SELECT CASE WHEN grouping(h) = 0 THEN 'hour'
                    WHEN grouping(d) = 0 THEN 'day'
                    ELSE 'month' END AS granularity,
               coalesce(h, d, mo) AS bucket,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM base
        GROUP BY GROUPING SETS ((h), (d), (mo))
        ORDER BY granularity, bucket
    """,
    "ts_gap_fill_locf": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT t.event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
            FROM (SELECT DISTINCT event_type FROM events) t, bounds
        )
        SELECT s.event_type, s.h,
               cents IS NULL AS filled,
               CAST(coalesce(
                   last_value(cents IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   0) AS BIGINT) AS cents_locf
        FROM spine s LEFT JOIN hourly USING (event_type, h)
        ORDER BY s.event_type, s.h
    """,
}


# --------------------------------------------------------------------------
# interval merge: union of overlapping per-user activity intervals
# --------------------------------------------------------------------------
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals (each event spans [ts, ts+5min)):
    the island detection runs on exact integer microseconds — a new
    island starts where an event's start exceeds the running max end of
    all earlier intervals (cummax window), island ids are a running sum
    of those breaks, and each merged interval aggregates its members.
    The calendar/uptime/coverage primitive; one user_id shuffle, two
    windows sharing its sort, then a groupBy."""
    e = load(spark, sf_dir, "events")
    iv = e.selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS s",
        "unix_micros(CAST(ts AS TIMESTAMP)) + 300000000 AS e",
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("start_us"),
            F.max("e").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .selectExpr(
            "user_id",
            "island",
            "start_us",
            "end_us",
            "(end_us - start_us) div 1000000 AS duration_s",
            "n_events",
        )
        .orderBy("user_id", "island")
    )


QUERIES["ts_interval_merge"] = ts_interval_merge

ORACLES["ts_interval_merge"] = """
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > max(e) OVER (PARTITION BY user_id
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS start_us, max(e) AS end_us,
           (max(e) - min(s)) // 1000000 AS duration_s,
           count(*) AS n_events
    FROM islands
    GROUP BY user_id, island
    ORDER BY user_id, island
"""


# --------------------------------------------------------------------------
# gap fill by LINEAR INTERPOLATION (the LOCF op's numeric sibling)
# --------------------------------------------------------------------------
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly series where missing hours take the linear
    interpolation between the surrounding observed hours (leading gaps
    take the next value, trailing the previous). Same metadata-scale
    spine as ts_gap_fill_locf; the interpolation is integer-cents
    cross-multiplication with truncating div (Spark `div` == DuckDB `//`
    on negatives too — probed rule, functions/scalar.py header), so the
    filled values are bit-identical across engines — a float slope would
    not be."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"), F.date_trunc("HOUR", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    bounds = e.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("lo"),
        F.date_trunc("HOUR", F.max("ts")).alias("hi"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    wp = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    hep = F.expr("CAST(unix_timestamp(h) div 3600 AS BIGINT)")
    obs_h = F.when(F.col("cents").isNotNull(), hep)
    dense = (
        spine.join(hourly, ["event_type", "h"], "left")
        .withColumn("hep", hep)
        .withColumn("pc", F.last("cents", ignorenulls=True).over(wp))
        .withColumn("ph", F.last(obs_h, ignorenulls=True).over(wp))
        .withColumn("nc", F.first("cents", ignorenulls=True).over(wn))
        .withColumn("nh", F.first(obs_h, ignorenulls=True).over(wn))
    )
    interp = (
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(F.col("pc").isNull(), F.coalesce(F.col("nc"), F.lit(0)))
        .when(F.col("nc").isNull(), F.col("pc"))
        .otherwise(
            F.col("pc")
            + F.expr("(nc - pc) * (hep - ph) div (nh - ph)")
        )
    )
    return (
        dense.select(
            "event_type",
            "h",
            F.col("cents").isNull().alias("filled"),
            interp.cast("bigint").alias("cents_interp"),
        )
        .orderBy("event_type", "h")
    )


QUERIES["ts_gap_fill_interpolate"] = ts_gap_fill_interpolate

ORACLES["ts_gap_fill_interpolate"] = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        GROUP BY event_type, h
    ),
    bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM (SELECT DISTINCT event_type FROM events) t, bounds
    ),
    dense AS (
        SELECT s.event_type, s.h, cents,
               epoch_us(s.h) // 3600000000 AS hep,
               last_value(cents IGNORE NULLS) OVER wp AS pc,
               last_value(CASE WHEN cents IS NOT NULL
                               THEN epoch_us(s.h) // 3600000000 END IGNORE NULLS)
                   OVER wp AS ph,
               first_value(cents IGNORE NULLS) OVER wn AS nc,
               first_value(CASE WHEN cents IS NOT NULL
                                THEN epoch_us(s.h) // 3600000000 END IGNORE NULLS)
                   OVER wn AS nh
        FROM spine s LEFT JOIN hourly USING (event_type, h)
        WINDOW wp AS (PARTITION BY s.event_type ORDER BY s.h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY s.event_type ORDER BY s.h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, h,
           cents IS NULL AS filled,
           CAST(CASE WHEN cents IS NOT NULL THEN cents
                     WHEN pc IS NULL THEN coalesce(nc, 0)
                     WHEN nc IS NULL THEN pc
                     ELSE pc + (nc - pc) * (hep - ph) // (nh - ph)
                END AS BIGINT) AS cents_interp
    FROM dense
    ORDER BY event_type, h
"""


# --------------------------------------------------------------------------
# forward as-of join: each purchase matched to the user's NEXT view
# --------------------------------------------------------------------------
def asof_purchase_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forward direction of the as-of join (asof_purchase_last_view
    mirrors backward): each purchase paired with the user's first view
    AT OR AFTER it, plus the wait in whole seconds — the time-to-next-
    touch metric behind abandonment/attribution models. Same scalable
    union-tag-window composition, with the carry running over the
    FOLLOWING frame; the wait is exact integer microseconds divided to
    seconds (truncating div, engine-identical)."""
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "value AS view_value",
        "0 AS tag",
        "event_id",
    )
    purchases = e.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "CAST(NULL AS DOUBLE) AS view_value",
        "1 AS tag",
        "event_id",
    )
    merged = views.unionAll(purchases)
    # views sort AFTER purchases at equal us (tag desc in a forward scan
    # means: ordering asc by (us, -tag) puts the purchase first, so an
    # exact-tie view is visible to it — ASOF's >= mirrored)
    w = (
        W.partitionBy("user_id")
        .orderBy("us", F.desc("tag"), "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = merged.withColumn(
        "next_view_value", F.first("view_value", ignorenulls=True).over(w)
    ).withColumn(
        "next_view_us",
        F.first(
            F.when(F.col("view_value").isNotNull(), F.col("us")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.filter(F.col("tag") == 1)
        .selectExpr(
            "user_id",
            "event_id AS purchase_id",
            "next_view_value",
            "CAST((next_view_us - us) div 1000000 AS BIGINT) AS wait_s",
        )
        .orderBy("user_id", "purchase_id")
    )


QUERIES["asof_purchase_next_view"] = asof_purchase_next_view

ORACLES["asof_purchase_next_view"] = """
    WITH merged AS (
        SELECT user_id, epoch_us(ts) AS us, value AS view_value,
               0 AS tag, event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, epoch_us(ts), NULL, 1, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
        SELECT user_id, us, tag, event_id,
               first_value(view_value IGNORE NULLS) OVER w
                   AS next_view_value,
               first_value(CASE WHEN view_value IS NOT NULL THEN us END
                           IGNORE NULLS) OVER w AS next_view_us
        FROM merged
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY us, tag DESC, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id AS purchase_id, next_view_value,
           CAST((next_view_us - us) // 1000000 AS BIGINT) AS wait_s
    FROM carried WHERE tag = 1
    ORDER BY user_id, purchase_id
"""


# ---------------------------------------------------------------------------
# seasonal decomposition (STL-lite): trend + day-of-week seasonal + residual
# ---------------------------------------------------------------------------
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily order-count series —
    the STL shape with exact integer arithmetic so both engines agree
    bit-for-bit: trend = centered 7-day moving SUM ×1e6 div 7 (emitted
    only for FULL windows, the standard edge rule), seasonal = per
    day-of-week mean deviation from trend (×1e6, integer div), residual
    = value×1e6 − trend − seasonal. The decomposition every forecasting
    pipeline starts from, as three window/groupBy passes.

    Scale shape: the series is one row per DAY (bounded by calendar, not
    order volume) after one partial-agg groupBy; the moving window and
    the day-of-week means run on that compact frame. At 100 TB the only
    fact-proportional stage is the first groupBy."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("DAY", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w7 = W.orderBy("d").rowsBetween(-3, 3)
    trended = (
        daily.withColumn("wn", F.count(F.lit(1)).over(w7))
        .withColumn("wsum", F.sum("n").over(w7))
        .filter(F.col("wn") == 7)
        .selectExpr("d", "n", "(wsum * 1000000) div 7 AS trend_e6")
    )
    dev = trended.withColumn(
        "dow", F.dayofweek("d")
    ).withColumn("dev_e6", F.expr("n * 1000000 - trend_e6"))
    seasonal = dev.groupBy("dow").agg(
        F.expr("sum(dev_e6) div count(1)").alias("seasonal_e6")
    )
    return (
        dev.join(F.broadcast(seasonal), "dow")
        .selectExpr(
            "d",
            "n",
            "trend_e6",
            "seasonal_e6",
            "n * 1000000 - trend_e6 - seasonal_e6 AS residual_e6",
        )
        .orderBy("d")
    )


QUERIES["ts_seasonal_decompose"] = ts_seasonal_decompose

ORACLES["ts_seasonal_decompose"] = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               count(*) AS n
        FROM orders GROUP BY 1
    ),
    trended AS (
        SELECT d, n, (wsum * 1000000) // 7 AS trend_e6 FROM (
            SELECT d, n,
                   count(*) OVER (ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
                   sum(n) OVER (ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum
            FROM daily
        ) WHERE wn = 7
    ),
    dev AS (
        SELECT d, n, trend_e6, dayofweek(d) + 1 AS dow,
               n * 1000000 - trend_e6 AS dev_e6
        FROM trended
    ),
    seasonal AS (
        SELECT dow, CAST(sum(dev_e6) // count(*) AS BIGINT) AS seasonal_e6
        FROM dev GROUP BY dow
    )
    SELECT dev.d, dev.n,
           CAST(dev.trend_e6 AS BIGINT) AS trend_e6,
           seasonal.seasonal_e6,
           CAST(dev.n * 1000000 - dev.trend_e6 - seasonal.seasonal_e6
                AS BIGINT) AS residual_e6
    FROM dev JOIN seasonal USING (dow)
    ORDER BY d
"""


# ---------------------------------------------------------------------------
# nearest as-of join: min |Δt| across both directions (merge_asof 'nearest')
# ---------------------------------------------------------------------------
def asof_purchase_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third merge_asof direction ('nearest', completing
    backward/forward): each purchase pairs with the view minimizing
    |ts_view − ts_purchase|, distance ties resolved backward (the
    pandas rule). One union scan + TWO window passes over the same
    (user, ts, tag, id) exchange — the carried struct keeps the view's
    ts/value/id together so the pick is a row-local integer-microsecond
    comparison; no join ever forms, same as the other as-of spellings.
    Within-timestamp view ties are pinned by event_id (backward carries
    the highest, forward the lowest) so the answer is fully
    deterministic in both engines."""
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.struct(
            F.col("ts").alias("vts"),
            F.col("value").alias("vv"),
            F.col("event_id").alias("vid"),
        ).alias("vs"),
        F.lit(0).alias("tag"), F.col("event_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("struct<vts:timestamp_ntz,vv:double,vid:bigint>").alias(
            "vs"
        ),
        F.lit(1).alias("tag"), "event_id",
    )
    merged = views.unionAll(purchases)
    order = [F.col("ts"), F.col("tag"), F.col("event_id")]
    w_b = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_f = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = merged.withColumn(
        "b", F.last("vs", ignorenulls=True).over(w_b)
    ).withColumn("f", F.first("vs", ignorenulls=True).over(w_f))
    return (
        carried.filter(F.col("tag") == 1)
        .selectExpr(
            "user_id",
            "event_id AS purchase_id",
            "ts AS purchase_ts",
            "CASE WHEN b IS NULL THEN f"
            " WHEN f IS NULL THEN b"
            " WHEN unix_micros(CAST(ts AS TIMESTAMP))"
            "      - unix_micros(CAST(b.vts AS TIMESTAMP))"
            "      <= unix_micros(CAST(f.vts AS TIMESTAMP))"
            "      - unix_micros(CAST(ts AS TIMESTAMP)) THEN b"
            " ELSE f END AS nv",
        )
        .selectExpr(
            "user_id",
            "purchase_id",
            "purchase_ts",
            "nv.vv AS nearest_view_value",
            "nv.vid AS nearest_view_id",
            "abs(unix_micros(CAST(nv.vts AS TIMESTAMP))"
            " - unix_micros(CAST(purchase_ts AS TIMESTAMP))) AS dist_us",
        )
        .orderBy("user_id", "purchase_ts", "purchase_id")
    )


QUERIES["asof_purchase_nearest_view"] = asof_purchase_nearest_view

ORACLES["asof_purchase_nearest_view"] = """
    WITH merged AS (
        SELECT user_id, ts, ts AS vts, value AS vv, event_id AS vid,
               0 AS tag, event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, ts, NULL, NULL, NULL, 1, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
        SELECT user_id, ts, tag, event_id,
               last_value(vts IGNORE NULLS) OVER wb AS b_vts,
               last_value(vv IGNORE NULLS) OVER wb AS b_vv,
               last_value(vid IGNORE NULLS) OVER wb AS b_vid,
               first_value(vts IGNORE NULLS) OVER wf AS f_vts,
               first_value(vv IGNORE NULLS) OVER wf AS f_vv,
               first_value(vid IGNORE NULLS) OVER wf AS f_vid
        FROM merged
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    picked AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
               CASE WHEN b_vts IS NULL THEN f_vv
                    WHEN f_vts IS NULL THEN b_vv
                    WHEN epoch_us(ts) - epoch_us(b_vts)
                         <= epoch_us(f_vts) - epoch_us(ts) THEN b_vv
                    ELSE f_vv END AS nearest_view_value,
               CASE WHEN b_vts IS NULL THEN f_vid
                    WHEN f_vts IS NULL THEN b_vid
                    WHEN epoch_us(ts) - epoch_us(b_vts)
                         <= epoch_us(f_vts) - epoch_us(ts) THEN b_vid
                    ELSE f_vid END AS nearest_view_id,
               CASE WHEN b_vts IS NULL THEN f_vts
                    WHEN f_vts IS NULL THEN b_vts
                    WHEN epoch_us(ts) - epoch_us(b_vts)
                         <= epoch_us(f_vts) - epoch_us(ts) THEN b_vts
                    ELSE f_vts END AS nearest_vts
        FROM carried WHERE tag = 1
    )
    SELECT user_id, purchase_id, purchase_ts,
           nearest_view_value, nearest_view_id,
           CAST(abs(epoch_us(nearest_vts) - epoch_us(purchase_ts))
                AS BIGINT) AS dist_us
    FROM picked
    ORDER BY user_id, purchase_ts, purchase_id
"""


# --------------------------------------------------------------------------
# OHLC downsampling: per-hour open/high/low/close/volume over events
# --------------------------------------------------------------------------
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick reduction of the event stream: first/last value by
    (ts, event_id) order — deterministic under duplicate timestamps —
    plus min/max/count/volume per hour bucket."""
    e = load(spark, sf_dir, "events").withColumn(
        "hr", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    )
    w_a = W.partitionBy("hr").orderBy("ts", "event_id")
    w_d = W.partitionBy("hr").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy("hr")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .orderBy("hr")
    )


QUERIES["ts_ohlc_downsample"] = ts_ohlc_downsample

ORACLES["ts_ohlc_downsample"] = """
        SELECT hr,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_events,
               round(sum(value), 2) AS volume
        FROM (
            SELECT date_trunc('hour', ts) AS hr, value,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY hr
        ORDER BY hr
    """


# --------------------------------------------------------------------------
# generated calendar dimension (FROM-less table generation at scale)
# --------------------------------------------------------------------------
def ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generated from the orders date range — the
    scale analog of the reference's FROM-less Result node (its only
    executable SELECT shape, optimizer.rs:23-62): a table produced by
    expression evaluation, not a scan. One row per day via
    sequence+explode; joinable to any fact on the date key. All fields
    are integer date-part functions — exact in both engines; ISO
    weekday via (dayofweek + 5) % 7 + 1 so Monday=1 matches DuckDB's
    isodow."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    return (
        bounds.select(
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
        )
        .selectExpr(
            "d AS cal_date",
            "year(d) AS y",
            "quarter(d) AS q",
            "month(d) AS m",
            "day(d) AS dom",
            "(dayofweek(d) + 5) % 7 + 1 AS isodow",
            "(dayofweek(d) + 5) % 7 + 1 >= 6 AS is_weekend",
            "dayofyear(d) AS doy",
        )
        .orderBy("cal_date")
    )


QUERIES["ts_calendar_dim"] = ts_calendar_dim

ORACLES["ts_calendar_dim"] = """
    WITH bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS d0,
               CAST(max(o_orderdate) AS DATE) AS d1
        FROM orders
    )
    SELECT CAST(d AS DATE) AS cal_date,
           CAST(year(d) AS INTEGER) AS y,
           CAST(quarter(d) AS INTEGER) AS q,
           CAST(month(d) AS INTEGER) AS m,
           CAST(day(d) AS INTEGER) AS dom,
           CAST(isodow(d) AS INT) AS isodow,
           isodow(d) >= 6 AS is_weekend,
           CAST(dayofyear(d) AS INT) AS doy
    FROM (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
        FROM bounds
    )
    ORDER BY cal_date
"""


# ---------------------------------------------------------------------------
# as-of join with tolerance: merge_asof's max-staleness semantics
# ---------------------------------------------------------------------------
def ts_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a STALENESS BOUND (pandas merge_asof's
    `tolerance`): each purchase is attributed to the user's most recent
    view only if that view happened within the last 30 minutes —
    older context is noise, not signal (the attribution-window rule
    every ads/analytics pipeline applies). Purchases with no
    fresh-enough view keep a NULL attribution and are counted as
    organic.

    Scale shape: identical to asof_purchase_last_view's one-pass
    merge-union scan (temporal.py:67 — union views+purchases, one
    window per user, last(ignorenulls) carry); the tolerance is a
    row-local timestamp subtraction AFTER the carry, so the bound adds
    ZERO shuffles — carrying ts alongside value is the whole trick."""
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("vv"),
        F.col("ts").alias("vts"), F.lit(0).alias("tag"), "event_id",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("double").alias("vv"),
        F.lit(None).cast(views.schema["vts"].dataType).alias("vts"),
        F.lit(1).alias("tag"), "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tol_us = 30 * 60 * 1_000_000
    carried = (
        views.unionAll(purchases)
        .withColumn("lv", F.last("vv", ignorenulls=True).over(w))
        .withColumn("lts", F.last("vts", ignorenulls=True).over(w))
    )
    return (
        carried.filter(F.col("tag") == 1)
        .selectExpr(
            "user_id",
            "event_id AS purchase_id",
            "ts AS purchase_ts",
            f"""CASE WHEN lts IS NOT NULL AND
                     unix_micros(CAST(ts AS TIMESTAMP))
                   - unix_micros(CAST(lts AS TIMESTAMP)) <= {tol_us}
                THEN lv END AS attributed_view_value""",
            f"""lts IS NOT NULL AND
                unix_micros(CAST(ts AS TIMESTAMP))
              - unix_micros(CAST(lts AS TIMESTAMP)) <= {tol_us}
                AS attributed""",
        )
        .orderBy("user_id", "purchase_ts", "purchase_id")
    )


QUERIES["ts_asof_tolerance"] = ts_asof_tolerance

ORACLES["ts_asof_tolerance"] = """
    WITH merged AS (
        SELECT user_id, ts, value AS vv, ts AS vts, 0 AS tag, event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, ts, NULL, NULL, 1, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
        SELECT user_id, ts, tag, event_id,
               last_value(vv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, tag, event_id
                   ROWS UNBOUNDED PRECEDING) AS lv,
               last_value(vts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, tag, event_id
                   ROWS UNBOUNDED PRECEDING) AS lts
        FROM merged
    )
    SELECT user_id,
           event_id AS purchase_id,
           ts AS purchase_ts,
           CASE WHEN lts IS NOT NULL AND
                     epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(CAST(lts AS TIMESTAMP)) <= 1800000000
                THEN lv END AS attributed_view_value,
           lts IS NOT NULL AND
           epoch_us(CAST(ts AS TIMESTAMP))
         - epoch_us(CAST(lts AS TIMESTAMP)) <= 1800000000 AS attributed
    FROM carried
    WHERE tag = 1
    ORDER BY user_id, purchase_ts, purchase_id
"""


# ---------------------------------------------------------------------------
# dyadic-weight EWMA over a bounded event frame
# ---------------------------------------------------------------------------
_EW_DEPTH = 20  # frame length; weights 2^-(0..19)


def ts_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted purchase value (halving weights,
    last 20 purchases) reported at each user's latest event — the
    decayed-engagement score feature stores serve. Weights are the
    DYADIC series 2^-k, so the weighted sum over milli-scaled integers
    is exact at EVERY accumulation order (scaled by 2^19 it is a plain
    BIGINT); the normalized score divides two exact integers. A bounded
    ROWS frame needs pair-dependent weights, which no windowed sum can
    see — 20 explicit lag() terms over ONE user exchange express it
    with zero joins (the ev_attribution_time_decay discipline).

    Scale: one shuffle (user_id), 20 lags on one sort, tiny final
    filter; depth is a constant, not a data term."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "CAST(floor(value * 1000 + 0.5D) AS BIGINT) AS v",
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_terms = " + ".join(
        f"coalesce(lag_v{k}, 0L) * shiftleft(CAST(1 AS BIGINT), {19 - k})"
        for k in range(_EW_DEPTH)
    )
    wsum_terms = " + ".join(
        f"CASE WHEN lag_v{k} IS NOT NULL THEN"
        f" shiftleft(CAST(1 AS BIGINT), {19 - k}) ELSE 0 END"
        for k in range(_EW_DEPTH)
    )
    df = e
    for k in range(_EW_DEPTH):
        df = df.withColumn(f"lag_v{k}", F.lag("v", k).over(w))
    latest = (
        df.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.col("us").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return latest.selectExpr(
        "user_id",
        f"{lag_terms} AS ewma_scaled",
        f"{wsum_terms} AS wsum_scaled",
        f"(1000 * ({lag_terms})) div ({wsum_terms}) AS ewma_micro",
    ).orderBy("user_id")


QUERIES["ts_ewma_decay"] = ts_ewma_decay

_EW_LAGS_DUCK = ",\n               ".join(
    f"lag(v, {k}) OVER w AS lag_v{k}" for k in range(_EW_DEPTH)
)
_EW_SUM_DUCK = " + ".join(
    f"coalesce(lag_v{k}, 0) * (CAST(1 AS BIGINT) << {19 - k})"
    for k in range(_EW_DEPTH)
)
_EW_W_DUCK = " + ".join(
    f"CASE WHEN lag_v{k} IS NOT NULL THEN (CAST(1 AS BIGINT) << {19 - k})"
    f" ELSE 0 END" for k in range(_EW_DEPTH)
)

ORACLES["ts_ewma_decay"] = f"""
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    lagged AS (
        SELECT user_id, us, event_id,
               {_EW_LAGS_DUCK}
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    latest AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY us DESC, event_id DESC) AS rk
        FROM lagged
    )
    SELECT user_id,
           CAST({_EW_SUM_DUCK} AS BIGINT) AS ewma_scaled,
           CAST({_EW_W_DUCK} AS BIGINT) AS wsum_scaled,
           CAST((1000 * ({_EW_SUM_DUCK})) // ({_EW_W_DUCK}) AS BIGINT)
               AS ewma_micro
    FROM latest WHERE rk = 1
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection via the prefix-min identity
# ---------------------------------------------------------------------------
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint scores over the hourly event-count
    series (Page 1954): S+_t = max_{j<=t} sum_{i=j..t}(x_i - mean) has
    the closed form P_t - min(0, min_{j<=t} P_j) where P is the prefix
    sum of deviations — so the classic RECURRENCE becomes two ordered
    window aggregates (running sum + running min/max), no iteration and
    no recursion; this identity is what makes CUSUM shippable on a BSP
    engine. Returns the top-10 hours by either-direction score — the
    "when did the level shift" dashboard.

    Determinism: deviations are scaled by n (d_i = n*x_i - sum(x), all
    int64 — no mean rounding), so scores are exact integers; the top-10
    order is (score DESC, hour) — total. Scale shape: the series is
    hour-grain (bounded, metadata-scale single-partition windows — the
    ev_survival_km precedent); everything before it is one groupBy."""
    e = load(spark, sf_dir, "events").selectExpr(
        "(unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) * 3600"
        " AS hour_unix"
    )
    hourly = e.groupBy("hour_unix").agg(F.count(F.lit(1)).alias("x"))
    glob = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    w = W.orderBy("hour_unix").rowsBetween(W.unboundedPreceding, 0)
    p = (
        hourly.crossJoin(F.broadcast(glob))
        .selectExpr("hour_unix", "n * x - sx AS dvi")
        .withColumn("p", F.sum("dvi").over(w))
    )
    scored = (
        p.withColumn("minp", F.min("p").over(w))
        .withColumn("maxp", F.max("p").over(w))
        .selectExpr(
            "hour_unix",
            "p - least(minp, 0L) AS cusum_pos",
            "greatest(maxp, 0L) - p AS cusum_neg",
        )
    )
    return (
        scored.orderBy(
            F.expr("greatest(cusum_pos, cusum_neg)").desc(), "hour_unix"
        )
        .limit(10)
    )


QUERIES["ts_changepoint_cusum"] = ts_changepoint_cusum

ORACLES["ts_changepoint_cusum"] = """
    WITH hourly AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600
                   AS hour_unix,
               count(*) AS x
        FROM events GROUP BY 1
    ),
    g0 AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM hourly),
    p AS (
        SELECT hour_unix,
               sum(n * x - sx) OVER (ORDER BY hour_unix
                                     ROWS UNBOUNDED PRECEDING) AS p
        FROM hourly CROSS JOIN g0
    ),
    scored AS (
        SELECT hour_unix,
               CAST(p - least(min(p) OVER w, 0) AS BIGINT) AS cusum_pos,
               CAST(greatest(max(p) OVER w, 0) - p AS BIGINT) AS cusum_neg
        FROM p
        WINDOW w AS (ORDER BY hour_unix ROWS UNBOUNDED PRECEDING)
    )
    SELECT hour_unix, cusum_pos, cusum_neg
    FROM scored
    ORDER BY greatest(cusum_pos, cusum_neg) DESC, hour_unix
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# Time-series autocorrelation (ACF at business lags)
# ---------------------------------------------------------------------------
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1/7/14
    days — THE seasonality diagnostic (Box-Jenkins identification): a
    spike at lag 7 says weekly cycle, slow decay says trend. The lag
    pairing is a calendar equi-join (d = d' + L), not a row-offset
    lag(), so missing days never misalign the series; Pearson r comes
    from the six exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²) in one
    group pass — the textbook one-pass shape that needs no second scan
    once the sums are partial-aggregated map-side.

    Determinism: daily counts are exact ints, every sum is int64 (the
    series is day-grain — no overflow at any fixture scale), r is one
    double expression in identical operand order both engines."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    lags = spark.range(1).selectExpr(
        "explode(array(1, 7, 14)) AS lag"
    )
    b = daily.selectExpr("d AS bd", "x AS y")
    paired = (
        daily.crossJoin(F.broadcast(lags))
        .join(b, F.expr("bd = date_sub(d, lag)"))
    )
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("y * y")).alias("syy"),
        )
        .selectExpr(
            "lag",
            "n_pairs",
            "round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))"
            " * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 4) AS r4",
        )
        .orderBy("lag")
    )


QUERIES["ts_autocorrelation"] = ts_autocorrelation

ORACLES["ts_autocorrelation"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS x
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([1, 7, 14]) AS lag),
    paired AS (
        SELECT lag, a.x AS x, b.x AS y
        FROM daily a CROSS JOIN lags
        JOIN daily b ON b.d = a.d - lag
    ),
    sums AS (
        SELECT lag, count(*) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n_pairs,
           round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 4)
               AS r4
    FROM sums
    ORDER BY lag
"""


# ---------------------------------------------------------------------------
# Theil-Sen robust trend estimator
# ---------------------------------------------------------------------------
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of daily event volume per type: the median of
    all pairwise slopes — the robust trend a monitoring pipeline
    prefers over OLS (29% outlier breakdown). x is the dense-rank day
    index (gaps collapse; documented), the pair join is a per-type
    self-join over the DAILY series — days², bounded by the retention
    window, never by event volume — and the median is a deterministic
    rank selection on ppm-quantized integer slopes (2x units so the
    even-count midpoint stays integer)."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "x",
            (F.dense_rank().over(
                W.partitionBy("event_type").orderBy("d")) - 1).cast("bigint"),
        )
        .select("event_type", "x", "c")
    )
    b = daily.selectExpr("event_type", "x AS xj", "c AS cj")
    pairs = daily.join(b, "event_type").filter("xj > x").selectExpr(
        "event_type",
        "CAST(round((cj - c) * 1000000.0D / (xj - x)) AS BIGINT) AS slope_ppm",
        "x", "xj",
    )
    wrank = W.partitionBy("event_type").orderBy("slope_ppm", "x", "xj")
    wall = (
        W.partitionBy("event_type").orderBy("slope_ppm")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ranked = pairs.select(
        "event_type", "slope_ppm",
        F.row_number().over(wrank).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(wall).alias("np"),
    )
    return (
        ranked.filter("r = (np + 1) DIV 2 OR r = (np + 2) DIV 2")
        .groupBy("event_type")
        .agg(
            F.max("np").alias("n_pairs"),
            F.expr(
                "SUM(slope_ppm) * CASE WHEN MIN(r) = MAX(r) THEN 2 ELSE 1 END"
            ).alias("median_slope_ppm_x2"),
        )
        .orderBy("event_type")
    )


QUERIES["ts_theil_sen_trend"] = ts_theil_sen_trend

ORACLES["ts_theil_sen_trend"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
        SELECT event_type,
               CAST(dense_rank() OVER (
                   PARTITION BY event_type ORDER BY d) - 1 AS BIGINT) AS x,
               c
        FROM daily
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(round((b.c - a.c) * 1000000.0 / (b.x - a.x)) AS BIGINT)
                   AS slope_ppm,
               a.x AS x, b.x AS xj
        FROM idx a JOIN idx b
          ON a.event_type = b.event_type AND b.x > a.x
    ),
    ranked AS (
        SELECT event_type, slope_ppm,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY slope_ppm, x, xj) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
    )
    SELECT event_type, MAX(np) AS n_pairs,
           CAST(SUM(slope_ppm) * CASE WHEN MIN(r) = MAX(r) THEN 2 ELSE 1 END
                AS BIGINT) AS median_slope_ppm_x2
    FROM ranked
    WHERE r = (np + 1) // 2 OR r = (np + 2) // 2
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Integer periodogram: dominant-cycle detection
# ---------------------------------------------------------------------------
_PERIODS = list(range(2, 11))
# cos/sin lookup quantized to 1e3, keyed (period, t mod period) — embedded
# as identical integer literals in both engines
_TRIG_ROWS = [
    (p, r,
     int(math.floor(abs(math.cos(2 * math.pi * r / p)) * 1e3 + 0.5))
     * (1 if math.cos(2 * math.pi * r / p) >= 0 else -1),
     int(math.floor(abs(math.sin(2 * math.pi * r / p)) * 1e3 + 0.5))
     * (1 if math.sin(2 * math.pi * r / p) >= 0 else -1))
    for p in _PERIODS for r in range(p)
]


def ts_periodogram_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant cycle per event type via an integer periodogram: power
    at period p is Sc²+Ss² with Sc = Σ y_t·cos(2πt/p) — the trig values
    quantized to 1e3 integers keyed (p, t mod p) and joined as a tiny
    broadcast lookup (54 rows), so the whole sweep is one equi-join and
    one exact integer aggregation per (type, period). The peak is a
    deterministic argmax (power desc, p asc). Detects e.g. weekly
    seasonality in daily series without any FFT dependency."""
    trig_values = ", ".join(f"({p}, {r}, {c}, {s})" for p, r, c, s in _TRIG_ROWS)
    spark_trig = F.broadcast(
        spark.sql(
            f"SELECT col1 AS p, col2 AS r, col3 AS cq, col4 AS sq"
            f" FROM VALUES {trig_values}"
        )
    )
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "t",
            (F.dense_rank().over(
                W.partitionBy("event_type").orderBy("d")) - 1).cast("bigint"),
        )
    )
    # explode the period list row-locally, THEN equi-join the trig
    # lookup on (p, t % p): `r = t % p` as a join condition mixes both
    # sides and would plan as a nested-loop join
    fanned = daily.select(
        "event_type", "c", "t",
        F.explode(F.array(*[F.lit(p) for p in _PERIODS])).alias("p"),
    ).withColumn("r", F.expr("CAST(t % p AS INT)"))
    power = (
        fanned.join(spark_trig, ["p", "r"])
        .groupBy("event_type", "p")
        .agg(
            F.sum(F.expr("c * cq")).alias("sc"),
            F.sum(F.expr("c * sq")).alias("ss"),
        )
        .selectExpr("event_type", "p", "sc * sc + ss * ss AS power")
    )
    wbest = W.partitionBy("event_type").orderBy(F.desc("power"), F.asc("p"))
    return (
        power.withColumn("rn", F.row_number().over(wbest))
        .filter("rn = 1")
        .selectExpr("event_type", "CAST(p AS INT) AS best_period", "power")
        .orderBy("event_type")
    )


QUERIES["ts_periodogram_peak"] = ts_periodogram_peak

ORACLES["ts_periodogram_peak"] = f"""
    WITH trig(p, r, cq, sq) AS (
        VALUES {", ".join(f"({p}, {r}, {c}, {s})" for p, r, c, s in _TRIG_ROWS)}
    ),
    daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
        SELECT event_type,
               CAST(dense_rank() OVER (
                   PARTITION BY event_type ORDER BY d) - 1 AS BIGINT) AS t,
               c
        FROM daily
    ),
    power AS (
        SELECT i.event_type, tr.p,
               CAST(SUM(i.c * tr.cq) * SUM(i.c * tr.cq)
                    + SUM(i.c * tr.sq) * SUM(i.c * tr.sq) AS BIGINT) AS power
        FROM idx i JOIN trig tr ON tr.r = i.t % tr.p
        GROUP BY i.event_type, tr.p
    )
    SELECT event_type, CAST(p AS INT) AS best_period, power
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY power DESC, p) AS rn
        FROM power
    ) WHERE rn = 1
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# LTTB visual downsampling (fixed-anchor variant)
# ---------------------------------------------------------------------------
_LTTB_BUCKET = 24


def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the hourly event
    series (Steinarsson 2013) — the dashboard decimation algorithm:
    keep, per bucket, the point forming the largest triangle with its
    neighbor buckets. This is the FIXED-ANCHOR variant: anchors are the
    neighbor buckets' centroids rather than the previously-selected
    point, which removes the sequential dependency (classic LTTB is a
    left-to-right scan) and makes every bucket independently parallel —
    the standard distributed adaptation; selection quality is within
    one point of sequential LTTB on smooth series. The triangle area is
    cross-multiplied into exact integers (scaled by np²·nn, constant
    within a bucket, so the per-bucket argmax is unaffected). First and
    last buckets keep their endpoint, as LTTB requires."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn(
            "x", (F.dense_rank().over(W.orderBy("h")) - 1).cast("bigint")
        )
        .withColumn("bucket", F.expr(f"x DIV {_LTTB_BUCKET}"))
    )
    baggs = hourly.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    maxb = baggs.agg(F.max("bucket").alias("mb"))
    prev = baggs.selectExpr(
        "bucket + 1 AS bucket", "n AS np", "sx AS ax", "sy AS ay")
    nxt = baggs.selectExpr(
        "bucket - 1 AS bucket", "n AS nn", "sx AS cx", "sy AS cy")
    interior = (
        hourly.join(prev, "bucket").join(nxt, "bucket")
        .selectExpr(
            "bucket", "x", "h", "y",
            "abs((x * np - ax) * (cy * np - ay * nn)"
            " - (cx * np - ax * nn) * (y * np - ay)) AS score",
        )
    )
    wpick = W.partitionBy("bucket").orderBy(F.desc("score"), F.asc("x"))
    picked = (
        interior.withColumn("rn", F.row_number().over(wpick))
        .filter("rn = 1")
        .select("bucket", "x", "h", "y")
    )
    wfirst = W.partitionBy("bucket").orderBy("x")
    wlast = W.partitionBy("bucket").orderBy(F.desc("x"))
    first_pt = (
        hourly.filter("bucket = 0")
        .withColumn("rn", F.row_number().over(wfirst))
        .filter("rn = 1").select("bucket", "x", "h", "y")
    )
    last_pt = (
        hourly.join(F.broadcast(maxb), F.expr("bucket = mb"))
        .withColumn("rn", F.row_number().over(wlast))
        .filter("rn = 1").select("bucket", "x", "h", "y")
    )
    return first_pt.unionAll(picked).unionAll(last_pt).orderBy("x")


QUERIES["ts_lttb_downsample"] = ts_lttb_downsample

ORACLES["ts_lttb_downsample"] = f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS y
        FROM events GROUP BY date_trunc('hour', ts)
    ),
    idx AS (
        SELECT h, y,
               CAST(dense_rank() OVER (ORDER BY h) - 1 AS BIGINT) AS x
        FROM hourly
    ),
    pts AS (SELECT *, x // {_LTTB_BUCKET} AS bucket FROM idx),
    baggs AS (
        SELECT bucket, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
        FROM pts GROUP BY bucket
    ),
    interior AS (
        SELECT p.bucket, p.x, p.h, p.y,
               abs((p.x * pr.n - pr.sx) * (nx.sy * pr.n - pr.sy * nx.n)
                   - (nx.sx * pr.n - pr.sx * nx.n) * (p.y * pr.n - pr.sy))
                   AS score
        FROM pts p
        JOIN baggs pr ON pr.bucket = p.bucket - 1
        JOIN baggs nx ON nx.bucket = p.bucket + 1
    ),
    picked AS (
        SELECT bucket, x, h, y FROM (
            SELECT *, row_number() OVER (PARTITION BY bucket
                       ORDER BY score DESC, x) AS rn
            FROM interior
        ) WHERE rn = 1
    ),
    first_pt AS (
        SELECT bucket, x, h, y FROM (
            SELECT *, row_number() OVER (ORDER BY x) AS rn
            FROM pts WHERE bucket = 0
        ) WHERE rn = 1
    ),
    last_pt AS (
        SELECT bucket, x, h, y FROM (
            SELECT *, row_number() OVER (ORDER BY x DESC) AS rn
            FROM pts WHERE bucket = (SELECT MAX(bucket) FROM baggs)
        ) WHERE rn = 1
    )
    SELECT * FROM first_pt
    UNION ALL SELECT * FROM picked
    UNION ALL SELECT * FROM last_pt
    ORDER BY x
"""


# ---------------------------------------------------------------------------
# moving-average crossover signals
# ---------------------------------------------------------------------------
def ts_ma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow moving-average crossover detection on per-type daily
    volume — the classic trend-change signal (3-day vs 9-day MA):
    'golden' when the fast average crosses above the slow, 'death' when
    below. The comparison is exact cross-multiplied integers
    (sum3·3 > sum9 ⇔ avg3 > avg9), signals need full 9-day history
    (row 9+), and a crossover is a strict sign flip vs the previous
    day. Bounded per-type windows over the daily series."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w3 = W.partitionBy("event_type").orderBy("d").rowsBetween(-2, 0)
    w9 = W.partitionBy("event_type").orderBy("d").rowsBetween(-8, 0)
    wn = W.partitionBy("event_type").orderBy("d")
    sig = daily.select(
        "event_type", "d",
        F.sum("c").over(w3).alias("s3"),
        F.sum("c").over(w9).alias("s9"),
        F.row_number().over(wn).alias("rn"),
    ).filter("rn >= 9").selectExpr(
        "event_type", "d",
        "CASE WHEN s3 * 3 > s9 THEN 1 WHEN s3 * 3 < s9 THEN -1 ELSE 0 END"
        " AS sig",
    )
    wl = W.partitionBy("event_type").orderBy("d")
    return (
        sig.withColumn("prev", F.lag("sig").over(wl))
        .filter("prev IS NOT NULL AND sig != 0 AND prev != 0"
                " AND sig != prev")
        .selectExpr(
            "event_type", "d",
            "CASE WHEN sig = 1 THEN 'golden' ELSE 'death' END AS crossover",
        )
        .orderBy("event_type", "d")
    )


QUERIES["ts_ma_crossover_signals"] = ts_ma_crossover_signals

ORACLES["ts_ma_crossover_signals"] = """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               COUNT(*) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    sig AS (
        SELECT event_type, d,
               CASE WHEN s3 * 3 > s9 THEN 1 WHEN s3 * 3 < s9 THEN -1
                    ELSE 0 END AS sig
        FROM (
            SELECT event_type, d,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s3,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS s9,
                   row_number() OVER (PARTITION BY event_type ORDER BY d)
                       AS rn
            FROM daily
        ) WHERE rn >= 9
    )
    SELECT event_type, d,
           CASE WHEN sig = 1 THEN 'golden' ELSE 'death' END AS crossover
    FROM (
        SELECT *, LAG(sig) OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM sig
    )
    WHERE prev IS NOT NULL AND sig <> 0 AND prev <> 0 AND sig <> prev
    ORDER BY event_type, d
"""


# ---------------------------------------------------------------------------
# winsorized mean
# ---------------------------------------------------------------------------
def ts_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%/95% winsorized mean of event value per type — the robust
    location estimate that clamps (not drops) the tails, standard for
    spend metrics with whale outliers. Both percentile cut points come
    from rank selection over the cents-value HISTOGRAM (the
    profile_outlier_iqr trick: windows over distinct values), and the
    winsorized sum is then Σ m·clamp(v) over the same blocks — exact
    integers end to end, one final micro-cents divide."""
    cents = (
        load(spark, sf_dir, "events")
        .selectExpr("event_type",
                    "CAST(round(value * 100) AS BIGINT) AS v")
        .groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    )
    wcum = (
        W.partitionBy("event_type").orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = (
        W.partitionBy("event_type").orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    cums = cents.select(
        "event_type", "v", "m",
        F.sum("m").over(wcum).alias("cum"),
        F.sum("m").over(wall).alias("n"),
    )
    wpick = W.partitionBy("event_type").orderBy("v")
    cuts = (
        cums.selectExpr(
            "event_type", "v", "n",
            # first value whose cumulative count reaches ceil(q*n)
            "CASE WHEN cum >= (n * 5 + 99) DIV 100 THEN 1 ELSE 0 END AS ge5",
            "CASE WHEN cum >= (n * 95 + 99) DIV 100 THEN 1 ELSE 0 END AS ge95",
        )
    )
    p5 = (
        cuts.filter("ge5 = 1")
        .withColumn("rn", F.row_number().over(wpick)).filter("rn = 1")
        .selectExpr("event_type", "v AS p5")
    )
    p95 = (
        cuts.filter("ge95 = 1")
        .withColumn("rn", F.row_number().over(wpick)).filter("rn = 1")
        .selectExpr("event_type", "v AS p95")
    )
    return (
        cents.join(p5, "event_type").join(p95, "event_type")
        .selectExpr(
            "event_type", "m",
            "m * greatest(least(v, p95), p5) AS wsum_part",
            "p5", "p95",
        )
        .groupBy("event_type")
        .agg(
            F.sum("m").alias("n"),
            F.max("p5").alias("p5_cents"),
            F.max("p95").alias("p95_cents"),
            F.expr("SUM(wsum_part) * 10000 DIV SUM(m)")
            .alias("wmean_microcents"),
        )
        .orderBy("event_type")
    )


QUERIES["ts_winsorized_mean"] = ts_winsorized_mean

ORACLES["ts_winsorized_mean"] = """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
               COUNT(*) AS m
        FROM events GROUP BY event_type, CAST(round(value * 100) AS BIGINT)
    ),
    cums AS (
        SELECT event_type, v, m,
               SUM(m) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(m) OVER (PARTITION BY event_type) AS n
        FROM cents
    ),
    p5 AS (
        SELECT event_type, v AS p5 FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY v) AS rn
            FROM cums WHERE cum >= (n * 5 + 99) // 100
        ) WHERE rn = 1
    ),
    p95 AS (
        SELECT event_type, v AS p95 FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY v) AS rn
            FROM cums WHERE cum >= (n * 95 + 99) // 100
        ) WHERE rn = 1
    )
    SELECT c.event_type,
           CAST(SUM(c.m) AS BIGINT) AS n,
           CAST(MAX(p5.p5) AS BIGINT) AS p5_cents,
           CAST(MAX(p95.p95) AS BIGINT) AS p95_cents,
           CAST(SUM(c.m * greatest(least(c.v, p95.p95), p5.p5)) * 10000
                // SUM(c.m) AS BIGINT) AS wmean_microcents
    FROM cents c
    JOIN p5 USING (event_type)
    JOIN p95 USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
"""


# ---------------------------------------------------------------------------
# Bollinger-band breakouts
# ---------------------------------------------------------------------------
_BB_WIN = 7  # trailing days


def ts_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout days per event type: a day whose volume
    leaves the trailing-7-day mean ± 2σ band. The band test is fully
    cross-multiplied into exact integers — (n·x − S)² > 4·(n·Σx² − S²)
    ⇔ |x − μ| > 2σ — so no float mean/stddev ever materializes and
    both engines agree bit-for-bit. Trailing windows EXCLUDE the
    current day (the signal compares today against the preceding week);
    days without full history are skipped."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wtrail = (
        W.partitionBy("event_type").orderBy("d")
        .rowsBetween(-_BB_WIN, -1)
    )
    wn = W.partitionBy("event_type").orderBy("d")
    stats = daily.select(
        "event_type", "d", "x",
        F.sum("x").over(wtrail).alias("s"),
        F.sum(F.expr("x * x")).over(wtrail).alias("ss"),
        F.count(F.lit(1)).over(wtrail).alias("n"),
        F.row_number().over(wn).alias("rn"),
    ).filter(f"rn > {_BB_WIN}")
    return (
        stats.selectExpr(
            "event_type", "d", "x",
            "s DIV n AS trailing_mean",
            "CASE WHEN (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)"
            " THEN CASE WHEN n * x > s THEN 'above' ELSE 'below' END"
            " END AS breakout",
        )
        .filter("breakout IS NOT NULL")
        .orderBy("event_type", "d")
    )


QUERIES["ts_bollinger_breakouts"] = ts_bollinger_breakouts

ORACLES["ts_bollinger_breakouts"] = f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               COUNT(*) AS x
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    stats AS (
        SELECT event_type, d, x,
               SUM(x) OVER wt AS s,
               SUM(x * x) OVER wt AS ss,
               COUNT(*) OVER wt AS n,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
        FROM daily
        WINDOW wt AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN {_BB_WIN} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, x,
           CAST(s // n AS BIGINT) AS trailing_mean,
           CASE WHEN (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
                THEN CASE WHEN n * x > s THEN 'above' ELSE 'below' END
           END AS breakout
    FROM stats
    WHERE rn > {_BB_WIN}
      AND (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
    ORDER BY event_type, d
"""


# ---------------------------------------------------------------------------
# weekday/weekend lift
# ---------------------------------------------------------------------------
def ts_weekday_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type weekday-vs-weekend demand profile: average daily volume
    on weekdays vs weekend days and the lift in ppm — the seasonality
    scalar behind staffing/capacity plans (and the sanity anchor for
    ts_periodogram_peak's weekly-cycle detection). Day-count
    normalization keeps it calendar-exact: integer event counts over
    integer distinct-day counts, one final ratio each."""
    daily = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "date_trunc('day', ts) AS d",
            # align to DuckDB: Sunday=0..Saturday=6; weekend = {0, 6}
            "dayofweek(ts) - 1 AS dow",
        )
        .groupBy("event_type", "d", "dow")
        .agg(F.count(F.lit(1)).alias("c"))
        .selectExpr(
            "event_type", "c",
            "CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END AS is_weekend",
        )
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.sum(F.expr("CASE WHEN is_weekend = 0 THEN c ELSE 0 END"))
            .alias("wd_events"),
            F.sum(F.expr("CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END"))
            .alias("wd_days"),
            F.sum(F.expr("CASE WHEN is_weekend = 1 THEN c ELSE 0 END"))
            .alias("we_events"),
            F.sum(F.expr("CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END"))
            .alias("we_days"),
        )
        .selectExpr(
            "event_type", "wd_events", "wd_days", "we_events", "we_days",
            # lift of weekday daily-average over weekend daily-average.
            # Guard BOTH zero factors of the denominator: weekend-only
            # activity gives wd_days = 0, and Spark's DIV would return
            # NULL while DuckDB's // raises division-by-zero — the guard
            # must short-circuit identically in both engines.
            "CASE WHEN we_events = 0 OR wd_days = 0 THEN NULL"
            " ELSE wd_events * we_days * 1000000 DIV (we_events * wd_days)"
            " END AS weekday_lift_ppm",
        )
        .orderBy("event_type")
    )


QUERIES["ts_weekday_weekend_lift"] = ts_weekday_weekend_lift

ORACLES["ts_weekday_weekend_lift"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS is_weekend,
               COUNT(*) AS c
        FROM events
        GROUP BY event_type, date_trunc('day', ts),
                 CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN is_weekend = 0 THEN c ELSE 0 END) AS BIGINT)
               AS wd_events,
           CAST(SUM(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS wd_days,
           CAST(SUM(CASE WHEN is_weekend = 1 THEN c ELSE 0 END) AS BIGINT)
               AS we_events,
           CAST(SUM(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS we_days,
           CAST(CASE WHEN SUM(CASE WHEN is_weekend = 1 THEN c ELSE 0 END) = 0
                     OR SUM(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE SUM(CASE WHEN is_weekend = 0 THEN c ELSE 0 END)
                     * SUM(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END)
                     * 1000000
                     // (SUM(CASE WHEN is_weekend = 1 THEN c ELSE 0 END)
                     * SUM(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END))
                END AS BIGINT) AS weekday_lift_ppm
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
"""
