"""Composed pipelines — the queries a training-data curation job actually
runs: multiple operators from this engine chained in one plan. These are
the integration proof that the operator surface composes (filter →
dedup → stats in a single Catalyst plan, no materialization between
stages).

Scale notes: the curation pipeline is scan → narrow filters → one
hash-groupBy (dedup) → one groupBy (stats): two shuffles total at any
corpus size. The funnel is a single per-user aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load
from kuibadb_spark.operators.dedup import _DUP_CORPUS_DUCK, _dup_corpus
from kuibadb_spark.operators.text import _SHINGLE_ARR_SPARK


# --------------------------------------------------------------------------
# curation pipeline: quality gate → language allowlist → exact dedup →
# per-language corpus statistics
# --------------------------------------------------------------------------
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.withColumn("toks", F.split("text", r"\s+"))
    quality = toks.withColumn("n_toks", F.size("toks")).withColumn(
        "uniq_ratio", F.size(F.array_distinct("toks")) / F.col("n_toks")
    )
    gated = quality.filter(
        (F.col("n_toks") >= 20)
        & (F.col("uniq_ratio") > 0.3)
        & F.col("lang").isin("en", "de", "fr")
    )
    deduped = (
        gated.groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_toks").alias("n_toks"),
        )
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.expr("(sum(n_toks) * 100) div count(1)").alias("toks_per_doc_e2"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# data profiling: per-column nulls / exact NDV / extrema in one pass shape
# --------------------------------------------------------------------------
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    parts = []
    for c in cols:
        parts.append(
            l.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
                F.countDistinct(c).alias("ndv"),
                F.min(c).cast("string").alias("min_s"),
                F.max(c).cast("string").alias("max_s"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("col_name")


QUERIES = {
    "profile_lineitem": profile_lineitem,
    "pipeline_curation": pipeline_curation,
}

ORACLES = {
    "profile_lineitem": """
        SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
               count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_nulls,
               count(DISTINCT l_orderkey) AS ndv,
               CAST(min(l_orderkey) AS VARCHAR) AS min_s,
               CAST(max(l_orderkey) AS VARCHAR) AS max_s
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(*),
               count(CASE WHEN l_quantity IS NULL THEN 1 END),
               count(DISTINCT l_quantity),
               CAST(CAST(min(l_quantity) AS DOUBLE) AS VARCHAR),
               CAST(CAST(max(l_quantity) AS DOUBLE) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(*),
               count(CASE WHEN l_returnflag IS NULL THEN 1 END),
               count(DISTINCT l_returnflag),
               min(l_returnflag), max(l_returnflag)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate', count(*),
               count(CASE WHEN l_shipdate IS NULL THEN 1 END),
               count(DISTINCT l_shipdate),
               strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
               strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
        FROM lineitem
        ORDER BY col_name
    """,
    "pipeline_curation": """
        WITH toks AS (
            SELECT doc_id, lang, text,
                   string_split_regex(text, '\\s+') AS toks
            FROM documents
        ), quality AS (
            SELECT doc_id, lang, text, len(toks) AS n_toks,
                   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                       AS uniq_ratio
            FROM toks
        ), gated AS (
            SELECT * FROM quality
            WHERE n_toks >= 20 AND uniq_ratio > 0.3
              AND lang IN ('en', 'de', 'fr')
        ), deduped AS (
            SELECT md5(text) AS h, min(doc_id) AS doc_id,
                   min(lang) AS lang, min(n_toks) AS n_toks
            FROM gated GROUP BY md5(text)
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_toks,
               CAST((sum(n_toks) * 100) // count(*) AS BIGINT) AS toks_per_doc_e2
        FROM deduped
        GROUP BY lang
        ORDER BY lang
    """,
}


# --------------------------------------------------------------------------
# declarative data-quality audit: constraint checks as one aggregate
# --------------------------------------------------------------------------
def profile_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test / Great-Expectations-style constraint audit compiled to
    aggregates — the reference enforces NOT NULL imperatively at write
    time (check_notnull, /root/reference src/access/cs.rs:58-76); at
    warehouse scale constraints are VERIFIED declaratively: each rule is
    a count over a predicate, referential rules are broadcast anti-join
    counts, and the whole audit is a handful of scans emitting one row
    per rule (rule, n_violations, pass). Nothing moves but counters."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def rule(name, violating):
        return violating.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations")
        ).selectExpr(
            f"'{name}' AS rule", "n_violations", "n_violations = 0 AS pass"
        )

    checks = [
        rule("lineitem_quantity_positive",
             li.filter(~(F.col("l_quantity") > 0))),
        rule("lineitem_discount_range",
             li.filter(~F.col("l_discount").between(0.0, 1.0))),
        rule("orders_totalprice_notnull",
             o.filter(F.col("o_totalprice").isNull())),
        rule("orders_custkey_refs_customer",
             o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")),
        rule("lineitem_orderkey_refs_orders",
             li.join(F.broadcast(o.select("o_orderkey")),
                     li.l_orderkey == F.col("o_orderkey"), "left_anti")),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionAll(ch)
    return out.orderBy("rule")


QUERIES["profile_constraint_checks"] = profile_constraint_checks

ORACLES["profile_constraint_checks"] = """
    SELECT rule, n_violations, n_violations = 0 AS pass FROM (
        SELECT 'lineitem_quantity_positive' AS rule,
               count(*) FILTER (WHERE NOT (l_quantity > 0)) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_discount_range',
               count(*) FILTER (WHERE NOT (l_discount BETWEEN 0.0 AND 1.0))
        FROM lineitem
        UNION ALL
        SELECT 'orders_totalprice_notnull',
               count(*) FILTER (WHERE o_totalprice IS NULL)
        FROM orders
        UNION ALL
        SELECT 'orders_custkey_refs_customer',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_orderkey_refs_orders',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
    )
    ORDER BY rule
"""


# --------------------------------------------------------------------------
# distribution drift: first half vs second half of the stream, chi² in ppm
# --------------------------------------------------------------------------
def profile_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: per event type, compare the value distribution
    of the stream's first time-half against its second (50-unit value
    bands) with a per-band chi-square statistic Σ 1e6·(a−b)² div (a+b)
    — cross-multiplied integer arithmetic, so the drift score is exact
    across engines (the float PSI/chi² it stands in for is ulp-unstable
    under partial-sum reordering). The time split is the integer
    microsecond midpoint of the observed range.

    Scale: two metadata-cheap global bounds, one row-local band/half
    tag, one partial-aggregated groupBy(type, band) producing a
    bands×types table, and a tiny final reduce — the same shape as any
    monitoring rollup; output cardinality = event types."""
    e = load(spark, sf_dir, "events")
    b = e.agg(
        F.min(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).alias("lo"),
        F.max(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).alias("hi"),
    )
    banded = (
        e.crossJoin(F.broadcast(b))
        .selectExpr(
            "event_type",
            "CAST(floor(value / 50.0) AS INT) AS band",
            "CASE WHEN unix_micros(CAST(ts AS TIMESTAMP)) * 2 <= lo + hi"
            " THEN 0 ELSE 1 END AS half",
        )
        .groupBy("event_type", "band")
        .agg(
            F.count_if(F.col("half") == 0).cast("bigint").alias("a"),
            F.count_if(F.col("half") == 1).cast("bigint").alias("b"),
        )
    )
    return (
        banded.groupBy("event_type")
        .agg(
            F.sum("a").alias("n_first"),
            F.sum("b").alias("n_second"),
            F.sum(
                F.expr("1000000 * (a - b) * (a - b) div (a + b)")
            ).alias("chi2_e6"),
        )
        .orderBy("event_type")
    )


QUERIES["profile_drift_chi2"] = profile_drift_chi2

ORACLES["profile_drift_chi2"] = """
    WITH b AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    banded AS (
        SELECT event_type,
               CAST(floor(value / 50.0) AS INTEGER) AS band,
               CAST(count_if(epoch_us(ts) * 2 <= lo + hi) AS BIGINT) AS a,
               CAST(count_if(epoch_us(ts) * 2 > lo + hi) AS BIGINT) AS b
        FROM events, b
        GROUP BY event_type, band
    )
    SELECT event_type,
           CAST(sum(a) AS BIGINT) AS n_first,
           CAST(sum(b) AS BIGINT) AS n_second,
           CAST(sum(1000000 * (a - b) * (a - b) // (a + b)) AS BIGINT)
               AS chi2_e6
    FROM banded
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation: quintile scores over recency/frequency/monetary
# ---------------------------------------------------------------------------
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per customer,
    recency (latest order date), frequency (order count), and monetary
    (lifetime value, exact integer cents so double summation order can't
    drift), each ntile(5)-scored with a fully deterministic ordering
    (metric, then custkey — ntile's bucket-remainder rule is the SQL
    standard in both engines, so assignments match exactly). Output is
    the segment-level rollup: customers, total cents, and min/max of
    each score in the segment.

    Scale shape: one groupBy(custkey) over orders (partial-agg), then
    three exact distributed ntiles (plans/ranks.py: range-repartition
    + partitioned row_number + a broadcast prefix cross over the
    ≤32 per-range counts). No global window anywhere — the old form's
    three single-task entity-frame sorts (the round-7 [ent] whitelist
    entry) are retired; bucket assignments are bit-identical to window
    ntile, so the oracle is unchanged."""
    from kuibadb_spark.plans.ranks import distributed_ntile

    o = load(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderdate",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )
    scored = distributed_ntile(
        distributed_ntile(
            distributed_ntile(
                per_cust,
                [F.asc("last_order"), F.asc("o_custkey")], 5, "r",
            ),
            [F.asc("n_orders"), F.asc("o_custkey")], 5, "f",
        ),
        [F.asc("total_cents"), F.asc("o_custkey")], 5, "m",
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total_cents").alias("segment_cents"),
            F.min("n_orders").alias("min_orders"),
            F.max("n_orders").alias("max_orders"),
        )
        .orderBy("r", "f", "m")
    )


QUERIES["rfm_segmentation"] = rfm_segmentation

ORACLES["rfm_segmentation"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               ntile(5) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r,
               ntile(5) OVER (ORDER BY n_orders ASC, o_custkey ASC) AS f,
               ntile(5) OVER (ORDER BY total_cents ASC, o_custkey ASC) AS m
        FROM per_cust
    )
    SELECT CAST(r AS INTEGER) AS r,
           CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           count(*) AS n_customers,
           CAST(sum(total_cents) AS BIGINT) AS segment_cents,
           min(n_orders) AS min_orders,
           max(n_orders) AS max_orders
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
"""


# --------------------------------------------------------------------------
# the capstone: end-to-end curation attrition funnel (one pass, 5 stages)
# --------------------------------------------------------------------------
def pipeline_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-attrition table every pretraining data team ships:
    how many documents survive each curation stage, cumulatively —
    exact dedup → cross-doc boilerplate filter → C4 quality rules →
    benchmark decontamination → mixture sampling. Output: one row per
    stage with survivor count and cumulative keep-ppm.

    Plan shape: every stage is computed as a PER-DOC BOOLEAN FLAG in one
    annotated table (a window for canonical-exact-dup, one chunk-count
    join for boilerplate, row-local C4 rules, one broadcast semi-probe
    for decontamination, a row-local hash for sampling), and the funnel
    is ONE conditional aggregate over cumulative flag conjunctions —
    the whole 5-stage report costs ~two shuffles + one broadcast, not
    five pipeline re-runs. That is exactly how the report stays cheap
    at 100 TB: stages annotate, one reduce counts.

    Input is the synthesized dup corpus (documents + exact/near copies,
    dedup._dup_corpus) so the dedup stage does real work — raw fixture
    documents contain no exact duplicates."""
    d = _dup_corpus(spark, sf_dir)
    # stage 1: exact dedup — keep the min doc_id per content digest
    w_dig = F.expr(
        "doc_id = min(doc_id) OVER (PARTITION BY md5(text))"
    )
    # stage 2: boilerplate — share of 10-token chunks repeated in ≥2 docs
    chunks = d.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(transform(sequence(0, CAST(ceil(size(w)/10.0) AS INT) - 1),"
        " i -> array_join(slice(w, i*10+1, 10), ' '))) AS chunk",
    )
    ccount = chunks.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    boiler = (
        chunks.join(ccount, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("nd") >= 2).alias("n_boiler"),
        )
        .selectExpr("doc_id", "10 * n_boiler < 3 * n_chunks AS f_boiler")
    )
    # stage 4 input: benchmark 3-shingle set (doc_id%17==0 slice)
    sh = (
        d.withColumn("w", F.split("text", r"\s+"))
        .select("doc_id", F.expr(_SHINGLE_ARR_SPARK).alias("shs"))
        .select("doc_id", F.explode_outer("shs").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    bench = (
        sh.filter(F.col("doc_id") % 17 == 0).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    contam = (
        sh.filter(F.col("doc_id") % 17 != 0)
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"), F.count("hit").alias("n_shared"))
        .selectExpr(
            "doc_id",
            "NOT (n_shared >= 10 OR n_shared * 5 >= sz) AS f_clean",
        )
    )
    flags = (
        d.withColumn("f_exact", w_dig)
        .selectExpr(
            "doc_id", "f_exact",
            # C4-style rules, row-local (text_c4_quality_filters' set)
            "size(split(text, ' ')) AS n_words",
            "aggregate(split(text, ' '), 0, (a, t) -> a + length(t)) AS sum_len",
            # mixture sampling: keep 80% by hash, deterministic
            "CAST(conv(substring(md5(concat('funnel', CAST(doc_id AS STRING))),"
            " 1, 8), 16, 10) AS BIGINT) % 100 < 80 AS f_mix",
        )
        .withColumn(
            "f_c4",
            F.expr("n_words >= 20 AND 3 * n_words <= sum_len"
                   " AND sum_len <= 10 * n_words"),
        )
        .join(boiler, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "f_exact",
            "coalesce(f_boiler, true) AS f_boiler",
            "f_c4",
            # benchmark docs themselves (not in contam) count as clean
            "coalesce(f_clean, true) AS f_clean",
            "f_mix",
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if("f_exact").alias("n1"),
        F.count_if(F.expr("f_exact AND f_boiler")).alias("n2"),
        F.count_if(F.expr("f_exact AND f_boiler AND f_c4")).alias("n3"),
        F.count_if(F.expr("f_exact AND f_boiler AND f_c4 AND f_clean")).alias("n4"),
        F.count_if(
            F.expr("f_exact AND f_boiler AND f_c4 AND f_clean AND f_mix")
        ).alias("n5"),
    )
    return agg.selectExpr(
        "stack(6,"
        " 0, 'raw', n0, 1000000L,"
        " 1, 'exact_dedup', n1, CAST(1000000 * n1 div n0 AS BIGINT),"
        " 2, 'boilerplate', n2, CAST(1000000 * n2 div n0 AS BIGINT),"
        " 3, 'c4_quality', n3, CAST(1000000 * n3 div n0 AS BIGINT),"
        " 4, 'decontaminated', n4, CAST(1000000 * n4 div n0 AS BIGINT),"
        " 5, 'mixture_sampled', n5, CAST(1000000 * n5 div n0 AS BIGINT)"
        ") AS (stage, stage_name, n_docs, cum_keep_ppm)"
    ).selectExpr(
        "stage", "stage_name", "CAST(n_docs AS BIGINT) AS n_docs", "cum_keep_ppm"
    ).orderBy("stage")


QUERIES["pipeline_attrition_funnel"] = pipeline_attrition_funnel

ORACLES["pipeline_attrition_funnel"] = rf"""
    WITH {_DUP_CORPUS_DUCK},
    f_ex AS (
        SELECT doc_id, text,
               doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS f_exact
        FROM corpus
    ),
    chunks AS (
        SELECT doc_id,
               array_to_string(w[i*10+1:i*10+10], ' ') AS chunk
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS u(i)
    ),
    ccount AS (
        SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk
    ),
    boiler AS (
        SELECT doc_id, 10 * count_if(nd >= 2) < 3 * count(*) AS f_boiler
        FROM chunks JOIN ccount USING (chunk)
        GROUP BY doc_id
    ),
    ftoks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM corpus
    ),
    fsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM ftoks
    ),
    bench AS (SELECT DISTINCT shingle FROM fsh WHERE doc_id % 17 = 0),
    contam AS (
        SELECT s.doc_id,
               NOT (count(b.shingle) >= 10
                    OR count(b.shingle) * 5 >= count(*)) AS f_clean
        FROM fsh s LEFT JOIN bench b USING (shingle)
        WHERE s.doc_id % 17 != 0
        GROUP BY s.doc_id
    ),
    flags AS (
        SELECT f_ex.doc_id,
               f_exact,
               coalesce(f_boiler, true) AS f_boiler,
               len(string_split(text, ' ')) >= 20
                 AND 3 * len(string_split(text, ' '))
                     <= list_sum(list_transform(string_split(text, ' '),
                                                t -> length(t)))
                 AND list_sum(list_transform(string_split(text, ' '),
                                             t -> length(t)))
                     <= 10 * len(string_split(text, ' ')) AS f_c4,
               coalesce(f_clean, true) AS f_clean,
               CAST('0x' || substr(md5('funnel' || CAST(f_ex.doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) % 100 < 80 AS f_mix
        FROM f_ex
        LEFT JOIN boiler ON boiler.doc_id = f_ex.doc_id
        LEFT JOIN contam ON contam.doc_id = f_ex.doc_id
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(count_if(f_exact) AS BIGINT) AS n1,
               CAST(count_if(f_exact AND f_boiler) AS BIGINT) AS n2,
               CAST(count_if(f_exact AND f_boiler AND f_c4) AS BIGINT) AS n3,
               CAST(count_if(f_exact AND f_boiler AND f_c4 AND f_clean)
                    AS BIGINT) AS n4,
               CAST(count_if(f_exact AND f_boiler AND f_c4 AND f_clean
                             AND f_mix) AS BIGINT) AS n5
        FROM flags
    )
    SELECT * FROM (
        SELECT 0 AS stage, 'raw' AS stage_name, n0 AS n_docs,
               CAST(1000000 AS BIGINT) AS cum_keep_ppm FROM agg
        UNION ALL SELECT 1, 'exact_dedup', n1,
               CAST(1000000 * n1 // n0 AS BIGINT) FROM agg
        UNION ALL SELECT 2, 'boilerplate', n2,
               CAST(1000000 * n2 // n0 AS BIGINT) FROM agg
        UNION ALL SELECT 3, 'c4_quality', n3,
               CAST(1000000 * n3 // n0 AS BIGINT) FROM agg
        UNION ALL SELECT 4, 'decontaminated', n4,
               CAST(1000000 * n4 // n0 AS BIGINT) FROM agg
        UNION ALL SELECT 5, 'mixture_sampled', n5,
               CAST(1000000 * n5 // n0 AS BIGINT) FROM agg
    )
    ORDER BY stage
"""


# ---------------------------------------------------------------------------
# IQR outlier profiling (exact type-7 quartiles, integer-scaled)
# ---------------------------------------------------------------------------
def profile_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profiling per l_returnflag: quartiles of
    l_extendedprice, IQR, and the count of rows outside
    [q1 - 1.5*IQR, q3 + 1.5*IQR] — the standard numeric-column health
    check a profiler runs per ingest batch.

    Quartiles are computed BY HAND as type-7 (h = (n-1)p) over
    cent-scaled integers rather than through either engine's quantile
    function, so the interpolation convention can never diverge: the
    position arithmetic is integer (pos = (n-1)*25, lo = pos div 100,
    frac in {0,.25,.5,.75}), the two contributing ranks get exact dyadic
    coefficients, and every derived bound (1.5*IQR fences) stays an
    exact dyadic double — bit-identical cross-engine.

    Scale shape — HISTOGRAM selection, not row ranking: the first cut
    of this query ranked every raw row inside a partition-by-flag
    window, which at 3 flags means 3 tasks sorting everything (×100
    measured ×30). This form aggregates to a (flag, value) histogram
    first — a normal wide-parallel shuffle with map-side combine — and
    runs the rank selection over the DISTINCT-VALUE rows only
    (cumulative count brackets [cum_lo, cum_hi] locate the two
    contributing ranks), so the low-cardinality window sees the
    compressed domain, not the data. Outlier counting is a second pass
    over the same histogram against broadcast fences."""
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag",
        # floor(x*100 + 0.5), not CAST: l_extendedprice is a DOUBLE in
        # the fixture, and bare CAST truncates in Spark but rounds in
        # DuckDB (DESIGN.md #23a)
        "CAST(floor(l_extendedprice * 100 + 0.5D) AS BIGINT) AS cents",
    )
    hist = li.groupBy("flag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wp = W.partitionBy("flag")
    cum = (
        hist.withColumn("cum_hi", F.sum("cnt").over(wp.orderBy("cents")))
        .withColumn("cum_lo", F.col("cum_hi") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(wp))
        .withColumn("lo25", F.expr("((n - 1) * 25) div 100"))
        .withColumn("f25", F.expr("((n - 1) * 25) % 100 / 100.0D"))
        .withColumn("lo75", F.expr("((n - 1) * 75) div 100"))
        .withColumn("f75", F.expr("((n - 1) * 75) % 100 / 100.0D"))
    )
    # both contributing ranks of a quartile may land in the SAME
    # histogram row — add the two CASE terms per row before summing
    stats = cum.groupBy("flag").agg(
        F.max("n").alias("n_rows"),
        F.sum(F.expr(
            """CASE WHEN lo25 + 1 > cum_lo AND lo25 + 1 <= cum_hi
                    THEN cents * (1.0D - f25) ELSE 0.0D END
             + CASE WHEN lo25 + 2 > cum_lo AND lo25 + 2 <= cum_hi
                    THEN cents * f25 ELSE 0.0D END""")).alias("q1_cents"),
        F.sum(F.expr(
            """CASE WHEN lo75 + 1 > cum_lo AND lo75 + 1 <= cum_hi
                    THEN cents * (1.0D - f75) ELSE 0.0D END
             + CASE WHEN lo75 + 2 > cum_lo AND lo75 + 2 <= cum_hi
                    THEN cents * f75 ELSE 0.0D END""")).alias("q3_cents"),
    )
    return (
        hist.join(F.broadcast(stats), "flag")
        .groupBy("flag")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.min("q1_cents").alias("q1_cents"),
            F.min("q3_cents").alias("q3_cents"),
            F.sum(F.expr(
                "CASE WHEN cents < q1_cents - 1.5D * (q3_cents - q1_cents)"
                " THEN cnt ELSE 0 END")).alias("n_low_outliers"),
            F.sum(F.expr(
                "CASE WHEN cents > q3_cents + 1.5D * (q3_cents - q1_cents)"
                " THEN cnt ELSE 0 END")).alias("n_high_outliers"),
        )
        .orderBy("flag")
    )


QUERIES["profile_outlier_iqr"] = profile_outlier_iqr

ORACLES["profile_outlier_iqr"] = """
    WITH li AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    ranked AS (
        SELECT flag, cents,
               row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY flag) AS n
        FROM li
    ),
    pos AS (
        SELECT flag, cents, rn, n,
               ((n - 1) * 25) // 100 AS lo25,
               ((n - 1) * 25) % 100 / 100.0 AS f25,
               ((n - 1) * 75) // 100 AS lo75,
               ((n - 1) * 75) % 100 / 100.0 AS f75
        FROM ranked
    ),
    q AS (
        SELECT flag, cents,
               sum(CASE WHEN rn = lo25 + 1 THEN cents * (1.0 - f25)
                        WHEN rn = lo25 + 2 THEN cents * f25
                        ELSE 0.0 END) OVER (PARTITION BY flag) AS q1,
               sum(CASE WHEN rn = lo75 + 1 THEN cents * (1.0 - f75)
                        WHEN rn = lo75 + 2 THEN cents * f75
                        ELSE 0.0 END) OVER (PARTITION BY flag) AS q3
        FROM pos
    )
    SELECT flag,
           count(*) AS n_rows,
           min(q1) AS q1_cents,
           min(q3) AS q3_cents,
           CAST(sum(CASE WHEN cents < q1 - 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN cents > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM q
    GROUP BY flag
    ORDER BY flag
"""


# ---------------------------------------------------------------------------
# Benford first-digit profile
# ---------------------------------------------------------------------------
def profile_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs the
    Benford expectation — the classic fabricated-data / ingest-anomaly
    smell test a profiler runs on monetary columns. Digit extraction is
    pure integer/string arithmetic on exact cents (no log, no float
    path): first char of the BIGINT's decimal rendering, which neither
    engine sci-notates. The Benford ppm column is a shared literal
    table (the nine constants sum to exactly 1,000,000). One scan, one
    9-bucket aggregate — free at any scale."""
    o = load(spark, sf_dir, "orders").selectExpr(
        "CAST(floor(o_totalprice * 100 + 0.5D) AS BIGINT) AS cents"
    ).filter(F.col("cents") > 0)
    digits = o.selectExpr(
        "CAST(substring(CAST(cents AS STRING), 1, 1) AS INT) AS digit"
    )
    benford = (
        "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939"
        " WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947"
        " WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END"
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counted.agg(F.sum("n_orders").alias("total"))
    return (
        counted.crossJoin(total)
        .selectExpr(
            "digit", "n_orders",
            "(1000000 * n_orders) div total AS obs_ppm",
            f"{benford} AS benford_ppm",
            f"abs((1000000 * n_orders) div total - {benford}) AS abs_dev_ppm",
        )
        .orderBy("digit")
    )


QUERIES["profile_benford_digits"] = profile_benford_digits

ORACLES["profile_benford_digits"] = """
    WITH cents AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    digits AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM cents WHERE cents > 0
    ),
    counted AS (
        SELECT digit, count(*) AS n_orders FROM digits GROUP BY digit
    ),
    total AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM counted)
    SELECT digit, n_orders,
           CAST((1000000 * n_orders) // total AS BIGINT) AS obs_ppm,
           CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                      WHEN 3 THEN 124939 WHEN 4 THEN 96910
                      WHEN 5 THEN 79181 WHEN 6 THEN 66947
                      WHEN 7 THEN 57992 WHEN 8 THEN 51153
                      ELSE 45757 END AS benford_ppm,
           CAST(abs((1000000 * n_orders) // total
               - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                            WHEN 3 THEN 124939 WHEN 4 THEN 96910
                            WHEN 5 THEN 79181 WHEN 6 THEN 66947
                            WHEN 7 THEN 57992 WHEN 8 THEN 51153
                            ELSE 45757 END) AS BIGINT) AS abs_dev_ppm
    FROM counted CROSS JOIN total
    ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test
# ---------------------------------------------------------------------------
_KS_PAIRS = [("view", "click"), ("view", "purchase"), ("click", "purchase")]


def profile_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS over event-value distributions for three fixed
    type pairs. D = max |ECDF_a - ECDF_b| computed in exact integers:
    per distinct cents value, |cumA*nB - cumB*nA| — the ECDF difference
    scaled by nA*nB. The window runs over the (pair, cents) histogram
    (distinct values), never rows. The 5% critical value
    c = 1.358*sqrt((nA+nB)/(nA*nB)) is one double expression; the
    reject flag compares the two ppm integers."""
    e = load(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(round(value * 100) AS BIGINT) AS cents"
    )
    parts = []
    for a, b in _KS_PAIRS:
        parts.append(
            e.filter(F.col("event_type").isin([a, b])).selectExpr(
                f"'{a}_vs_{b}' AS pair",
                "cents",
                f"CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END AS is_a",
            )
        )
    u = parts[0].unionAll(parts[1]).unionAll(parts[2])
    blocks = u.groupBy("pair", "cents").agg(
        F.sum("is_a").alias("a_cnt"),
        F.sum(F.expr("1 - is_a")).alias("b_cnt"),
    )
    wcum = (
        W.partitionBy("pair").orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = (
        W.partitionBy("pair").orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ecdf = blocks.select(
        "pair",
        F.sum("a_cnt").over(wcum).alias("cum_a"),
        F.sum("b_cnt").over(wcum).alias("cum_b"),
        F.sum("a_cnt").over(wall).alias("n_a"),
        F.sum("b_cnt").over(wall).alias("n_b"),
    )
    return (
        ecdf.groupBy("pair")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(F.abs(F.expr("cum_a * n_b - cum_b * n_a"))).alias("dmax"),
        )
        .selectExpr(
            "pair", "n_a", "n_b",
            "dmax * 1000000 DIV (n_a * n_b) AS d_ppm",
            "CAST(round(1358000.0D * sqrt(CAST(n_a + n_b AS DOUBLE)"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))) AS BIGINT)"
            " AS crit_ppm",
            "CAST(CASE WHEN dmax * 1000000 DIV (n_a * n_b) >"
            " CAST(round(1358000.0D * sqrt(CAST(n_a + n_b AS DOUBLE)"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))) AS BIGINT)"
            " THEN 1 ELSE 0 END AS INT) AS reject_5pct",
        )
        .orderBy("pair")
    )


QUERIES["profile_ks_test"] = profile_ks_test

_KS_UNION = " UNION ALL ".join(
    f"""SELECT '{a}_vs_{b}' AS pair,
            CAST(round(value * 100) AS BIGINT) AS cents,
            CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END AS is_a
        FROM events WHERE event_type IN ('{a}', '{b}')"""
    for a, b in _KS_PAIRS
)

ORACLES["profile_ks_test"] = f"""
    WITH u AS ({_KS_UNION}),
    blocks AS (
        SELECT pair, cents, SUM(is_a) AS a_cnt, SUM(1 - is_a) AS b_cnt
        FROM u GROUP BY pair, cents
    ),
    ecdf AS (
        SELECT pair,
               SUM(a_cnt) OVER wc AS cum_a,
               SUM(b_cnt) OVER wc AS cum_b,
               SUM(a_cnt) OVER wa AS n_a,
               SUM(b_cnt) OVER wa AS n_b
        FROM blocks
        WINDOW wc AS (PARTITION BY pair ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wa AS (PARTITION BY pair ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    ),
    agg AS (
        SELECT pair, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
               MAX(abs(cum_a * n_b - cum_b * n_a)) AS dmax
        FROM ecdf GROUP BY pair
    )
    SELECT pair,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(dmax * 1000000 // (n_a * n_b) AS BIGINT) AS d_ppm,
           CAST(round(1358000.0 * sqrt(CAST(n_a + n_b AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))) AS BIGINT)
               AS crit_ppm,
           CAST(CASE WHEN dmax * 1000000 // (n_a * n_b) >
                CAST(round(1358000.0 * sqrt(CAST(n_a + n_b AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))
                     AS BIGINT)
                THEN 1 ELSE 0 END AS INT) AS reject_5pct
    FROM agg
    ORDER BY pair
"""


# ---------------------------------------------------------------------------
# Pearson correlation matrix (quantized-exact sums)
# ---------------------------------------------------------------------------
_CORR_PAIRS = [
    ("qty", "price"), ("qty", "disc"), ("qty", "tax"),
    ("price", "disc"), ("price", "tax"), ("disc", "tax"),
]


def profile_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over lineitem's numeric columns in
    ONE aggregate pass: quantize to integers (whole quantity, dollar
    price, pct discount/tax), accumulate the 14 moment sums exactly,
    then evaluate each corr as a single double expression from the
    exact integers. n*Sxy can cross 2^63, so the FINAL arithmetic runs
    in IEEE doubles — identical exact-integer inputs and operand order
    give identical bits in both engines. One full scan, one reduce, no
    shuffle of data rows — the textbook map-side-combine shape."""
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS q",
        "CAST(round(l_extendedprice) AS BIGINT) AS e",
        "CAST(round(l_discount * 100) AS BIGINT) AS d",
        "CAST(round(l_tax * 100) AS BIGINT) AS t",
    )
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).alias(f"s_{c}") for c in ("q", "e", "d", "t")],
        *[
            F.sum(F.expr(f"{a} * {b}")).alias(f"s_{a}{b}")
            for a, b in [("q", "q"), ("e", "e"), ("d", "d"), ("t", "t"),
                         ("q", "e"), ("q", "d"), ("q", "t"),
                         ("e", "d"), ("e", "t"), ("d", "t")]
        ],
    )
    short = {"qty": "q", "price": "e", "disc": "d", "tax": "t"}

    def corr_expr(x: str, y: str) -> str:
        a, b = short[x], short[y]
        return (
            f"CAST(round((CAST(n AS DOUBLE) * CAST(s_{a}{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(s_{a}{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(s_{b}{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            f" * 1000000.0D) AS BIGINT)"
        )

    stack_args = ", ".join(
        f"'{x}_{y}', {corr_expr(x, y)}" for x, y in _CORR_PAIRS
    )
    return (
        sums.selectExpr(
            "n", f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (pair, corr_ppm)"
        )
        .select("pair", "n", "corr_ppm")
        .orderBy("pair")
    )


QUERIES["profile_corr_matrix"] = profile_corr_matrix


def _corr_duck(x: str, y: str) -> str:
    short = {"qty": "q", "price": "e", "disc": "d", "tax": "t"}
    a, b = short[x], short[y]
    return (
        f"CAST(round((CAST(n AS DOUBLE) * CAST(s_{a}{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (sqrt(CAST(n AS DOUBLE) * CAST(s_{a}{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * sqrt(CAST(n AS DOUBLE) * CAST(s_{b}{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        f" * 1000000.0) AS BIGINT)"
    )


ORACLES["profile_corr_matrix"] = f"""
    WITH li AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_extendedprice) AS BIGINT) AS e,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    ),
    sums AS (
        SELECT COUNT(*) AS n,
               SUM(q) AS s_q, SUM(e) AS s_e, SUM(d) AS s_d, SUM(t) AS s_t,
               SUM(q*q) AS s_qq, SUM(e*e) AS s_ee, SUM(d*d) AS s_dd,
               SUM(t*t) AS s_tt, SUM(q*e) AS s_qe, SUM(q*d) AS s_qd,
               SUM(q*t) AS s_qt, SUM(e*d) AS s_ed, SUM(e*t) AS s_et,
               SUM(d*t) AS s_dt
        FROM li
    )
    {" UNION ALL ".join(
        f"SELECT '{x}_{y}' AS pair, n, {_corr_duck(x, y)} AS corr_ppm FROM sums"
        for x, y in _CORR_PAIRS
    )}
    ORDER BY pair
"""


# ---------------------------------------------------------------------------
# Missingness / cardinality data-quality audit
# ---------------------------------------------------------------------------
_AUDIT_COLS = [
    "event_id", "ts", "user_id", "event_type", "value", "props",
]


def profile_missingness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality audit of events: null count, exact
    distinct count, fill rate in ppm — the first screen a curation
    pipeline runs on a new table. One aggregate pass; the multi-distinct
    expands to Spark's standard expand-and-aggregate plan (same shape
    the graded agg_multi_distinct pins)."""
    c = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col in _AUDIT_COLS:
        aggs.append(F.sum(F.expr(
            f"CASE WHEN {col} IS NULL THEN 1 ELSE 0 END")).alias(f"null_{col}"))
        aggs.append(F.countDistinct(col).alias(f"dist_{col}"))
    sums = c.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', null_{col}, dist_{col}" for col in _AUDIT_COLS
    )
    return (
        sums.selectExpr(
            "n_rows",
            f"stack({len(_AUDIT_COLS)}, {stack_args})"
            " AS (column_name, n_null, n_distinct)",
        )
        .selectExpr(
            "column_name", "n_rows", "n_null", "n_distinct",
            "(n_rows - n_null) * 1000000 DIV n_rows AS fill_ppm",
        )
        .orderBy("column_name")
    )


QUERIES["profile_missingness_audit"] = profile_missingness_audit

ORACLES["profile_missingness_audit"] = f"""
    WITH sums AS (
        SELECT COUNT(*) AS n_rows,
               {", ".join(
                   f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                   f" AS null_{c}, COUNT(DISTINCT {c}) AS dist_{c}"
                   for c in _AUDIT_COLS)}
        FROM events
    )
    {" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows,"
        f" CAST(null_{c} AS BIGINT) AS n_null,"
        f" dist_{c} AS n_distinct,"
        f" CAST((n_rows - null_{c}) * 1000000 // n_rows AS BIGINT)"
        f" AS fill_ppm FROM sums"
        for c in _AUDIT_COLS)}
    ORDER BY column_name
"""
