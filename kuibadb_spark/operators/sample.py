"""Sampling operators over the corpus and fact tables: hash, stratified,
reservoir, importance, mixture, epoch and curriculum samples, plus
train/holdout splits and per-source quotas.

Every keep decision is a deterministic function of a row's md5-keyed
hash or of integer-exact weights, so the sample is the same under any
partitioning and DuckDB reproduces it from the same SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load
from kuibadb_spark.plans.ranks import distributed_ntile

QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------------------------------
# mixture sampling: per-language target rates via md5 hash buckets
# ---------------------------------------------------------------------------
_MIX_RATES = {"en": 900, "de": 500, "fr": 400, "es": 300, "zh": 200}  # /1000


def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reweight the corpus toward a target language mixture: each doc is
    kept iff md5('mix'||doc_id) % 1000 < rate(lang) — reproducible under
    any partitioning (the keep decision is row-local), the same shape as
    sample_stratified but with the training-mixture framing. Output is
    per-language totals, kept counts, and achieved per-mille (integer
    division, exact)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    rate = F.when(F.lit(False), None)
    for lang, r in _MIX_RATES.items():
        rate = rate.when(F.col("lang") == lang, r)
    rate = rate.otherwise(0)
    return (
        d.withColumn("kept", (bucket < rate).cast("bigint"))
        .withColumn("target_per_mille", rate.cast("bigint"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.first("target_per_mille").alias("target_per_mille"),
        )
        .selectExpr(
            "lang",
            "n_total",
            "n_kept",
            "target_per_mille",
            "(n_kept * 1000) div n_total AS achieved_per_mille",
        )
        .orderBy("lang")
    )


QUERIES["sample_mixture_weights"] = sample_mixture_weights

ORACLES["sample_mixture_weights"] = f"""
        WITH d AS (
            SELECT lang,
                   CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 1000 AS bucket,
                   CASE {' '.join(f"WHEN lang = '{l}' THEN {r}" for l, r in _MIX_RATES.items())}
                        ELSE 0 END AS target_per_mille
            FROM documents
        )
        SELECT lang,
               count(*) AS n_total,
               CAST(sum(CASE WHEN bucket < target_per_mille THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(min(target_per_mille) AS BIGINT) AS target_per_mille,
               (CAST(sum(CASE WHEN bucket < target_per_mille THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000) // count(*) AS achieved_per_mille
        FROM d
        GROUP BY lang
        ORDER BY lang
    """


# ---------------------------------------------------------------------------
# temperature-scaled source mixing (alpha = 0.5), exact integer arithmetic
# ---------------------------------------------------------------------------
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling — the multilingual-corpus
    mixing standard (sampling probability ∝ count^α, α = 0.5): big
    sources are downsampled, small sources upweighted, flattening the
    source distribution without inverting it. Weights use an EXACT
    integer sqrt (floor-sqrt with ±1 correction, so both engines agree
    bit-for-bit regardless of their double rounding), rates are integer
    ppm, and expected kept-doc counts are integer products — the whole
    mixture plan is reproducible arithmetic, no floats.

    Scale: one groupBy(source) over the corpus (partial-agg combine),
    then per-source arithmetic against a broadcast 1-row total — the
    corpus-count scalar pattern (plan_audit-whitelisted BNLJ)."""
    d = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = d.selectExpr(
        "source",
        "n_docs",
        "CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s0",
    ).selectExpr(
        "source",
        "n_docs",
        "CASE WHEN (s0 + 1) * (s0 + 1) <= n_docs THEN s0 + 1 "
        "WHEN s0 * s0 > n_docs THEN s0 - 1 ELSE s0 END AS weight_isqrt",
    )
    tot = w.agg(F.sum("weight_isqrt").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            "weight_isqrt",
            "(1000000 * weight_isqrt) div tw AS rate_ppm",
            "(n_docs * ((1000000 * weight_isqrt) div tw)) div 1000000"
            " AS expected_docs",
        )
        .orderBy("source")
    )


QUERIES["sample_temperature_mixture"] = sample_temperature_mixture

ORACLES["sample_temperature_mixture"] = """
    WITH c AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs,
               CASE WHEN (s0 + 1) * (s0 + 1) <= n_docs THEN s0 + 1
                    WHEN s0 * s0 > n_docs THEN s0 - 1 ELSE s0
               END AS weight_isqrt
        FROM (
            SELECT source, n_docs,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s0
            FROM c
        )
    ),
    t AS (SELECT CAST(sum(weight_isqrt) AS BIGINT) AS tw FROM w)
    SELECT source,
           n_docs,
           weight_isqrt,
           CAST((1000000 * weight_isqrt) // tw AS BIGINT) AS rate_ppm,
           CAST((n_docs * ((1000000 * weight_isqrt) // tw)) // 1000000
                AS BIGINT) AS expected_docs
    FROM w, t
    ORDER BY source
"""


# --------------------------------------------------------------------------
# per-group bottom-k hash sampling (distributed reservoir equivalent)
# --------------------------------------------------------------------------
def sample_bottomk_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k=5 sample WITHOUT replacement per order priority, via
    bottom-k over md5(o_orderkey) — the mergeable form of reservoir
    sampling: the bottom-k of a union is the bottom-k of the merged
    bottom-k sets, so per-partition samples combine associatively (a
    real reservoir's RNG state does not). Same determinism story as
    sample_hash_10pct; the hash plays the role of the random tag.

    One shuffle on the group key; the rank window rides that exchange.
    """
    o = load(spark, sf_dir, "orders")
    tag = F.md5(F.col("o_orderkey").cast("string"))
    w = W.partitionBy("o_orderpriority").orderBy(tag.asc())
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "o_orderpriority",
            F.col("rk").alias("sample_rank"),
            "o_orderkey",
            "o_totalprice",
        )
        .orderBy("o_orderpriority", "sample_rank")
    )


QUERIES["sample_bottomk_reservoir"] = sample_bottomk_reservoir

ORACLES["sample_bottomk_reservoir"] = """
    SELECT o_orderpriority, CAST(rk AS INTEGER) AS sample_rank, o_orderkey, o_totalprice
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY md5(CAST(o_orderkey AS VARCHAR)))
                   AS rk
        FROM orders
    )
    WHERE rk <= 5
    ORDER BY o_orderpriority, sample_rank
"""


# --------------------------------------------------------------------------
# stratified deterministic sample: per-status rates via md5 hash buckets
# --------------------------------------------------------------------------
_RATES = {"O": 10, "F": 20, "P": 50}  # buckets of 100 kept per stratum


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = (
        F.when(F.col("o_orderstatus") == "O", _RATES["O"])
        .when(F.col("o_orderstatus") == "F", _RATES["F"])
        .otherwise(_RATES["P"])
    )
    return (
        o.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["sample_stratified"] = sample_stratified

ORACLES["sample_stratified"] = """
        WITH bucketed AS (
            SELECT o_orderstatus, o_totalprice,
                   CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 AS bucket,
                   CASE o_orderstatus WHEN 'O' THEN 10 WHEN 'F' THEN 20
                        ELSE 50 END AS rate
            FROM orders
        )
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_total
        FROM bucketed WHERE bucket < rate
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


# --------------------------------------------------------------------------
# deterministic hash sampling (TABLESAMPLE without engine RNG)
# --------------------------------------------------------------------------
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return (
        o.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["sample_hash_10pct"] = sample_hash_10pct

ORACLES["sample_hash_10pct"] = """
        SELECT o_orderstatus, count(*) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_total
        FROM orders
        WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 10
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


# ---------------------------------------------------------------------------
# deterministic train/val/test split assignment
# ---------------------------------------------------------------------------
def sample_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by md5-hash bucket of doc_id —
    the split every training pipeline needs to be DETERMINISTIC (re-runs
    and late-arriving shards land in the same split; no RNG, no state).
    Reports per (split, source) doc and char totals, the balance sheet
    reviewed before a training run. Pure map + one small rollup; the
    hash is the cross-engine md5-prefix idiom (sample_hash_10pct)."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 100
    )
    return (
        d.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "source")
    )


QUERIES["sample_split_assignment"] = sample_split_assignment

ORACLES["sample_split_assignment"] = """
    SELECT CASE
               WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test'
           END AS split,
           source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY split, source
"""


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------
_WRS_K = 20


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis,
    "Weighted random sampling with a reservoir", IPL 2006): each doc
    draws u ~ U(0,1) and gets key = -ln(u)/w; the k smallest keys are
    the sample, with inclusion probability proportional to weight w
    (here n_chars — longer docs count more, the byte-weighted sampling
    a data-mixture pipeline uses). The keys are independent per row, so
    the top-k is a MERGEABLE per-partition heap — one pass, fixed
    memory, no global sort: Spark compiles orderBy().limit(k) to
    TakeOrderedAndProject (per-partition top-k + k-row driver merge).

    Determinism: u is md5-derived ((h+1)/2^32, never 0), key is one
    ln + two double ops in identical order both engines; ties are
    impossible (md5-distinct doc hashes) and the order column pins
    (key, doc_id) anyway."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "n_chars",
        "-ln((CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),"
        " 16, 10) AS BIGINT) + 1) / 4294967296.0D)"
        " * 1000000.0D / n_chars AS k",
    )
    top = d.orderBy("k", "doc_id").limit(_WRS_K)
    return top.select(
        F.row_number().over(W.orderBy("k", "doc_id")).alias("rank"),
        "doc_id",
        "n_chars",
        F.round("k", 6).alias("key6"),
    ).orderBy("rank")


QUERIES["sample_weighted_reservoir"] = sample_weighted_reservoir

ORACLES["sample_weighted_reservoir"] = f"""
    WITH d AS (
        SELECT doc_id, n_chars,
               -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) + 1) / 4294967296.0)
                   * 1000000.0 / n_chars AS k
        FROM documents
    ),
    top AS (SELECT * FROM d ORDER BY k, doc_id LIMIT {_WRS_K})
    SELECT CAST(row_number() OVER (ORDER BY k, doc_id) AS INT) AS rank,
           doc_id, n_chars, round(k, 6) AS key6
    FROM top
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# systematic importance resampling
# ---------------------------------------------------------------------------
_SIR_N = 30


def sample_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (low-variance) importance resampling, per source: draw
    N=30 equally-spaced points over the cumulative weight axis and give
    each doc one copy per point landing in its weight interval — the
    particle-filter resampler, fully deterministic and ROW-LOCAL once
    each doc knows its cumulative offset: copies = ((cum+w)·N)//W −
    (cum·N)//W, no point-vs-interval join at all. Weights are n_chars
    (the byte-proportional sampling a mixture pipeline uses); windows
    are per-source cumulative sums."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    wcum = (
        W.partitionBy("source").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wall = (
        W.partitionBy("source").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    out = d.select(
        "source", "doc_id", F.col("n_chars").alias("w"),
        F.coalesce(F.sum("n_chars").over(wcum), F.lit(0)).alias("cum"),
        F.sum("n_chars").over(wall).alias("tw"),
    ).selectExpr(
        "source", "doc_id", "w",
        f"((cum + w) * {_SIR_N}) DIV tw - (cum * {_SIR_N}) DIV tw"
        " AS n_copies",
    )
    return out.filter("n_copies >= 1").orderBy("source", "doc_id")


QUERIES["sample_importance_resampling"] = sample_importance_resampling

ORACLES["sample_importance_resampling"] = f"""
    WITH cums AS (
        SELECT source, doc_id, n_chars AS w,
               COALESCE(SUM(n_chars) OVER (PARTITION BY source
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum,
               SUM(n_chars) OVER (PARTITION BY source) AS tw
        FROM documents
    )
    SELECT source, doc_id, w,
           CAST(((cum + w) * {_SIR_N}) // tw - (cum * {_SIR_N}) // tw
                AS BIGINT) AS n_copies
    FROM cums
    WHERE ((cum + w) * {_SIR_N}) // tw - (cum * {_SIR_N}) // tw >= 1
    ORDER BY source, doc_id
"""


# ---------------------------------------------------------------------------
# Neyman optimal stratified allocation
# ---------------------------------------------------------------------------
_NEYMAN_BUDGET = 1000


def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation: split a 1000-row sampling budget
    across event-type strata proportionally to N_h·S_h — big AND noisy
    strata get more samples, the design that minimizes the estimator's
    variance at fixed cost (vs sample_stratified's equal rates). S_h
    comes from exact integer moment sums; N_h·S_h is rounded to an
    integer weight FIRST so the allocation shares are exact integer
    ratios (no cross-row double sums)."""
    s = (
        load(spark, sf_dir, "events")
        .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS v")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.sum(F.expr("v * v")).alias("svv"),
        )
        .selectExpr(
            "event_type", "n",
            # N_h * S_h, rounded to integer cents before any cross-row sum
            "CAST(round(CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE)"
            " * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT) AS ns",
        )
    )
    wall = W.orderBy("event_type").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        s.select(
            "event_type", "n", "ns",
            F.sum("ns").over(wall).alias("tot"),
        )
        .selectExpr(
            "event_type", "n", "ns AS n_times_std_cents",
            f"ns * {_NEYMAN_BUDGET} DIV tot AS n_allocated",
        )
        .orderBy("event_type")
    )


QUERIES["sample_stratified_neyman"] = sample_stratified_neyman

ORACLES["sample_stratified_neyman"] = f"""
    WITH s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS sv,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS svv
        FROM events GROUP BY event_type
    ),
    w AS (
        SELECT event_type, n,
               CAST(round(CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE)
                    * CAST(svv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT)
                   AS ns
        FROM s
    )
    SELECT event_type, n, ns AS n_times_std_cents,
           CAST(ns * {_NEYMAN_BUDGET} // (SUM(ns) OVER ()) AS BIGINT)
               AS n_allocated
    FROM w
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# data-constrained epoch schedule (repeat-budget table)
# ---------------------------------------------------------------------------
def sample_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeat schedule for a data-constrained training run: given a
    token budget of half the corpus, allocate per-source targets by
    sqrt-temperature weights, convert each target into epochs over the
    source's available tokens, cap at 4 epochs (the Muennighoff
    data-constrained-scaling rule of thumb: value decays fast past ~4
    repeats), and flag sources whose allocation the cap truncates.

    All arithmetic is integer: floor-sqrt weights (±1-corrected),
    targets in tokens via BIGINT div, epochs in milli-units.

    Scale shape: ONE groupBy(source) over the corpus; everything after
    operates on the sources-row table with its 1-row totals broadcast
    (BNLJ whitelisted — build side is literally one row).
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "source", "size(split(text, ' ')) AS n"
    )
    src = d.groupBy("source").agg(F.sum("n").alias("tokens"))
    return _epoch_schedule(src)


def _epoch_schedule(src: DataFrame) -> DataFrame:
    """Schedule math over a (source, tokens) table — split out so the
    4-epoch cap (which the near-uniform fixture sources can never
    trigger: all ~1.5k tokens, so sqrt-weights allocate ~0.5 epochs
    everywhere) is unit-testable on a skewed synthetic corpus
    (tests/test_curation16.py::test_epoch_cap_binds_on_skewed_corpus)."""
    w = src.selectExpr(
        "source",
        "tokens",
        "CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS s0",
    ).selectExpr(
        "source",
        "tokens",
        "CASE WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1"
        " WHEN s0 * s0 > tokens THEN s0 - 1 ELSE s0 END AS weight",
    )
    tot = w.agg(
        F.sum("tokens").alias("corpus_tokens"),
        F.sum("weight").alias("total_weight"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "tokens",
            "weight",
            "(corpus_tokens DIV 2) * weight DIV total_weight AS target_tokens",
        )
        .selectExpr(
            "source",
            "tokens",
            "weight",
            "target_tokens",
            "least(4000, target_tokens * 1000 DIV tokens) AS epochs_milli",
            "CAST(target_tokens * 1000 DIV tokens > 4000 AS INT) AS capped",
        )
        .selectExpr(
            "source",
            "tokens",
            "weight",
            "target_tokens",
            "epochs_milli",
            "tokens * epochs_milli DIV 1000 AS served_tokens",
            "capped",
        )
        .orderBy("source")
    )


QUERIES["sample_epoch_schedule"] = sample_epoch_schedule

ORACLES["sample_epoch_schedule"] = """
    WITH src AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, tokens,
               CASE WHEN (s0 + 1) * (s0 + 1) <= tokens THEN s0 + 1
                    WHEN s0 * s0 > tokens THEN s0 - 1 ELSE s0 END AS weight
        FROM (
            SELECT source, tokens,
                   CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS s0
            FROM src
        )
    ),
    alloc AS (
        SELECT source, tokens, weight,
               CAST((SUM(tokens) OVER () // 2) * weight
                    // SUM(weight) OVER () AS BIGINT) AS target_tokens
        FROM w
    )
    SELECT source, tokens, weight, target_tokens,
           CAST(LEAST(4000, target_tokens * 1000 // tokens) AS BIGINT)
               AS epochs_milli,
           CAST(tokens * LEAST(4000, target_tokens * 1000 // tokens) // 1000
               AS BIGINT) AS served_tokens,
           CAST(CASE WHEN target_tokens * 1000 // tokens > 4000
                THEN 1 ELSE 0 END AS INT) AS capped
    FROM alloc
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# dedup-aware mixture re-weighting
# ---------------------------------------------------------------------------
def sample_dedup_aware_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup does to the mixture: sqrt-temperature source weights
    computed over RAW tokens vs over UNIQUE tokens (md5-keeper exact
    dedup on the mirrored-crawl corpus of dedup_tokens_saved — the
    keeper owns the text, so a fully-mirrored pseudo-source contributes
    zero unique mass) and the share shift in ppm. The table that shows
    which sources were quietly inflated by duplication before
    re-weighting.

    Scale shape: one groupBy(text hash) for keepers (the wide shuffle,
    shared shape with dedup_tokens_saved), one groupBy(source), then
    sources-row arithmetic with 1-row totals broadcast (BNLJ
    whitelisted).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = d.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text"), F.col("source")),
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.struct(
                        (F.col("doc_id") + 1000000).alias("doc_id"),
                        F.col("text"),
                        F.concat(F.col("source"), F.lit("_mirror")).alias(
                            "source"
                        ),
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*").filter(F.col("doc_id").isNotNull())
    h = corpus.selectExpr(
        "doc_id", "source", "md5(text) AS text_hash",
        "size(split(text, ' ')) AS n_tok",
    )
    keep = h.groupBy("text_hash").agg(F.min("doc_id").alias("kept_doc_id"))
    src = (
        h.join(keep, "text_hash")
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("raw_tokens"),
            F.sum(
                F.expr("CASE WHEN doc_id = kept_doc_id THEN n_tok ELSE 0 END")
            ).alias("unique_tokens"),
        )
    )

    def isqrt(col: str, out: str) -> str:
        return (
            f"CASE WHEN (s_{out} + 1) * (s_{out} + 1) <= {col}"
            f" THEN s_{out} + 1 WHEN s_{out} * s_{out} > {col}"
            f" THEN s_{out} - 1 ELSE s_{out} END AS {out}"
        )

    w = src.selectExpr(
        "source", "raw_tokens", "unique_tokens",
        "CAST(floor(sqrt(CAST(raw_tokens AS DOUBLE))) AS BIGINT) AS s_w_raw",
        "CAST(floor(sqrt(CAST(unique_tokens AS DOUBLE))) AS BIGINT)"
        " AS s_w_uniq",
    ).selectExpr(
        "source", "raw_tokens", "unique_tokens",
        isqrt("raw_tokens", "w_raw"),
        isqrt("unique_tokens", "w_uniq"),
    )
    tot = w.agg(
        F.sum("w_raw").alias("tw_raw"), F.sum("w_uniq").alias("tw_uniq")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "raw_tokens",
            "unique_tokens",
            "raw_tokens - unique_tokens AS dup_tokens",
            "w_raw * 1000000 DIV tw_raw AS raw_share_ppm",
            "w_uniq * 1000000 DIV tw_uniq AS dedup_share_ppm",
            "w_uniq * 1000000 DIV tw_uniq - w_raw * 1000000 DIV tw_raw"
            " AS share_shift_ppm",
        )
        .orderBy("source")
    )


QUERIES["sample_dedup_aware_mixture"] = sample_dedup_aware_mixture

ORACLES["sample_dedup_aware_mixture"] = """
    WITH corpus AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text, source || '_mirror'
        FROM documents WHERE doc_id % 10 = 0
    ),
    h AS (
        SELECT doc_id, source, md5(text) AS text_hash,
               len(string_split(text, ' ')) AS n_tok
        FROM corpus
    ),
    keep AS (
        SELECT text_hash, MIN(doc_id) AS kept_doc_id FROM h GROUP BY text_hash
    ),
    src AS (
        SELECT h.source,
               CAST(SUM(h.n_tok) AS BIGINT) AS raw_tokens,
               CAST(SUM(CASE WHEN h.doc_id = k.kept_doc_id THEN h.n_tok
                        ELSE 0 END) AS BIGINT) AS unique_tokens
        FROM h JOIN keep k USING (text_hash)
        GROUP BY h.source
    ),
    w AS (
        SELECT source, raw_tokens, unique_tokens,
               CASE WHEN (sr + 1) * (sr + 1) <= raw_tokens THEN sr + 1
                    WHEN sr * sr > raw_tokens THEN sr - 1 ELSE sr END
                   AS w_raw,
               CASE WHEN (su + 1) * (su + 1) <= unique_tokens THEN su + 1
                    WHEN su * su > unique_tokens THEN su - 1 ELSE su END
                   AS w_uniq
        FROM (
            SELECT source, raw_tokens, unique_tokens,
                   CAST(floor(sqrt(CAST(raw_tokens AS DOUBLE))) AS BIGINT)
                       AS sr,
                   CAST(floor(sqrt(CAST(unique_tokens AS DOUBLE))) AS BIGINT)
                       AS su
            FROM src
        )
    )
    SELECT source, raw_tokens, unique_tokens,
           raw_tokens - unique_tokens AS dup_tokens,
           CAST(w_raw * 1000000 // SUM(w_raw) OVER () AS BIGINT)
               AS raw_share_ppm,
           CAST(w_uniq * 1000000 // SUM(w_uniq) OVER () AS BIGINT)
               AS dedup_share_ppm,
           CAST(w_uniq * 1000000 // SUM(w_uniq) OVER ()
                - w_raw * 1000000 // SUM(w_raw) OVER () AS BIGINT)
               AS share_shift_ppm
    FROM w
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# train/holdout split contamination audit
# ---------------------------------------------------------------------------
_SH5_SPARK = (
    "array_distinct(CASE WHEN size(w) < 5 THEN array() "
    "ELSE transform(sequence(1, size(w) - 4), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), "
    "element_at(w, i+2), element_at(w, i+3), element_at(w, i+4))) END)"
)


def sample_holdout_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout leakage audit: split the corpus deterministically
    (doc_id % 7 == 0 → holdout, ~14%; 7 is coprime with the fixture's
    source = doc_id %% 20 assignment, so every source contributes to
    both sides), shingle both sides into distinct
    5-grams, and report per source how many holdout documents share at
    least one 5-gram with the TRAIN side plus the shingle-level leak
    rate — the pre-training sanity check that an eval split was not
    quietly contaminated by near-copies in train
    (text_decontaminate's twin, aimed at the SPLIT instead of an
    external benchmark, so neither side is broadcast-size).

    Scale shape: one distinct-deduped equi-join on the shingle key —
    join output is bounded by holdout postings (linear), so no df cap
    is needed; then two partial-aggregated groupBys (doc, source).
    Shingling is length-linear (lengthprobe entry).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sh = (
        d.withColumn("w", F.split("text", " "))
        .select("doc_id", "source", F.expr(_SH5_SPARK).alias("shs"))
        .select("doc_id", "source", F.explode_outer("shs").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    train_sh = (
        sh.filter(F.col("doc_id") % 7 != 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hold = sh.filter(F.col("doc_id") % 7 == 0)
    per_doc = (
        hold.join(train_sh, "shingle", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.count("hit").alias("n_shared"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_holdout_docs"),
            F.sum(F.expr("CAST(n_shared > 0 AS INT)")).alias(
                "n_contaminated"
            ),
            F.sum("sz").alias("holdout_shingles"),
            F.sum("n_shared").alias("shared_shingles"),
        )
        .selectExpr(
            "source",
            "n_holdout_docs",
            "n_contaminated",
            "n_contaminated * 1000000 DIV n_holdout_docs"
            " AS contaminated_ppm",
            "shared_shingles * 1000000 DIV holdout_shingles AS leak_ppm",
        )
        .orderBy("source")
    )


QUERIES["sample_holdout_contamination"] = sample_holdout_contamination

ORACLES["sample_holdout_contamination"] = """
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(list_slice(w, i, i + 4), ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(w) - 4)) t(i)
        WHERE len(w) >= 5
    ),
    train_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 != 0
    ),
    per_doc AS (
        SELECT h.doc_id, h.source,
               COUNT(*) AS sz,
               COUNT(t.shingle) AS n_shared
        FROM sh h LEFT JOIN train_sh t USING (shingle)
        WHERE h.doc_id % 7 = 0
        GROUP BY h.doc_id, h.source
    )
    SELECT source,
           COUNT(*) AS n_holdout_docs,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS contaminated_ppm,
           CAST(SUM(n_shared) * 1000000 // SUM(sz) AS BIGINT) AS leak_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# hash-boundary split audit
# ---------------------------------------------------------------------------
def sample_boundary_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production train/val/test assignment: md5(doc_id) hex-prefix
    bucketing into 100 cells → 80/10/10 — stable under corpus growth
    (a document's split never changes when others arrive, unlike
    row_number slicing) and engine-portable (md5 is bit-identical
    everywhere). Output: per (source, split) counts and the split's
    share of the source in ppm — the balance audit that catches a
    biased id scheme before training does.

    Scale shape: one row-local hash + one partial-aggregated
    groupBy(source, split); 3 rows per source at any corpus size.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4),"
        " 16, 10) AS BIGINT) % 100 AS cell",
    ).selectExpr(
        "source",
        "CASE WHEN cell < 80 THEN 'train' WHEN cell < 90 THEN 'val'"
        " ELSE 'test' END AS split",
    )
    per = d.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        per.join(tot, "source")
        .selectExpr(
            "source",
            "split",
            "n_docs",
            "n_docs * 1000000 DIV n_src AS share_ppm",
        )
        .orderBy("source", "split")
    )


QUERIES["sample_boundary_hash_split"] = sample_boundary_hash_split

ORACLES["sample_boundary_hash_split"] = """
    WITH d AS (
        SELECT source,
               CASE WHEN cell < 80 THEN 'train' WHEN cell < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT source,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                        AS BIGINT) % 100 AS cell
            FROM documents
        )
    ),
    per AS (
        SELECT source, split, COUNT(*) AS n_docs
        FROM d GROUP BY source, split
    ),
    tot AS (
        SELECT source, COUNT(*) AS n_src FROM d GROUP BY source
    )
    SELECT per.source, split, n_docs,
           CAST(n_docs * 1000000 // n_src AS BIGINT) AS share_ppm
    FROM per JOIN tot ON per.source = tot.source
    ORDER BY per.source, split
"""


# ---------------------------------------------------------------------------
# per-source quality-quota sample (top-k docs by lexical diversity)
# ---------------------------------------------------------------------------
_QUOTA_K = 5


def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quota sampling: each source contributes its top-5
    documents by lexical diversity (distinct-token share in ppm, the
    type/token ratio — boilerplate and template spam score low), rank
    ties broken on doc_id. The standard per-source quota pass when a
    mixture owner wants equal-source representation but only the best
    of each — output is sources × 5 rows at any corpus size.

    Determinism: the score is an exact integer ppm of two exact integer
    counts (array set/size — row-local, no float); rank is
    row_number over (score DESC, doc_id ASC), a total order.

    Scale shape: one row-local projection (split + array_distinct),
    then a source-partitioned rank that the planner collapses to
    WindowGroupLimit (partial per-partition top-5 before the exchange,
    ≤ sources×5 rows shuffle) — the bounded-headline pattern of
    ev_concurrent_sessions. No global window, no joins."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "split(text, ' ') AS w",
    ).selectExpr(
        "doc_id",
        "source",
        "size(w) AS n_tokens",
        # BIGINT before the ×1e6: an INT32 product overflows (ANSI
        # hard-error) once a doc tops ~2147 distinct tokens
        "CAST(size(array_distinct(w)) AS BIGINT) * 1000000 DIV size(w)"
        " AS diversity_ppm",
    )
    w = W.partitionBy("source").orderBy(
        F.desc("diversity_ppm"), F.asc("doc_id")
    )
    return (
        d.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= _QUOTA_K)
        .select(
            "source", "rank_in_source", "doc_id", "n_tokens",
            "diversity_ppm",
        )
        .orderBy("source", "rank_in_source")
    )


QUERIES["sample_quota_per_source"] = sample_quota_per_source

ORACLES["sample_quota_per_source"] = """
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) * 1000000
                    // len(string_split(text, ' ')) AS BIGINT)
                   AS diversity_ppm
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY source
                   ORDER BY diversity_ppm DESC, doc_id) AS rank_in_source
        FROM d
    )
    SELECT source,
           CAST(rank_in_source AS INT) AS rank_in_source,
           doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           diversity_ppm
    FROM ranked
    WHERE rank_in_source <= 5
    ORDER BY source, rank_in_source
"""


# ---------------------------------------------------------------------------
# curriculum ordering: difficulty phases × source interleave ledger
# ---------------------------------------------------------------------------
def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule ledger: order the corpus by a deterministic
    difficulty proxy (mean word length, milli-chars/token — short-word
    text first) into 5 exact global phases, and report each phase's
    per-source composition (docs, tokens, score range) — the table a
    curriculum-training run reads to check that early phases aren't
    dominated by one source before committing the ordering.

    Exact phases via distributed_ntile (plans/ranks.py — no single-task
    sort of the corpus; the ≤32² prefix cross is the whitelisted BNLJ),
    tie-broken on doc_id so assignments are unique and engine-identical.
    Scale shape: one row-local scoring scan, the two-shuffle distributed
    rank, one ≤(5 × sources)-group aggregate. Output is bounded by
    5 × |sources|, never rows."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "size(split(text, ' ')) AS n_tok",
        # 1000·chars/token in BIGINT (a 2.1 M-char doc would overflow
        # the INT spelling); length counts characters in both engines
        "(1000 * CAST(length(text) AS BIGINT))"
        " div size(split(text, ' ')) AS score_milli",
    )
    phased = distributed_ntile(
        d, [F.asc("score_milli"), F.asc("doc_id")], 5, "phase"
    )
    return (
        phased.groupBy("phase", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(sum(n_tok) AS BIGINT)").alias("tokens_total"),
            F.min("score_milli").alias("min_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
        )
        .orderBy("phase", "source")
    )


QUERIES["sample_curriculum_order"] = sample_curriculum_order

ORACLES["sample_curriculum_order"] = """
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               (1000 * length(text))
                   // len(string_split(text, ' ')) AS score_milli
        FROM documents
    ),
    phased AS (
        SELECT source, n_tok, score_milli,
               CAST(ntile(5) OVER (ORDER BY score_milli, doc_id) AS INT)
                   AS phase
        FROM d
    )
    SELECT phase, source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(min(score_milli) AS BIGINT) AS min_score_milli,
           CAST(max(score_milli) AS BIGINT) AS max_score_milli
    FROM phased
    GROUP BY phase, source
    ORDER BY phase, source
"""
