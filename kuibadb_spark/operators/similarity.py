"""Similarity search over `embeddings.embedding` (array<float>, 64-dim) —
the north-star ANN surface (SURVEY.md §2.3 'LLM-pipeline extras').

Three tiers, ordered by scale:

- sim_topk_bruteforce : exact cosine top-k per query — O(Q·N) dot
  products; the correctness baseline every ANN variant is judged against.
- sim_lsh_hyperplane  : random-hyperplane (SRP) LSH — 8 signed
  projections → 256 buckets; candidates = bucket equi-join, exact cosine
  re-rank inside buckets. The planes are seed-42 literals shared with the
  oracle, so both engines build the identical index.
- sim_ann_ivf         : IVF — centroids computed in-engine (elementwise
  mean per cell seed = label), every vector assigned to its nearest
  centroid, queries probe the 2 nearest cells, exact re-rank inside.

Scale notes (100 TB): brute force distributes as a broadcast of the
query set against a partitioned corpus (Q small); LSH/IVF replace the
full scan with an equi-join on bucket/cell id — the shuffle is on the
index key, and within-bucket work is quadratic only in bucket size.
Dot products run as JVM higher-order functions (aggregate/zip_with),
not Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load


_DIM = 64
_N_PLANES = 8
_rng = np.random.default_rng(42)
_PLANES = np.round(_rng.standard_normal((_N_PLANES, _DIM)), 6)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
            "label",
        )
        .withColumn(
            "norm", F.expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))")
        )
    )


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )


# ---------------------------------------------------------------------------
# exact brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    pairs = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos")
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH: signed projections → bucket join → re-rank
# ---------------------------------------------------------------------------
def _plane_array_spark(j: int) -> str:
    vals = ", ".join(f"{x}D" for x in _PLANES[j])
    return f"array({vals})"


def _plane_array_duck(j: int) -> str:
    vals = ", ".join(str(x) for x in _PLANES[j])
    return f"[{vals}]"


def _bucket_expr_spark() -> str:
    bits = " + ".join(
        f"(CASE WHEN aggregate(zip_with(v, {_plane_array_spark(j)}, (x, y) -> x * y),"
        f" 0D, (acc, x) -> acc + x) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    return f"({bits})"


def _bucket_expr_duck() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_array_duck(j)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    return f"({bits})"


def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).withColumn("bucket", F.expr(_bucket_expr_spark()))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"), F.col("bucket").alias("qb"),
    )
    pairs = (
        F.broadcast(q)
        .join(e, (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("q_id")))
        .withColumn("cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos")
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF: in-engine centroids, nearest-cell assignment, nprobe=2 search
# ---------------------------------------------------------------------------
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    # centroids: elementwise mean per cell (cell seed = label); assembled
    # deterministically by sorting (idx, mean) structs — no collect_list order
    expl = e.select(
        "label", F.posexplode("v").alias("idx", "x")
    )
    cent = (
        expl.groupBy("label", "idx")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(idx, m))), s -> s.m)"
            ).alias("cv")
        )
        .select(
            F.col("label").alias("cell"),
            "cv",
            F.expr("sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x))").alias("cn"),
        )
    )
    # assign every vector to its nearest centroid by cosine
    from pyspark.sql import Window as W

    vc = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("csim", _dot("v", "cv") / (F.col("norm") * F.col("cn")))
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cell"))
    assigned = (
        vc.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "norm", "cell")
    )
    # queries probe their 2 nearest cells
    q = e.filter(F.col("vec_id") < 10)
    qc = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("csim", _dot("v", "cv") / (F.col("norm") * F.col("cn")))
    )
    w_probe = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cell"))
    probes = (
        qc.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
            F.col("norm").alias("qn"), "cell",
        )
    )
    # exact re-rank inside probed cells
    pairs = (
        F.broadcast(probes)
        .join(assigned, (probes.cell == assigned.cell) & (F.col("vec_id") != F.col("q_id")))
        .withColumn("cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6))
    )
    w_rank = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos")
        .orderBy("q_id", "rank")
    )


QUERIES = {
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_lsh_hyperplane": sim_lsh_hyperplane,
    "sim_ann_ivf": sim_ann_ivf,
}

_EMB_DUCK = """
    emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS norm
        FROM embeddings
    )
"""

ORACLES = {
    "sim_topk_bruteforce": f"""
        WITH {_EMB_DUCK},
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM emb WHERE vec_id < 10),
        pairs AS (
            SELECT q_id, e.vec_id AS neighbor_id,
                   round(list_dot_product(qv, e.v) / (qn * e.norm), 6) AS cos
            FROM q JOIN emb e ON e.vec_id <> q.q_id
        )
        SELECT q_id, neighbor_id, rank, cos FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
            FROM pairs)
        WHERE rank <= 5
        ORDER BY q_id, rank
    """,
    "sim_lsh_hyperplane": f"""
        WITH {_EMB_DUCK},
        bucketed AS (
            SELECT vec_id, v, norm, {_bucket_expr_duck()} AS bucket FROM emb
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn, bucket AS qb
              FROM bucketed WHERE vec_id < 20),
        pairs AS (
            SELECT q_id, e.vec_id AS neighbor_id,
                   round(list_dot_product(qv, e.v) / (qn * e.norm), 6) AS cos
            FROM q JOIN bucketed e
              ON e.bucket = q.qb AND e.vec_id <> q.q_id
        )
        SELECT q_id, neighbor_id, rank, cos FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
            FROM pairs)
        WHERE rank <= 3
        ORDER BY q_id, rank
    """,
    "sim_ann_ivf": f"""
        WITH {_EMB_DUCK},
        expl AS (
            SELECT label, generate_subscripts(v, 1) AS idx, unnest(v) AS x
            FROM emb
        ),
        cent AS (
            SELECT label AS cell,
                   list(m ORDER BY idx) AS cv
            FROM (SELECT label, idx, avg(x) AS m FROM expl GROUP BY label, idx)
            GROUP BY label
        ),
        cent_n AS (
            SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent
        ),
        assigned AS (
            SELECT vec_id, v, norm, cell FROM (
                SELECT e.vec_id, e.v, e.norm, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv) / (e.norm * c.cn)
                               DESC, c.cell ASC) AS rn
                FROM emb e CROSS JOIN cent_n c)
            WHERE rn = 1
        ),
        probes AS (
            SELECT q_id, qv, qn, cell FROM (
                SELECT e.vec_id AS q_id, e.v AS qv, e.norm AS qn, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv) / (e.norm * c.cn)
                               DESC, c.cell ASC) AS rn
                FROM emb e CROSS JOIN cent_n c
                WHERE e.vec_id < 10)
            WHERE rn <= 2
        ),
        pairs AS (
            SELECT q_id, a.vec_id AS neighbor_id,
                   round(list_dot_product(qv, a.v) / (qn * a.norm), 6) AS cos
            FROM probes p JOIN assigned a
              ON a.cell = p.cell AND a.vec_id <> p.q_id
        )
        SELECT q_id, neighbor_id, rank, cos FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
            FROM pairs)
        WHERE rank <= 3
        ORDER BY q_id, rank
    """,
}


# ---------------------------------------------------------------------------
# k-means (Lloyd's) over embeddings — iterative clustering
# ---------------------------------------------------------------------------
_K = 4
_ROUNDS = 3  # assignment rounds; centroid updates after rounds 1 and 2
_SCALE = 1_000_000  # coordinates → exact integers (floor(x * 1e6))


def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, K=4, deterministic init (vectors 0..3), exactly
    3 assignment rounds — the canonical iterative-refinement algorithm
    (reference has no iterative ops; this is the LLM-pipeline extra the
    blueprint adds, SURVEY.md §2.3).

    Cross-engine determinism: coordinates become EXACT integers
    (floor(x·1e6) as BIGINT) so centroid sums are order-independent;
    distances are sequential left-fold doubles over identical integer
    inputs, bit-identical in Spark and DuckDB; argmin ties break on
    min cid via (min dist → min cid), not arg_min.

    Scale: assignment is a broadcast cross join against K=4 centroids
    (K·64 ints — trivially broadcastable at any corpus size); the update
    is one partial-aggregated groupBy per round. The per-round driver
    collect is K rows — the standard Lloyd's loop shape (MLlib does the
    same); corpus never leaves the executors.
    """
    vec = (
        load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            f"transform(embedding, x -> bigint(floor(x * {_SCALE}D))) AS xi",
            "label",
        )
        .persist()
    )
    sums = [F.sum(F.expr(f"xi[{d}]")).alias(f"s{d}") for d in range(_DIM)]
    cent = vec.filter(F.col("vec_id") < _K).selectExpr(
        "int(vec_id) AS cid", "1L AS n", "xi AS s"
    )
    best = None
    for r in range(_ROUNDS):
        # K rows of 64 ints — literal re-broadcast each round keeps the
        # plan flat (no 3-round lineage explosion)
        cdf = spark.createDataFrame(
            [(row["cid"], row["n"], row["s"]) for row in cent.collect()],
            "cid INT, n BIGINT, s ARRAY<BIGINT>",
        )
        dist = vec.crossJoin(F.broadcast(cdf)).withColumn(
            "dist",
            F.expr(
                "aggregate(zip_with(xi, s, (x, m) -> (x - m / n) * (x - m / n)),"
                " 0D, (acc, t) -> acc + t)"
            ),
        )
        mind = dist.groupBy("vec_id").agg(F.min("dist").alias("md"))
        best = (
            dist.join(mind, "vec_id")
            .filter("dist = md")
            .groupBy("vec_id")
            .agg(F.min("cid").alias("cid"))
        )
        if r < _ROUNDS - 1:
            cent = (
                best.join(vec, "vec_id")
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("n"), *sums)
                .selectExpr(
                    "cid", "n",
                    "array(" + ",".join(f"s{d}" for d in range(_DIM)) + ") AS s",
                )
            )
    return (
        best.join(vec, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("first_member"))
        .select(F.col("cid").alias("cluster_id"), "label", "n_vecs", "first_member")
        .orderBy("cluster_id", "label")
    )


def _kmeans_duck() -> str:
    """Generate the mirrored fixed-3-round Lloyd's as chained CTEs."""
    s_list = ", ".join(
        f"CAST(sum(v.xi[{d}]) AS BIGINT)" for d in range(1, _DIM + 1)
    )
    parts = [
        f"""vec AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * {_SCALE}) AS BIGINT)) AS xi,
                   label
            FROM embeddings
        ),
        cent0 AS (
            SELECT CAST(vec_id AS INTEGER) AS cid, CAST(1 AS BIGINT) AS n,
                   xi AS s
            FROM vec WHERE vec_id < {_K}
        )"""
    ]
    for r in range(1, _ROUNDS + 1):
        parts.append(f"""dist{r} AS (
            SELECT v.vec_id, c.cid,
                   list_reduce(list_transform(range(1, {_DIM + 1}),
                       d -> (v.xi[d] - c.s[d] / c.n) * (v.xi[d] - c.s[d] / c.n)),
                       (a, b) -> a + b) AS dist
            FROM vec v CROSS JOIN cent{r - 1} c
        ),
        mind{r} AS (SELECT vec_id, min(dist) AS md FROM dist{r} GROUP BY vec_id),
        asn{r} AS (
            SELECT d.vec_id, min(d.cid) AS cid
            FROM dist{r} d JOIN mind{r} m
              ON d.vec_id = m.vec_id AND d.dist = m.md
            GROUP BY d.vec_id
        )""")
        if r < _ROUNDS:
            parts.append(f"""cent{r} AS (
            SELECT a.cid, CAST(count(*) AS BIGINT) AS n, [{s_list}] AS s
            FROM asn{r} a JOIN vec v ON v.vec_id = a.vec_id
            GROUP BY a.cid
        )""")
    return (
        "WITH " + ",\n        ".join(parts) + f"""
        SELECT a.cid AS cluster_id, v.label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               min(v.vec_id) AS first_member
        FROM asn{_ROUNDS} a JOIN vec v ON v.vec_id = a.vec_id
        GROUP BY a.cid, v.label
        ORDER BY cluster_id, label
    """)


QUERIES["sim_kmeans_lloyd"] = sim_kmeans_lloyd
ORACLES["sim_kmeans_lloyd"] = _kmeans_duck()


# ---------------------------------------------------------------------------
# product quantization (PQ) + asymmetric-distance ANN
# ---------------------------------------------------------------------------
_PQ_M = 8  # subspaces (64 dims / 8 per sub)
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16  # centroids per subspace
_PQ_SCALE = 1_000_000  # fixed-point grid: exact integer L2 in both engines


def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): each vector is
    compressed to m=8 one-byte codes (nearest of 16 centroids per 8-dim
    subspace); queries compute a 8×16 distance table against the
    codebooks and score every database vector by table lookups only —
    the asymmetric distance computation (ADC) that makes billion-vector
    search memory-resident (8 bytes/vector here vs 256 for the raw
    floats).

    Determinism/parity: vectors land on a fixed-point integer grid
    (floor(x·1e6 + 0.5) — identical IEEE ops in both engines), codebooks
    are the subvectors of vec_id < 16 (training-free seeding; swap in
    sim_kmeans_lloyd per subspace for trained codebooks), so every
    distance is an exact BIGINT and code assignment ties break on
    centroid id via struct-min.

    Scale shape: codebooks are m×k=128 tiny rows → broadcast both to the
    encode join and the query distance-table join; encoding is one
    groupBy(vec_id, subspace) argmin; ADC is an equi-join on
    (subspace, code) — hash shuffle on a 2-int key — plus a
    per-query top-k. Nothing is quadratic in the corpus; the only
    corpus-wide state is the 8-code row per vector.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(v, x -> CAST(floor(x * {_PQ_SCALE}D + 0.5D) AS BIGINT))"
        ).alias("xi"),
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("j")
    sub = e.select("vec_id", "xi", js).selectExpr(
        "vec_id", "j", f"slice(xi, j * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv"
    )
    cent = (
        e.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("c"), "xi", js)
        .selectExpr("j", "c", f"slice(xi, j * {_PQ_SUB} + 1, {_PQ_SUB}) AS cw")
    )
    l2 = (
        "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, x) -> acc + x)"
    )
    dists = sub.join(F.broadcast(cent), "j").selectExpr(
        "vec_id", "j", "c", f"{l2} AS dist"
    )
    codes = (
        dists.groupBy("vec_id", "j")
        .agg(F.min(F.struct("dist", "c")).alias("b"))
        .selectExpr("vec_id", "j", "b.c AS code")
    )
    dt = dists.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id AS qid", "j", "c", "dist"
    )
    adc = (
        codes.alias("cd")
        .join(
            F.broadcast(dt).alias("q"),
            (F.col("cd.j") == F.col("q.j")) & (F.col("cd.code") == F.col("q.c")),
        )
        .filter(F.col("cd.vec_id") != F.col("q.qid"))
        .groupBy(
            F.col("q.qid").alias("qid"), F.col("cd.vec_id").alias("vec_id")
        )
        .agg(F.sum("q.dist").alias("adist"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy("adist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "adist")
        .orderBy("qid", "rank")
    )


QUERIES["sim_ann_pq"] = sim_ann_pq

ORACLES["sim_ann_pq"] = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * {_PQ_SCALE} + 0.5)
                        AS BIGINT)) AS xi
        FROM embeddings
    ),
    js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    sub AS (
        SELECT vec_id, j,
               xi[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS sv
        FROM e CROSS JOIN js
    ),
    cent AS (
        SELECT j, vec_id AS c,
               xi[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS cw
        FROM e CROSS JOIN js
        WHERE vec_id < {_PQ_K}
    ),
    dists AS (
        SELECT s.vec_id, s.j, c.c,
               CAST(list_sum(list_transform(
                   generate_series(1, {_PQ_SUB}),
                   i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))
                   AS BIGINT) AS dist
        FROM sub s JOIN cent c ON c.j = s.j
    ),
    codes AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist, c) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT vec_id AS qid, j, c, dist FROM dists WHERE vec_id < 5
    ),
    adc AS (
        SELECT dt.qid, codes.vec_id, CAST(sum(dt.dist) AS BIGINT) AS adist
        FROM codes
        JOIN dt ON dt.j = codes.j AND dt.c = codes.code
        WHERE codes.vec_id <> dt.qid
        GROUP BY dt.qid, codes.vec_id
    )
    SELECT qid, rank, vec_id, adist FROM (
        SELECT qid, vec_id, adist,
               CAST(row_number() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS INTEGER) AS rank
        FROM adc
    ) WHERE rank <= 10
    ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# k-NN label classification (embedding majority vote)
# ---------------------------------------------------------------------------
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding space: vec_id < 20 are the
    'unlabeled' queries, the rest is the labeled reference set; each
    query takes the majority label of its 5 nearest neighbors by cosine
    (rounded to 1e-6 — identical IEEE arithmetic in both engines — with
    vec_id as the total tie-break), ties on votes broken by smaller
    label. Emits the predicted label, the vote count, and whether the
    prediction agrees with the query's actual label (top-1 'accuracy'
    bit, aggregatable downstream).

    Scale shape: identical to sim_topk_bruteforce — broadcast the query
    block against the partitioned reference set; swap the inner scan for
    the LSH/IVF/PQ candidate joins above when the reference set is the
    100 TB side."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    ref = e.filter(F.col("vec_id") >= 20)
    pairs = F.broadcast(q).join(ref, F.lit(True)).withColumn(
        "cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    votes = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .groupBy("q_id", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w2 = W.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(w2))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            F.col("label").alias("predicted_label"),
            "votes",
            "true_label",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("q_id")
    )


QUERIES["sim_knn_classify"] = sim_knn_classify

ORACLES["sim_knn_classify"] = """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    normed AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, q.label AS true_label,
               r.vec_id, r.label,
               round(list_sum(list_transform(generate_series(1, 64),
                         i -> q.v[i] * r.v[i])) / (q.nrm * r.nrm), 6) AS cos
        FROM normed q, normed r
        WHERE q.vec_id < 20 AND r.vec_id >= 20
    ),
    top5 AS (
        SELECT q_id, true_label, label FROM (
            SELECT q_id, true_label, label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rank
            FROM pairs
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT q_id, true_label, label, count(*) AS votes
        FROM top5 GROUP BY q_id, true_label, label
    )
    SELECT q_id, label AS predicted_label, votes, true_label,
           label = true_label AS correct
    FROM (
        SELECT q_id, true_label, label, votes,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY votes DESC, label) AS vr
        FROM votes
    )
    WHERE vr = 1
    ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# hybrid retrieval: lexical rank + vector rank → reciprocal rank fusion
# ---------------------------------------------------------------------------
_RRF_K = 60           # the standard RRF damping constant (Cormack 2009)
_RRF_TERMS = ("fast", "join", "stream")  # lexical query
_RRF_QVEC = 0         # vector query: embedding of vec_id 0 (≡ doc_id 0)


def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search, the production retrieval shape (BM25 ∪ ANN →
    reciprocal rank fusion): a lexical ranking (query-term hit count
    over documents) and a vector ranking (cosine to a query embedding)
    are fused per document as Σ 1e6 div (60 + rank) — integer-exact, so
    the fused score hash-matches across engines (float RRF sums would
    not). Documents ranked by only one retriever get the other's
    contribution as 0, the standard missing-rank convention.

    Scale: both candidate lists are top-N reductions (lexical: docs with
    ≥1 term hit; vector: exact scan here, the bucketed ANN variants
    above at 100 TB); the global rank windows run over candidate sets,
    not the corpus, and the fusion is a join of two rank tables on
    doc id. doc_id ≡ vec_id in the fixture (parallel tables)."""
    d = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    lex = (
        d.selectExpr(
            "doc_id",
            f"size(filter(array({terms}), t -> contains(text, t))) AS hits",
        )
        .filter(F.col("hits") >= 1)
    )
    from pyspark.sql import Window as W

    w_lex = W.orderBy(F.desc("hits"), F.asc("doc_id"))
    lex_r = lex.withColumn("r_lex", F.row_number().over(w_lex).cast("int"))

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    vec = (
        e.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6)
        )
    )
    w_vec = W.orderBy(F.desc("cos"), F.asc("vec_id"))
    vec_r = (
        vec.withColumn("r_vec", F.row_number().over(w_vec).cast("int"))
        .filter(F.col("r_vec") <= 100)
        .select(F.col("vec_id").alias("doc_id"), "r_vec")
    )

    fused = (
        lex_r.select("doc_id", "r_lex")
        .join(vec_r, "doc_id", "full_outer")
        .selectExpr(
            "doc_id",
            "r_lex",
            "r_vec",
            f"coalesce(1000000 div ({_RRF_K} + r_lex), 0L)"
            f" + coalesce(1000000 div ({_RRF_K} + r_vec), 0L) AS rrf_e6",
        )
    )
    return (
        fused.orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(20)
    )


QUERIES["sim_rrf_fusion"] = sim_rrf_fusion

ORACLES["sim_rrf_fusion"] = f"""
    WITH {_EMB_DUCK},
    lex AS (
        SELECT * FROM (
            SELECT doc_id,
                   len(list_filter(['fast', 'join', 'stream'],
                                   t -> contains(text, t))) AS hits
            FROM documents
        ) WHERE hits >= 1
    ),
    lex_r AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY hits DESC, doc_id)
                    AS INTEGER) AS r_lex
        FROM lex
    ),
    q AS (SELECT v AS qv, norm AS qn FROM emb WHERE vec_id = {_RRF_QVEC}),
    vec_r AS (
        SELECT doc_id, r_vec FROM (
            SELECT e.vec_id AS doc_id,
                   CAST(row_number() OVER (
                       ORDER BY round(list_dot_product(qv, e.v)
                                      / (qn * e.norm), 6) DESC,
                                e.vec_id) AS INTEGER) AS r_vec
            FROM emb e, q WHERE e.vec_id <> {_RRF_QVEC}
        ) WHERE r_vec <= 100
    )
    SELECT doc_id, r_lex, r_vec,
           CAST(coalesce(1000000 // ({_RRF_K} + r_lex), 0)
                + coalesce(1000000 // ({_RRF_K} + r_vec), 0) AS BIGINT)
               AS rrf_e6
    FROM lex_r FULL OUTER JOIN vec_r USING (doc_id)
    ORDER BY rrf_e6 DESC, doc_id
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# maximum inner product search via the norm-augmentation reduction
# ---------------------------------------------------------------------------
def sim_mips_maxdot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS (recommendation scoring: argmax q·v, where longer vectors ARE
    more relevant — cosine deliberately not wanted) computed through the
    classic norm-augmentation reduction (Bachrach 2014 / Shrivastava-Li
    asymmetric LSH): append sqrt(M² − |v|²) to every corpus vector and 0
    to the query; all augmented vectors then share norm M, so cosine
    order against the augmented corpus IS inner-product order — which
    unlocks every cosine-bucketed ANN structure above for MIPS. This
    operator ranks by the augmented cosine and emits the raw dot; the
    ORACLE ranks by the raw dot directly — the hash match is a
    cross-engine proof of the reduction's monotonicity.

    Scale: M is a 1-row broadcast aggregate; everything else is the
    brute-force shape (broadcast queries × corpus) the bucketed variants
    replace at 100 TB."""
    e = _emb(spark, sf_dir)
    m = e.agg(F.max("norm").alias("mx"))
    aug = e.crossJoin(F.broadcast(m)).selectExpr(
        "vec_id", "v", "norm",
        "concat(v, array(sqrt(mx * mx - norm * norm))) AS va",
        "mx",
    )
    q = e.filter(F.col("vec_id") < 10).selectExpr(
        "vec_id AS q_id", "concat(v, array(0D)) AS qa", "v AS qv", "norm AS qn"
    )
    pairs = (
        F.broadcast(q)
        .join(aug, F.col("vec_id") != F.col("q_id"))
        .withColumn("cos_aug", _dot("qa", "va") / (F.col("qn") * F.col("mx")))
        .withColumn("dot", F.round(_dot("qv", "v"), 6))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos_aug"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rank", "dot")
        .orderBy("q_id", "rank")
    )


QUERIES["sim_mips_maxdot"] = sim_mips_maxdot

ORACLES["sim_mips_maxdot"] = f"""
    WITH {_EMB_DUCK},
    q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < 10),
    pairs AS (
        SELECT q_id, e.vec_id AS neighbor_id,
               round(list_dot_product(qv, e.v), 6) AS dot
        FROM q JOIN emb e ON e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, rank, dot FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY dot DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM pairs)
    WHERE rank <= 5
    ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# IVF + PQ hybrid: coarse cell probe, then table-lookup (ADC) refine
# ---------------------------------------------------------------------------
_IVF_CELLS = 8  # coarse quantizer cells (training-free seeding, like PQ)


def sim_ivf_pq_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN index shape (FAISS IVFPQ): a coarse quantizer
    routes each vector to one of 8 cells (exact integer L2 argmin on
    the 1e6 fixed-point grid, cells seeded from vec_id < 8 — swap in
    kmeans-trained cells at deployment), queries probe their 2 nearest
    cells, and ONLY vectors in probed cells are scored — by PQ
    asymmetric distance (8 table lookups per vector) rather than the
    raw 64-dim dot. Combines sim_ann_ivf's candidate pruning with
    sim_ann_pq's per-candidate cost: work ≈ probed_fraction × corpus ×
    O(m) lookups, independent of dimension.

    Everything is exact BIGINT arithmetic (grid L2, ADC sums), ties
    break on (distance, id) — bit-identical across engines.

    Scale shape: cell seeds and PQ codebooks broadcast (8 + 128 tiny
    rows); assignment and encoding are broadcast joins + argmin
    groupBys; the probe restriction is an equi-join on cell; ADC is an
    equi-join on (subspace, code). Nothing quadratic, nothing wider
    than codes shuffles."""
    from pyspark.sql import Window as W

    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(v, x -> CAST(floor(x * {_PQ_SCALE}D + 0.5D) AS BIGINT))"
        ).alias("xi"),
    )
    # coarse stage: integer L2 to each of the 8 cell seeds
    cells = e.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("xi").alias("cw")
    )
    l2full = (
        "aggregate(zip_with(xi, cw, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, x) -> acc + x)"
    )
    scored = e.crossJoin(F.broadcast(cells)).selectExpr(
        "vec_id", "xi", "cell", f"{l2full} AS cd"
    )
    w_assign = W.partitionBy("vec_id").orderBy("cd", "cell")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    probes = (
        scored.filter(F.col("vec_id") < 5)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= 2)
        .selectExpr("vec_id AS qid", "cell")
    )
    # PQ stage (the sim_ann_pq encode, verbatim shapes)
    js = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("j")
    sub = e.select("vec_id", "xi", js).selectExpr(
        "vec_id", "j", f"slice(xi, j * {_PQ_SUB} + 1, {_PQ_SUB}) AS sv"
    )
    cent = (
        e.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("c"), "xi", js)
        .selectExpr("j", "c", f"slice(xi, j * {_PQ_SUB} + 1, {_PQ_SUB}) AS cw")
    )
    l2 = (
        "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, x) -> acc + x)"
    )
    dists = sub.join(F.broadcast(cent), "j").selectExpr(
        "vec_id", "j", "c", f"{l2} AS dist"
    )
    codes = (
        dists.groupBy("vec_id", "j")
        .agg(F.min(F.struct("dist", "c")).alias("b"))
        .selectExpr("vec_id", "j", "b.c AS code")
    )
    dt = dists.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id AS qid", "j", "c", "dist"
    )
    # candidates = vectors living in a probed cell (self excluded)
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    adc = (
        cand.join(codes, "vec_id")
        .alias("cd")
        .join(
            F.broadcast(dt).alias("q"),
            (F.col("cd.j") == F.col("q.j"))
            & (F.col("cd.code") == F.col("q.c"))
            & (F.col("cd.qid") == F.col("q.qid")),
        )
        .groupBy(F.col("cd.qid").alias("qid"), "vec_id")
        .agg(F.sum("q.dist").alias("adist"))
    )
    w = W.partitionBy("qid").orderBy("adist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "vec_id", "adist")
        .orderBy("qid", "rank")
    )


QUERIES["sim_ivf_pq_hybrid"] = sim_ivf_pq_hybrid

ORACLES["sim_ivf_pq_hybrid"] = f"""
    WITH {_EMB_DUCK},
    e AS (
        SELECT vec_id,
               list_transform(v, x ->
                   CAST(floor(x * {_PQ_SCALE} + 0.5) AS BIGINT)) AS xi
        FROM emb
    ),
    cells AS (
        SELECT vec_id AS cell, xi AS cw FROM e WHERE vec_id < {_IVF_CELLS}
    ),
    cscored AS (
        SELECT e.vec_id, c.cell,
               CAST(list_sum(list_transform(generate_series(1, {_DIM}),
                   i -> (e.xi[i] - c.cw[i]) * (e.xi[i] - c.cw[i])))
                   AS BIGINT) AS cd
        FROM e CROSS JOIN cells c
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cd, cell) AS rn
            FROM cscored
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cd, cell) AS rn
            FROM cscored WHERE vec_id < 5
        ) WHERE rn <= 2
    ),
    js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    sub AS (
        SELECT vec_id, j,
               xi[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS sv
        FROM e CROSS JOIN js
    ),
    cent AS (
        SELECT j, vec_id AS c,
               xi[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS cw
        FROM e CROSS JOIN js
        WHERE vec_id < {_PQ_K}
    ),
    dists AS (
        SELECT s.vec_id, s.j, c.c,
               CAST(list_sum(list_transform(
                   generate_series(1, {_PQ_SUB}),
                   i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))
                   AS BIGINT) AS dist
        FROM sub s JOIN cent c ON c.j = s.j
    ),
    codes AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist, c) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT vec_id AS qid, j, c, dist FROM dists WHERE vec_id < 5
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM probes p JOIN assigned a USING (cell)
        WHERE a.vec_id <> p.qid
    ),
    adc AS (
        SELECT cand.qid, cand.vec_id, CAST(sum(dt.dist) AS BIGINT) AS adist
        FROM cand
        JOIN codes ON codes.vec_id = cand.vec_id
        JOIN dt ON dt.qid = cand.qid AND dt.j = codes.j
               AND dt.c = codes.code
        GROUP BY cand.qid, cand.vec_id
    )
    SELECT qid, rank, vec_id, adist FROM (
        SELECT qid, vec_id, adist,
               CAST(row_number() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS INTEGER) AS rank
        FROM adc
    ) WHERE rank <= 10
    ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# symmetric int8 embedding quantization with exact round-trip stats
# ---------------------------------------------------------------------------
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize each embedding to int8 (q = floor(x*127/maxabs + 0.5),
    the symmetric per-vector scheme ANN indexes ship), then report exact
    integer stats per label: vector count, total quantized squared norm,
    total saturated lanes, and the min/max per-vector scale (rounded).

    Every cross-row aggregate is over integers or min/max of doubles —
    order-independent, so the DuckDB oracle hash-matches despite both
    engines summing in arbitrary partition order. Scale: narrow per-row
    transform + one partial-agg groupBy(label)."""
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
    )
    q = (
        e.withColumn(
            "maxabs", F.expr("array_max(transform(v, x -> abs(x)))")
        )
        .filter(F.col("maxabs") > 0)
        .withColumn(
            "q",
            F.expr(
                "transform(v, x -> CAST(floor(x * 127.0D / maxabs + 0.5D)"
                " AS INT))"
            ),
        )
    )
    return (
        q.selectExpr(
            "label",
            "aggregate(q, 0L, (acc, x) -> acc + x * x) AS qnorm",
            "size(filter(q, x -> x = 127 OR x = -127)) AS n_sat",
            "round(maxabs, 6) AS maxabs6",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qnorm").alias("sum_qnorm"),
            F.sum("n_sat").alias("sum_saturated"),
            F.min("maxabs6").alias("min_scale6"),
            F.max("maxabs6").alias("max_scale6"),
        )
        .orderBy("label")
    )


QUERIES["sim_embedding_quantize"] = sim_embedding_quantize

ORACLES["sim_embedding_quantize"] = """
        WITH e AS (
            SELECT label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        m AS (
            SELECT label, v,
                   list_max(list_transform(v, x -> abs(x))) AS maxabs
            FROM e
            WHERE list_max(list_transform(v, x -> abs(x))) > 0
        ),
        q AS (
            SELECT label, maxabs,
                   list_transform(v, x ->
                       CAST(floor(x * 127.0 / maxabs + 0.5) AS INTEGER)) AS q
            FROM m
        ),
        per_vec AS (
            SELECT label,
                   CAST(list_sum(list_transform(q, x ->
                       CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT)
                       AS qnorm,
                   len(list_filter(q, x -> x = 127 OR x = -127)) AS n_sat,
                   round(maxabs, 6) AS maxabs6
            FROM q
        )
        SELECT label,
               count(*) AS n_vecs,
               CAST(sum(qnorm) AS BIGINT) AS sum_qnorm,
               CAST(sum(n_sat) AS BIGINT) AS sum_saturated,
               min(maxabs6) AS min_scale6,
               max(maxabs6) AS max_scale6
        FROM per_vec
        GROUP BY label
        ORDER BY label
    """


# ---------------------------------------------------------------------------
# ANN recall evaluation: IVF top-3 vs exact brute-force top-3
# ---------------------------------------------------------------------------
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning harness (mirror of dedup_lsh_eval for the vector
    side): score sim_ann_ivf's emitted neighbors against the exact
    brute-force cosine top-3 ground truth, reporting truth/predicted/hit
    counts and recall/precision in exact integer ppm. Run it after
    changing nlist/nprobe — the number that justifies probing 2 cells
    instead of scanning the corpus.

    Composition, not reimplementation: truth is sim_topk_bruteforce's
    own output cut to rank ≤ 3, predictions are sim_ann_ivf's output;
    the hit set is one equi-join of two (q_id, neighbor_id) tables.
    Output is ONE row — the counts reaching the driver are each a
    1-row aggregate (the lsh_eval pattern the round-2 audit cleared)."""
    truth = (
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("q_id", "neighbor_id")
    )
    pred = sim_ann_ivf(spark, sf_dir).select("q_id", "neighbor_id")
    hit = truth.join(pred, ["q_id", "neighbor_id"])
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(pred.agg(F.count(F.lit(1)).alias("n_pred")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return counts.selectExpr(
        "n_truth",
        "n_pred",
        "n_hit",
        "CAST(1000000 * n_hit div n_truth AS BIGINT) AS recall_ppm",
        "CAST(1000000 * n_hit div n_pred AS BIGINT) AS precision_ppm",
    )


QUERIES["sim_ann_recall_eval"] = sim_ann_recall_eval

# compositional oracle: both sides' published oracles as subqueries
# (DuckDB allows WITH inside a parenthesized subquery), counts crossed
ORACLES["sim_ann_recall_eval"] = f"""
    WITH truth AS (
        SELECT q_id, neighbor_id
        FROM ({ORACLES["sim_topk_bruteforce"]}) WHERE rank <= 3
    ),
    pred AS (
        SELECT q_id, neighbor_id FROM ({ORACLES["sim_ann_ivf"]})
    ),
    hit AS (SELECT * FROM truth JOIN pred USING (q_id, neighbor_id))
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM pred) AS n_pred,
           (SELECT count(*) FROM hit) AS n_hit,
           1000000 * (SELECT count(*) FROM hit)
               // (SELECT count(*) FROM truth) AS recall_ppm,
           1000000 * (SELECT count(*) FROM hit)
               // (SELECT count(*) FROM pred) AS precision_ppm
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-pairwise-cosine
# ---------------------------------------------------------------------------
# Reference semantics: embedding near-dup removal the reference's dedup
# surface implies for vector columns (cf. /root/reference docs on dedup
# coverage); method per the public SemDeDup recipe (Abbas et al. 2023,
# arXiv:2303.09540): cluster embeddings, then search for near-dups only
# WITHIN a cluster — the clustering bounds the quadratic step the same
# way LSH bands do for minhash.
_SD_K = 8            # centroids; production K scales ~ N/cluster-budget
_SD_TAU2 = 0.9409    # cos >= 0.97  <=>  dot^2 >= 0.9409 * |a|^2 * |b|^2
_SD_SLICES = 4       # salt wide clusters across cogroup tasks


def sim_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: quantize each vector to
    integers (floor(x*1000 + 0.5) — from then on every dot product and
    norm is EXACT in both engines), assign to the nearest of K=8 fixed
    seed centroids (the vectors with vec_id < 8 — deterministic, no
    Lloyd iterations to drift cross-engine), then within each cluster
    count pairs with cosine >= 0.97 and the distinct higher-id vectors
    a keep-lowest policy would drop.

    Exactness: nearest-centroid argmax compares sign(dot)*dot^2/|c|^2 —
    dot^2 <= 4.1e15 < 2^53 stays exact through the double cast, and the
    single division is IEEE-identical in both engines; ties break to the
    lowest centroid id via row_number. The pair test dot^2 >= 0.9409 *
    |a|^2*|b|^2 multiplies exact integers into one rounded double each
    side — same rounding, same verdict.

    Scale shape: assignment is a broadcast of K centroid rows into a
    mapInPandas int-matmul (no shuffle); the pair stage is the
    label-sliced cogrouped blocked-matmul verify proven in
    dedup_embedding_cosine (dedup.py:370) — the quadratic step never
    leaves a cluster slice, and K grows with N in production so cluster
    size stays bounded."""
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "transform(CAST(embedding AS ARRAY<DOUBLE>),"
        " x -> CAST(floor(x * 1000.0D + 0.5D) AS BIGINT)) AS q",
    ).withColumn("n", F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))

    cent = [
        (int(r["vec_id"]), list(r["q"]), int(r["n"]))
        for r in e.filter(F.col("vec_id") < _SD_K).collect()
    ]  # K x 64 ints: bounded metadata, the kmeans-centroid precedent
    cent.sort()
    c_mat = np.array([c[1] for c in cent], dtype=np.int64)  # K x 64
    c_norm = np.array([c[2] for c in cent], dtype=np.int64)
    c_ids = np.array([c[0] for c in cent], dtype=np.int64)

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            D = A @ c_mat.T                        # exact int64
            score = np.sign(D) * (D.astype(np.float64) ** 2) / c_norm
            j = np.argmax(score, axis=1)           # first max = lowest id
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "q": pdf["q"],
                 "n": pdf["n"], "cluster_id": c_ids[j]}
            )

    assigned = e.mapInPandas(
        _assign,
        "vec_id bigint, q array<bigint>, n bigint, cluster_id bigint",
    )

    S = _SD_SLICES
    a_side = assigned.withColumn(
        "sl", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(S)]))
    )
    b_side = assigned.withColumn("sl", F.pmod("vec_id", F.lit(S)).cast("bigint"))

    def _pairs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # emits ONE pre-aggregated row per (cluster, slice) task, not the
        # raw pair list: (a) the map-side combine a pair dump would need
        # anyway, and (b) every output column stays referenced downstream
        # — Spark 4's ColumnPruning, if it drops any FlatMapCoGroups
        # output column, prunes the self-cogroup's RIGHT child to its
        # grouping keys and the UDF crashes (DESIGN.md #26). n_dropped
        # sums across tasks WITHOUT double count: a given hi lives in
        # exactly one slice (sl = hi % S) of its cluster.
        empty = pd.DataFrame(
            {"cluster_id": pd.Series(dtype="int64"),
             "n_pairs": pd.Series(dtype="int64"),
             "n_drop": pd.Series(dtype="int64")}
        )
        if left.empty or right.empty:
            return empty
        A = np.vstack(left["q"].to_numpy()).astype(np.int64)
        B = np.vstack(right["q"].to_numpy()).astype(np.int64)
        D = A @ B.T                                # exact int64
        thresh = _SD_TAU2 * np.outer(
            left["n"].to_numpy().astype(np.float64),
            right["n"].to_numpy().astype(np.float64),
        )
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        ok = (D >= 0) & (D.astype(np.float64) ** 2 >= thresh) & (
            ids_a[:, None] < ids_b[None, :]
        )
        n_pairs = int(ok.sum())
        if not n_pairs:
            return empty
        return pd.DataFrame(
            {"cluster_id": [int(left["cluster_id"].iloc[0])],
             "n_pairs": [n_pairs],
             "n_drop": [int(ok.any(axis=0).sum())]}
        )

    pair_stats = (
        a_side.groupBy("cluster_id", "sl")
        .cogroup(b_side.groupBy("cluster_id", "sl"))
        .applyInPandas(_pairs, "cluster_id bigint, n_pairs bigint, n_drop bigint")
        .groupBy("cluster_id")
        .agg(
            F.sum("n_pairs").alias("n_dup_pairs"),
            F.sum("n_drop").alias("n_dropped"),
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return (
        sizes.join(pair_stats, "cluster_id", "left")
        .selectExpr(
            "cluster_id",
            "n_vecs",
            "coalesce(n_dup_pairs, 0L) AS n_dup_pairs",
            "coalesce(n_dropped, 0L) AS n_dropped",
        )
        .orderBy("cluster_id")
    )


QUERIES["sim_semdedup_clusters"] = sim_semdedup_clusters

ORACLES["sim_semdedup_clusters"] = """
    WITH q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT))
                   AS q
        FROM embeddings
    ),
    base AS (
        SELECT vec_id, q,
               CAST(list_dot_product(q, q) AS BIGINT) AS n
        FROM q
    ),
    cent AS (
        SELECT vec_id AS c_id, q AS qc, n AS nc FROM base WHERE vec_id < 8
    ),
    scored AS (
        SELECT b.vec_id, b.q, b.n, c.c_id,
               CASE WHEN list_dot_product(b.q, c.qc) >= 0 THEN
                   CAST(list_dot_product(b.q, c.qc) AS DOUBLE)
                   * CAST(list_dot_product(b.q, c.qc) AS DOUBLE) / c.nc
               ELSE
                   - CAST(list_dot_product(b.q, c.qc) AS DOUBLE)
                   * CAST(list_dot_product(b.q, c.qc) AS DOUBLE) / c.nc
               END AS score
        FROM base b CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, q, n, c_id AS cluster_id
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY score DESC, c_id ASC) AS rk
              FROM scored)
        WHERE rk = 1
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS lo, b.vec_id AS hi
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.q, b.q) >= 0
          AND CAST(list_dot_product(a.q, b.q) AS DOUBLE)
              * CAST(list_dot_product(a.q, b.q) AS DOUBLE)
              >= 0.9409 * CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)
    ),
    pair_stats AS (
        SELECT cluster_id, count(*) AS n_dup_pairs,
               count(DISTINCT hi) AS n_dropped
        FROM pairs GROUP BY cluster_id
    ),
    sizes AS (
        SELECT cluster_id, count(*) AS n_vecs FROM assigned GROUP BY cluster_id
    )
    SELECT s.cluster_id, s.n_vecs,
           coalesce(p.n_dup_pairs, 0) AS n_dup_pairs,
           coalesce(p.n_dropped, 0) AS n_dropped
    FROM sizes s LEFT JOIN pair_stats p ON s.cluster_id = p.cluster_id
    ORDER BY s.cluster_id
"""


# ---------------------------------------------------------------------------
# approximate kNN graph build (the graph-ANN index construction step)
# ---------------------------------------------------------------------------
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the in-cluster top-3 kNN edge list for EVERY vector — the
    construction step of graph-based ANN indexes (and of kNN-graph
    clustering), distinct from sim_knn_classify's few-query probe: here
    the whole corpus is both query and target. Candidates come from the
    SemDeDup cluster assignment (sim_semdedup_clusters' exact-integer
    argmax over the vec_id<8 seeds); each (cluster, slice) cogroup task
    scores its block with one integer matmul and emits only its local
    top-3 per query, so the global window ranks ≤ 3·S candidate rows
    per vector, never the full pair set.

    Cosines divide an exact-integer dot by sqrt of an exact-integer
    product — the same double expression in both engines; ranking
    tie-breaks on neighbor id. Output is the integer ppm edge list."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "transform(CAST(embedding AS ARRAY<DOUBLE>),"
        " x -> CAST(floor(x * 1000.0D + 0.5D) AS BIGINT)) AS q",
    ).withColumn("n", F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))

    cent = [
        (int(r["vec_id"]), list(r["q"]), int(r["n"]))
        for r in e.filter(F.col("vec_id") < _SD_K).collect()
    ]
    cent.sort()
    c_mat = np.array([c[1] for c in cent], dtype=np.int64)
    c_norm = np.array([c[2] for c in cent], dtype=np.int64)
    c_ids = np.array([c[0] for c in cent], dtype=np.int64)

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            D = A @ c_mat.T
            score = np.sign(D) * (D.astype(np.float64) ** 2) / c_norm
            j = np.argmax(score, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "q": pdf["q"],
                 "n": pdf["n"], "cluster_id": c_ids[j]}
            )

    assigned = e.mapInPandas(
        _assign,
        "vec_id bigint, q array<bigint>, n bigint, cluster_id bigint",
    )
    S = _SD_SLICES
    a_side = assigned.withColumn(
        "sl", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(S)]))
    )
    b_side = assigned.withColumn("sl", F.pmod("vec_id", F.lit(S)).cast("bigint"))

    def _topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"cluster_id": pd.Series(dtype="int64"),
             "src": pd.Series(dtype="int64"),
             "dst": pd.Series(dtype="int64"),
             "cos_ppm": pd.Series(dtype="int64")}
        )
        if left.empty or right.empty:
            return empty
        A = np.vstack(left["q"].to_numpy()).astype(np.int64)
        B = np.vstack(right["q"].to_numpy()).astype(np.int64)
        D = (A @ B.T).astype(np.float64)
        na = left["n"].to_numpy().astype(np.float64)
        nb = right["n"].to_numpy().astype(np.float64)
        cos = D / np.sqrt(na[:, None] * nb[None, :])
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        # rank in PPM units (the output grain), not raw cos: the global
        # window merges per-task candidates by (cos_ppm desc, dst asc),
        # so the local cut must use the identical order or a raw-cos
        # tie-at-ppm could drop the id the oracle keeps
        ppm_m = (np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5)).astype(
            np.int64
        )
        self_mask = ids_a[:, None] == ids_b[None, :]
        ppm_m[self_mask] = -(2 * 10**6)  # below any real cosine
        out = []
        k = min(3, ppm_m.shape[1])
        for i in range(ppm_m.shape[0]):
            row = ppm_m[i]
            order = np.lexsort((ids_b, -row))[:k]
            for j in order:
                if row[j] <= -(2 * 10**6):
                    continue
                out.append((int(left["cluster_id"].iloc[0]),
                            int(ids_a[i]), int(ids_b[j]), int(row[j])))
        if not out:
            return empty
        return pd.DataFrame(out, columns=["cluster_id", "src", "dst",
                                          "cos_ppm"])

    cands = (
        a_side.groupBy("cluster_id", "sl")
        .cogroup(b_side.groupBy("cluster_id", "sl"))
        .applyInPandas(
            _topk,
            "cluster_id bigint, src bigint, dst bigint, cos_ppm bigint",
        )
    )
    w = W.partitionBy("src").orderBy(F.desc("cos_ppm"), F.asc("dst"))
    return (
        cands.withColumn(
            "rank", F.row_number().over(w).cast("bigint")  # duck rn = i64
        )
        .filter(F.col("rank") <= 3)
        .select("cluster_id", "src", "rank", "dst", "cos_ppm")
        .orderBy("src", "rank")
    )


QUERIES["sim_knn_graph"] = sim_knn_graph

ORACLES["sim_knn_graph"] = """
    WITH q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT))
                   AS q
        FROM embeddings
    ),
    base AS (
        SELECT vec_id, q,
               CAST(list_dot_product(q, q) AS BIGINT) AS n
        FROM q
    ),
    cent AS (
        SELECT vec_id AS c_id, q AS qc, n AS nc FROM base WHERE vec_id < 8
    ),
    scored AS (
        SELECT b.vec_id, b.q, b.n, c.c_id,
               CASE WHEN list_dot_product(b.q, c.qc) >= 0 THEN
                   CAST(list_dot_product(b.q, c.qc) AS DOUBLE)
                   * CAST(list_dot_product(b.q, c.qc) AS DOUBLE) / c.nc
               ELSE
                   - CAST(list_dot_product(b.q, c.qc) AS DOUBLE)
                   * CAST(list_dot_product(b.q, c.qc) AS DOUBLE) / c.nc
               END AS score
        FROM base b CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, q, n, c_id AS cluster_id
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY score DESC, c_id ASC) AS rk
              FROM scored)
        WHERE rk = 1
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(a.q, b.q) AS DOUBLE)
               / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS cos
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT cluster_id, src, dst,
               CAST(CASE WHEN cos >= 0
                         THEN floor(cos * 1000000 + 0.5)
                         ELSE -floor(-cos * 1000000 + 0.5) END AS BIGINT)
                   AS cos_ppm,
               row_number() OVER (
                   PARTITION BY src
                   ORDER BY CAST(CASE WHEN cos >= 0
                            THEN floor(cos * 1000000 + 0.5)
                            ELSE -floor(-cos * 1000000 + 0.5) END AS BIGINT)
                            DESC, dst ASC) AS rank
        FROM pairs
    )
    SELECT cluster_id, src, rank, dst, cos_ppm
    FROM ranked WHERE rank <= 3
    ORDER BY src, rank
"""


# ---------------------------------------------------------------------------
# triplet hard-negative mining
# ---------------------------------------------------------------------------
def sim_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for metric learning (FaceNet, Schroff 2015):
    per anchor, the hardest positive = the SAME-label vector with the
    LOWEST cosine, the hardest negative = the DIFFERENT-label vector
    with the HIGHEST cosine; margin = pos − neg (negative margin means
    the triplet violates, i.e. is a useful training example). The fixed
    20-anchor query set broadcasts against the corpus — the same
    bounded-build-side shape as sim_topk_bruteforce (at production
    scale the candidate side comes from the IVF/LSH bucketed ANN paths,
    sim_ann_ivf); cosine is the registry-standard round(dot/(n·n), 6)."""
    e = _emb(spark, sf_dir)
    anchors = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("norm").alias("an"), F.col("label").alias("a_label"),
    )
    pairs = (
        F.broadcast(anchors)
        .join(e, F.col("vec_id") != F.col("a_id"))
        .withColumn("cos", F.round(_dot("av", "v") / (F.col("an") * F.col("norm")), 6))
    )
    wpos = W.partitionBy("a_id").orderBy(F.asc("cos"), F.asc("vec_id"))
    pos = (
        pairs.filter("label = a_label")
        .withColumn("rn", F.row_number().over(wpos))
        .filter("rn = 1")
        .select("a_id", F.col("vec_id").alias("pos_id"),
                F.col("cos").alias("cos_pos"))
    )
    wneg = W.partitionBy("a_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    neg = (
        pairs.filter("label != a_label")
        .withColumn("rn", F.row_number().over(wneg))
        .filter("rn = 1")
        .select("a_id", F.col("vec_id").alias("neg_id"),
                F.col("cos").alias("cos_neg"))
    )
    return (
        pos.join(neg, "a_id")
        .selectExpr("a_id", "pos_id", "cos_pos", "neg_id", "cos_neg",
                    "round(cos_pos - cos_neg, 6) AS margin6")
        .orderBy("a_id")
    )


QUERIES["sim_triplet_mining"] = sim_triplet_mining

ORACLES["sim_triplet_mining"] = f"""
    WITH {_EMB_DUCK},
    anchors AS (
        SELECT vec_id AS a_id, v AS av, norm AS an, label AS a_label
        FROM emb WHERE vec_id < 20
    ),
    pairs AS (
        SELECT a_id, a_label, e.vec_id, e.label,
               round(list_dot_product(av, e.v) / (an * e.norm), 6) AS cos
        FROM anchors JOIN emb e ON e.vec_id <> anchors.a_id
    ),
    pos AS (
        SELECT a_id, vec_id AS pos_id, cos AS cos_pos FROM (
            SELECT *, row_number() OVER (PARTITION BY a_id
                       ORDER BY cos ASC, vec_id ASC) AS rn
            FROM pairs WHERE label = a_label
        ) WHERE rn = 1
    ),
    neg AS (
        SELECT a_id, vec_id AS neg_id, cos AS cos_neg FROM (
            SELECT *, row_number() OVER (PARTITION BY a_id
                       ORDER BY cos DESC, vec_id ASC) AS rn
            FROM pairs WHERE label <> a_label
        ) WHERE rn = 1
    )
    SELECT a_id, pos_id, cos_pos, neg_id, cos_neg,
           round(cos_pos - cos_neg, 6) AS margin6
    FROM pos JOIN neg USING (a_id)
    ORDER BY a_id
"""


# ---------------------------------------------------------------------------
# class-separation diagnostics (within/between scatter)
# ---------------------------------------------------------------------------
def sim_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style class-separation audit of the embedding space: per
    label, within-class scatter Σ||v−μ_c||² and the centroid's distance
    to the global centroid — the diagnostic that tells you whether
    labels are learnable before training anything. Embeddings quantize
    to 1e6-scaled integers FIRST, so per-dimension sums are exact in
    both engines, and both scatters reduce to the closed forms
    (n·Σ|q|² − |Σq|²)/n² and Σ_dim(s_c/n_c − s_g/n_g)² evaluated as
    single double expressions from exact integer sums. One explode to
    (label, dim, q), two groupBys — linear, no pairwise anything."""
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D)"
        " AS BIGINT)) AS q",
    )
    dims = e.selectExpr(
        "label", "posexplode(q) AS (dim, qv)"
    )
    per_label_dim = dims.groupBy("label", "dim").agg(
        F.sum("qv").alias("s"),
        F.sum(F.expr("qv * qv")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    glob_dim = per_label_dim.groupBy("dim").agg(
        F.sum("s").alias("gs"), F.sum("n").alias("gn")
    )
    joined = per_label_dim.join(F.broadcast(glob_dim), "dim")
    return (
        joined.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            # within-scatter: Σ_dim (n·ss − s²)/n² — exact ints then one divide
            F.expr(
                "round(SUM((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 1e12, 6)"
            ).alias("within6"),
            # centroid-to-global distance²
            F.expr(
                "round(SUM((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                " - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))"
                " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                " - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) / 1e12, 6)"
            ).alias("between6"),
        )
        .orderBy("label")
    )


QUERIES["sim_class_separation"] = sim_class_separation

ORACLES["sim_class_separation"] = """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    dims AS (
        SELECT label,
               unnest(generate_series(1, len(qv))) AS dim1,
               qv
        FROM q
    ),
    flat AS (
        SELECT label, dim1 - 1 AS dim, qv[dim1] AS v FROM dims
    ),
    per_label_dim AS (
        SELECT label, dim, SUM(v) AS s, SUM(v * v) AS ss, COUNT(*) AS n
        FROM flat GROUP BY label, dim
    ),
    glob_dim AS (
        SELECT dim, SUM(s) AS gs, SUM(n) AS gn
        FROM per_label_dim GROUP BY dim
    )
    SELECT p.label, MAX(p.n) AS n_vecs,
           round(SUM((CAST(p.n AS DOUBLE) * CAST(p.ss AS DOUBLE)
                 - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE))
                 / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE))) / 1e12, 6)
               AS within6,
           round(SUM((CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
                 - CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE))
                 * (CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
                 - CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE))) / 1e12, 6)
               AS between6
    FROM per_label_dim p JOIN glob_dim g USING (dim)
    GROUP BY p.label
    ORDER BY p.label
"""


# ---------------------------------------------------------------------------
# multiprobe hyperplane LSH
# ---------------------------------------------------------------------------
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH (Lv et al. 2007): instead of more hash tables,
    each query ALSO probes the 8 buckets at Hamming distance 1 from its
    own (flip one hyperplane sign) — the buckets a near-boundary
    neighbor most likely fell into. 9 probes per query explode
    row-locally, then ONE equi-join on the bucket key; top-3 re-rank by
    exact cosine. The memory-free recall lever for bucketed ANN — same
    bucket function as sim_lsh_hyperplane, so recall gains are directly
    comparable."""
    e = _emb(spark, sf_dir).withColumn("bucket", F.expr(_bucket_expr_spark()))
    probes = ", ".join(
        ["bucket"] + [f"bucket ^ {1 << b}" for b in range(_N_PLANES)]
    )
    q = (
        e.filter(F.col("vec_id") < 20)
        .selectExpr("vec_id AS q_id", "v AS qv", "norm AS qn",
                    f"explode(array({probes})) AS probe")
    )
    # no distinct needed: the 9 probe values are pairwise distinct, so
    # each candidate's bucket matches at most one probe row
    cand = (
        q.join(e, q.probe == e.bucket)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "qv", "qn", "vec_id", "v", "norm")
        .withColumn(
            "cos", F.round(_dot("qv", "v") / (F.col("qn") * F.col("norm")), 6)
        )
    )
    wtop = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wtop))
        .filter("rank <= 3")
        .selectExpr("q_id", "vec_id AS neighbor_id",
                    "CAST(rank AS INT) AS rank", "cos")
        .orderBy("q_id", "rank")
    )


QUERIES["sim_ann_multiprobe"] = sim_ann_multiprobe

ORACLES["sim_ann_multiprobe"] = f"""
    WITH {_EMB_DUCK},
    bucketed AS (
        SELECT vec_id, v, norm, {_bucket_expr_duck()} AS bucket FROM emb
    ),
    q AS (
        SELECT vec_id AS q_id, v AS qv, norm AS qn,
               unnest([bucket{"".join(
                   f", xor(bucket, {1 << b})" for b in range(_N_PLANES))}])
                   AS probe
        FROM bucketed WHERE vec_id < 20
    ),
    cand AS (
        SELECT q.q_id, e.vec_id,
               round(list_dot_product(q.qv, e.v) / (q.qn * e.norm), 6) AS cos
        FROM q JOIN bucketed e ON e.bucket = q.probe
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, vec_id ASC) AS rank
        FROM cand
    ) WHERE rank <= 3
    ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# embedding-norm health audit
# ---------------------------------------------------------------------------
def sim_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health audit per label: norm distribution stats
    (mean, spread, extremes) plus the count of near-zero vectors —
    collapsed or dead embeddings are the first thing to check before
    any similarity search is trusted. Norms quantize to 1e6-scaled
    integers (sqrt of an exact integer sum-of-squares — libm-identical),
    so every aggregate is exact; the spread is the integer norm range
    rather than a float variance."""
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "label",
        "CAST(round(sqrt(aggregate(transform(embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D,"
        " (acc, x) -> acc + x)) * 1000000.0D) AS BIGINT) AS norm_u",
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm_u").alias("norm_min_u"),
            F.max("norm_u").alias("norm_max_u"),
            F.expr("SUM(norm_u) DIV COUNT(1)").alias("norm_mean_u"),
            F.sum(F.expr(
                "CASE WHEN norm_u < 100000 THEN 1 ELSE 0 END"
            )).alias("n_near_zero"),
        )
        .orderBy("label")
    )


QUERIES["sim_embedding_norm_audit"] = sim_embedding_norm_audit

ORACLES["sim_embedding_norm_audit"] = """
    WITH e AS (
        SELECT label,
               CAST(round(sqrt(list_sum(list_transform(
                   CAST(embedding AS DOUBLE[]), x -> x * x)))
                   * 1000000.0) AS BIGINT) AS norm_u
        FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(MIN(norm_u) AS BIGINT) AS norm_min_u,
           CAST(MAX(norm_u) AS BIGINT) AS norm_max_u,
           CAST(SUM(norm_u) // COUNT(*) AS BIGINT) AS norm_mean_u,
           CAST(SUM(CASE WHEN norm_u < 100000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_zero
    FROM e
    GROUP BY label
    ORDER BY label
"""


# ---------------------------------------------------------------------------
# matryoshka prefix-energy profile over the embedding column
# ---------------------------------------------------------------------------
def sim_dim_energy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each embedding's squared norm lives in its first
    k dimensions, for k ∈ {4, 8, 16, 32} — the audit behind matryoshka
    truncation: if p95 of prefix energy at k=16 is already ~1e6 ppm, the
    ANN index can store 16-dim prefixes at a quarter of the memory.

    Per (label, k): vector count and the mean / min / max of the
    prefix-energy fraction in ppm. Determinism (ADVICE r7): each
    dimension's square is quantized to MICRO-unit integers row-locally
    (one double multiply per element — identical IEEE op in both
    engines, and ≥0 so round-half behavior agrees), and every sum
    after that point is exact integer arithmetic — no reliance on
    either engine's list-fold or partial-agg summation ORDER anywhere
    (the sim_centroid_confusion house style).

    Scale shape: entirely row-local per vector (integer sums over a
    64-list, no explode of dimensions into rows), ONE groupBy on
    (label, k) — 4× the input rows via a literal-array explode,
    nothing else. At 100 TB this is a single scan + one narrow
    shuffle. Headroom: micro-unit squares bound e_full by dims·1e6,
    and energy·1e6 by dims·1e12 ≪ int64.
    """
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "label",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        " * CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sq_micro",
    ).selectExpr(
        "label",
        "sq_micro",
        "aggregate(sq_micro, CAST(0 AS BIGINT), (a, x) -> a + x)"
        " AS e_full_micro",
    )
    per_k = e.selectExpr(
        "label",
        "explode(array(4, 8, 16, 32)) AS k",
        "sq_micro",
        "e_full_micro",
    ).selectExpr(
        "label",
        "k",
        "aggregate(slice(sq_micro, 1, k), CAST(0 AS BIGINT),"
        " (a, x) -> a + x) * 1000000 DIV e_full_micro AS energy_ppm",
    )
    return (
        per_k.groupBy("label", "k")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("CAST(sum(energy_ppm) DIV count(*) AS BIGINT)").alias(
                "mean_energy_ppm"
            ),
            F.min("energy_ppm").alias("min_energy_ppm"),
            F.max("energy_ppm").alias("max_energy_ppm"),
        )
        .orderBy("label", "k")
    )


QUERIES["sim_dim_energy_profile"] = sim_dim_energy_profile

ORACLES["sim_dim_energy_profile"] = """
    WITH e AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        * 1000000) AS BIGINT)) AS sq_micro
        FROM embeddings
    ),
    e2 AS (
        SELECT label, sq_micro,
               CAST(list_sum(sq_micro) AS BIGINT) AS e_full_micro
        FROM e
    ),
    per_k AS (
        SELECT label, k,
               CAST(CAST(list_sum(list_slice(sq_micro, 1, k)) AS BIGINT)
                    * 1000000 // e_full_micro AS BIGINT) AS energy_ppm
        FROM e2, unnest([4, 8, 16, 32]) t(k)
    )
    SELECT label, k,
           COUNT(*) AS n_vecs,
           CAST(SUM(energy_ppm) // COUNT(*) AS BIGINT) AS mean_energy_ppm,
           MIN(energy_ppm) AS min_energy_ppm,
           MAX(energy_ppm) AS max_energy_ppm
    FROM per_k
    GROUP BY label, k
    ORDER BY label, k
"""


# ---------------------------------------------------------------------------
# label-centroid confusion matrix
# ---------------------------------------------------------------------------
def sim_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids — the confusion-proximity
    audit behind sim_class_separation: label pairs whose centroids sit
    near cosine 1 are the ones a classifier (or a semantic-dedup pass
    keyed on labels) will mix up.

    Elements quantize to micro-units ROW-LOCALLY (round(x·1e6) per
    dimension) before any cross-row sum, so the per-dimension centroid
    sums are exact integers regardless of partial-aggregation order;
    the final cosine is one row-local float expression over exact
    integer dot/norm products.

    Scale shape: one groupBy((label, dim)) over the posexploded
    vectors — labels×64 output rows — then metadata-scale pair joins
    (C(labels,2) × 64). At 100 TB the wide shuffle carries (label,
    dim, partial-sum) only.
    """
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "label", "posexplode(embedding) AS (i, x)"
    ).selectExpr(
        "label",
        "i",
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm",
    )
    cd = e.groupBy("label", "i").agg(
        F.expr("CAST(SUM(xm) DIV COUNT(*) AS BIGINT)").alias("c")
    )
    a = cd.toDF("label_a", "i", "ca")
    b = cd.toDF("label_b", "i", "cb")
    return (
        a.join(b, "i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.expr("ca * cb")).alias("dot"),
            F.sum(F.expr("ca * ca")).alias("na"),
            F.sum(F.expr("cb * cb")).alias("nb"),
        )
        .selectExpr(
            "label_a",
            "label_b",
            "CAST(round(1000000 * dot / sqrt(CAST(na AS DOUBLE)"
            " * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_ppm",
        )
        .orderBy("label_a", "label_b")
    )


QUERIES["sim_centroid_confusion"] = sim_centroid_confusion

ORACLES["sim_centroid_confusion"] = """
    WITH e AS (
        SELECT label, i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                   AS xm
        FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
    ),
    cd AS (
        SELECT label, i, CAST(SUM(xm) // COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY label, i
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(round(1000000 * SUM(a.c * b.c)
                / sqrt(CAST(SUM(a.c * a.c) AS DOUBLE)
                       * CAST(SUM(b.c * b.c) AS DOUBLE))) AS BIGINT)
               AS cos_ppm
    FROM cd a JOIN cd b ON a.i = b.i AND a.label < b.label
    GROUP BY a.label, b.label
    ORDER BY label_a, label_b
"""
