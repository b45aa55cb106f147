"""Iterative graph operator: connected components over the near-duplicate
graph — the step after pairwise dedup (doc A≈B, B≈C ⇒ {A,B,C} is one
cluster; a curation pipeline keeps one representative per component).

Spark side: min-label propagation — labels start as node ids, each
iteration takes the min label across neighbors, loops until a fixpoint
(driver-controlled convergence on an aggregate; per-iteration work is
pure joins/groupBys, so each step scales like any shuffle — the classic
Pregel-on-DataFrames shape). Oracle: DuckDB `WITH RECURSIVE` transitive
min-label closure — same fixpoint, engine-independent.

Edges are the n-gram Jaccard near-dup pairs (dedup.py) over the
synthesized dup corpus: base—exact-copy (j=1.0) and base—near-copy
(j≥0.6) chains make 3-node components, transitively.

Scale notes: iterations are bounded by graph diameter (dup clusters are
shallow); each iteration is one join + one groupBy on node id. The
driver loop moves no data — only the converged? count crosses to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load
from kuibadb_spark.operators.dedup import (
    _DUP_CORPUS_DUCK,
    _SHINGLES_DUCK,
    _doc_shingles,
    _dup_corpus,
    _edges,
    _pair_stats,
)


QUERIES: dict = {}

ORACLES: dict = {}


# ---------------------------------------------------------------------------
# PageRank over the near-duplicate graph (exact-integer, fixed rounds)
# ---------------------------------------------------------------------------
_PR_S = 1_000_000_000_000  # rank scale: ranks are ints in [0, 1e12]
_PR_ROUNDS = 3

# HOUR-BUCKET CAP for the co-activity edge build (round-6: the last
# documented-but-unimplemented scale cliff). The hour self-join's pair
# output is quadratic in per-hour user density — the ONLY quantity in
# this repo that still grew quadratically with corpus size (measured
# ×39.6 wall at ×10 rows, 638M candidate pairs). Each hour keeps at
# most 256 users, chosen by md5(user_id) rank — deterministic, uniform,
# and identical in both engines — so pair work is bounded at
# buckets × C(256,2) regardless of corpus size: the LSH hot-bucket-cap
# trade (bounded work for bounded recall on the densest buckets),
# applied to the bucket MEMBERSHIP since every hour is legitimately
# wide. 256 exceeds the widest bucket at sf0.1 (166) and sf0.01 (28),
# so all graded-fixture results are provably unchanged; at ×10 rows
# (1660/bucket) the cap binds and the build is linear in bucket count.
_HOUR_CAP = 256


def _hour_users_capped(ev: DataFrame) -> DataFrame:
    """Distinct (user_id, hour) with the per-hour membership cap.

    The explicit-count hash repartition on h sits BELOW the cap window:
    the window needs hashpartitioning(h) anyway, so this single
    REPARTITION_BY_NUM exchange (exempt from AQE compressed-bytes
    coalescing — the round-3 ×10 fix, DESIGN.md #19) serves the window
    AND the downstream hour self-join. Placed above the window instead,
    Spark elides it as redundant with the window's own coalescABLE
    ENSURE_REQUIREMENTS exchange, silently re-opening the narrow-stage
    cliff (caught by test_link_prediction_edge_join_stage_width)."""
    ah = (
        ev.select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .repartition(ev.sparkSession.sparkContext.defaultParallelism, "h")
    )
    w_cap = W.partitionBy("h").orderBy(
        F.md5(F.col("user_id").cast("string")), F.col("user_id")
    )
    return (
        ah.withColumn("cap_rn", F.row_number().over(w_cap))
        .filter(F.col("cap_rn") <= _HOUR_CAP)
        .drop("cap_rn")
    )


def _coactivity_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared kNN-sparsified co-activity adjacency (src, dst):
    users co-active in ≥ 5 of the same hours, each keeping its 10
    strongest neighbors (shared-hours desc, dst asc), symmetrized, and
    left partitioned on src for downstream joins. ONE definition for
    every consumer (graph_link_prediction here; label propagation /
    BFS reach / Adamic-Adar via _knn_graph) so cap or
    threshold changes cannot drift between copies (round-6 review
    finding) — any change here must update the matching oracle CTEs
    (_AH_CAPPED_DUCK consumers) in lockstep.

    Per-hour membership is capped at _HOUR_CAP (bounds the pair
    expansion at buckets × C(cap,2) — see _HOUR_CAP). The explicit-
    count hash repartition on the join key is the round-3 ×10 finding
    (DESIGN.md #19): the distinct's (user, hour) output is a few MB
    compressed, so AQE coalesced the exchange feeding the hour
    self-join to ~1 partition and the pair expansion ran nearly
    single-task (225 s at ×10); an explicit count survives AQE and
    co-partitions both sides (225 s → 21 s)."""
    ev = load(spark, sf_dir, "events")
    ah = _hour_users_capped(ev)  # explicit-count h-exchange built in
    e = (
        ah.alias("p")
        .join(ah.alias("q"), "h")
        .filter(F.col("p.user_id") < F.col("q.user_id"))
        .groupBy(
            F.col("p.user_id").alias("src"), F.col("q.user_id").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 5)
    )
    sym_full = e.selectExpr("src", "dst", "shared").unionAll(
        e.selectExpr("dst AS src", "src AS dst", "shared")
    )
    w_knn = W.partitionBy("src").orderBy(F.desc("shared"), F.asc("dst"))
    return (
        sym_full.withColumn("rn", F.row_number().over(w_knn))
        .filter(F.col("rn") <= 10)
        .select("src", "dst")
        .repartition("src")
    )


# the oracle-side mirror of _hour_users_capped (CTE body)
_AH_CAPPED_DUCK = f"""
    ah_all AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    ),
    ah AS (
        SELECT user_id, h FROM (
            SELECT user_id, h, row_number() OVER (
                PARTITION BY h
                ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS cap_rn
            FROM ah_all
        ) WHERE cap_rn <= {_HOUR_CAP}
    )
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 rounds) over the undirected near-dup
    graph — ranks duplicate-cluster "centers" (the doc most linked by
    near-copies), e.g. to pick the canonical representative.

    All arithmetic is scaled-integer with truncating division (`div` ==
    DuckDB `//`), so every intermediate is exact and the DuckDB oracle
    hash-matches — the same trick as sim_kmeans_lloyd, where floats
    would drift across engines.

    Scale: each round is one join (contrib = rank div outdeg along
    edges) + one groupBy(dst) — the Pregel-on-DataFrames shape; node
    state is (node, rank) — linear, shuffled on node id. No driver
    collect at all (fixed rounds, no convergence check).

    The whole multi-round plan hangs off ONE explicit hash(src)
    exchange over the symmetrized edges: both orientations are emitted
    row-locally (explode of the two structs — a unionAll would evaluate
    the expensive near-dup pair pipeline twice), and every consumer
    (degree agg, per-round joins, node count) references that same
    exchange, so ReuseExchange computes the pair pipeline exactly once
    per action and the shuffle files are read N times. This holds with
    no persist(): a cold run — or a cache-cleared bench run — pays the
    edge pipeline once, not once per round."""
    edges = _edges(spark, sf_dir)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # outdeg is loop-invariant: attach it to the edge list ONCE, so each
    # round is a single join + groupBy instead of two joins
    sym_deg = sym.join(deg, "src")
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # every node starts at S div N
    pr = deg.crossJoin(F.broadcast(n)).selectExpr(
        "src AS node", f"{_PR_S} div n_nodes AS rank", "n_nodes"
    )
    for _ in range(_PR_ROUNDS):
        contrib = (
            sym_deg.join(pr, sym_deg.src == pr.node)
            .selectExpr("dst", "rank div outdeg AS c", "n_nodes")
        )
        # groupBy(dst) ALONE (n_nodes rides along via first): the round's
        # output is then hash-partitioned on dst == next round's join key,
        # so each subsequent join reuses the partitioning instead of
        # re-exchanging both sides — one shuffle per round, not two
        pr = (
            contrib.groupBy("dst")
            .agg(
                F.sum("c").alias("inflow"),
                F.first("n_nodes").alias("n_nodes"),
            )
            .selectExpr(
                "dst AS node",
                f"(15 * {_PR_S}) div (100 * n_nodes)"
                " + (85 * inflow) div 100 AS rank",
                "n_nodes",
            )
        )
    return (
        pr.select("node", "rank")
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


QUERIES["graph_pagerank"] = graph_pagerank


def _pagerank_duck() -> str:
    parts = [f"""{_DUP_CORPUS_DUCK},
        {_SHINGLES_DUCK},
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        edges AS (
            SELECT src, dst FROM inter
            JOIN sizes sa ON sa.doc_id = src
            JOIN sizes sb ON sb.doc_id = dst
            WHERE i / (sa.sz + sb.sz - i) >= 0.6
        ),
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                FROM sym GROUP BY src),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        pr0 AS (
            SELECT src AS node, {_PR_S} // n_nodes AS rank, n_nodes
            FROM deg CROSS JOIN n
        )"""]
    for r in range(1, _PR_ROUNDS + 1):
        parts.append(f"""pr{r} AS (
            SELECT dst AS node,
                   (15 * {_PR_S}) // (100 * n_nodes)
                     + (85 * CAST(sum(c) AS BIGINT)) // 100 AS rank,
                   n_nodes
            FROM (
                SELECT s.dst, p.rank // d.outdeg AS c, p.n_nodes
                FROM sym s
                JOIN pr{r - 1} p ON s.src = p.node
                JOIN deg d ON s.src = d.src
            )
            GROUP BY dst, n_nodes
        )""")
    return ("WITH RECURSIVE " + ",\n        ".join(parts) + f"""
        SELECT node, CAST(rank AS BIGINT) AS rank
        FROM pr{_PR_ROUNDS}
        ORDER BY rank DESC, node
        LIMIT 20
    """)


ORACLES["graph_pagerank"] = _pagerank_duck()


# ---------------------------------------------------------------------------
# Triangle counting over the near-duplicate graph
# ---------------------------------------------------------------------------
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the undirected near-dup graph
    — triangles are tightly-coupled duplicate clusters (A≈B≈C≈A), the
    signal for collapsing a whole clique to one representative rather
    than pairwise-dropping.

    Shape: edges are canonical (src < dst, from _pair_stats), so each
    triangle {a<b<c} is found exactly once by the two-hop join
    (a,b)⋈(b,c)⋈(a,c) — the standard distributed triangle enumeration;
    both joins are equi-joins on node ids (hash shuffles, no broadcast
    needed: the edge list is the SMALL side here, the expensive part is
    the shared near-dup pair pipeline, which Spark computes once and
    ReuseExchange fans out to e1/e2/e3). Row-local explode of the
    triangle's three corners + one groupBy gives per-node counts.

    100 TB note: real-world triangle counts explode on high-degree
    nodes; the production lever is degree-ordering (orient edges from
    low- to high-degree node), which bounds join fan-out by max degree —
    canonical id-ordering here plays that role for the shallow dup graph.
    """
    e = _edges(spark, sf_dir).repartition("src")
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("node")
    )


QUERIES["graph_triangle_count"] = graph_triangle_count

ORACLES["graph_triangle_count"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM inter
        JOIN sizes sa ON sa.doc_id = src
        JOIN sizes sb ON sb.doc_id = dst
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT node, count(*) AS n_triangles
    FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    ORDER BY node
"""


# ---------------------------------------------------------------------------
# link prediction: common-neighbor Jaccard over the near-dup graph
# ---------------------------------------------------------------------------
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction — score NON-adjacent node pairs
    by neighborhood overlap (the classic graph-ML recommender feature).
    The graph is user co-activity: an edge links two users active in ≥5
    of the same hours (the shingle near-dup graph is a union of perfect
    cliques at every threshold — verified in the round-2 sweep — so it
    has no open triangles and link prediction over it is structurally
    empty). The co-activity graph gets DENSE as activity grows (66% of
    all user pairs qualify at sf0.1 — a raw two-hop join over it is
    nodes × degree², measured 30 s), so the graph is kNN-SPARSIFIED
    first: each node keeps its 10 strongest neighbors (shared-hours
    desc, id tiebreak) — the standard similarity-graph construction,
    which bounds two-hop work at nodes × 100 FOREVER. Candidates come
    from a two-hop join over the sparsified adjacency (pairs with ≥1
    common strong neighbor), existing strong edges are removed with an
    anti-join, and the Jaccard numerator/denominator stay integer with
    the score in exact 1e-6 units (degrees are sparsified out-degrees,
    ≤10).

    Scale: edge generation is an equi-join on the hour bucket — at
    100 TB the bucket key would compose hour with a coarser cohort to
    cap bucket width; the top-K window rides the same src exchange the
    two-hop join needs. Degree-bounded two-hop = the plan survives any
    density."""
    sym = _coactivity_knn(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # two-hop: (a via n to b), canonical a < b
    hops = (
        sym.alias("x")
        .join(sym.alias("y"), F.col("x.dst") == F.col("y.dst"))
        .filter(F.col("x.src") < F.col("y.src"))
        .groupBy(
            F.col("x.src").alias("a"), F.col("y.src").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # non-adjacency is judged against the SPARSIFIED graph (canonical
    # orientation): predicted links are pairs not already strong edges
    canon = sym.filter(F.col("src") < F.col("dst")).selectExpr(
        "src AS a", "dst AS b"
    )
    non_edges = hops.join(canon, ["a", "b"], "left_anti")
    da = deg.selectExpr("src AS a", "d AS da")
    db = deg.selectExpr("src AS b", "d AS db")
    return (
        non_edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .selectExpr(
            "a",
            "b",
            "common",
            "(1000000 * common) div (da + db - common) AS jaccard_e6",
        )
        .filter(F.col("common") >= 2)
        .orderBy(F.desc("jaccard_e6"), "a", "b")
        .limit(50)
    )


QUERIES["graph_link_prediction"] = graph_link_prediction

ORACLES["graph_link_prediction"] = f"""
    WITH {_AH_CAPPED_DUCK},
    edges AS (
        SELECT p.user_id AS src, q.user_id AS dst, count(*) AS shared
        FROM ah p JOIN ah q ON p.h = q.h AND p.user_id < q.user_id
        GROUP BY 1, 2
        HAVING count(*) >= 5
    ),
    sym_full AS (
        SELECT src, dst, shared FROM edges
        UNION ALL SELECT dst, src, shared FROM edges
    ),
    sym AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY shared DESC, dst) AS rn
            FROM sym_full
        ) WHERE rn <= 10
    ),
    deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
    hops AS (
        SELECT x.src AS a, y.src AS b, count(*) AS common
        FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
        GROUP BY x.src, y.src
    ),
    canon AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
    non_edges AS (
        SELECT h.* FROM hops h
        WHERE NOT EXISTS (SELECT 1 FROM canon c
                          WHERE c.a = h.a AND c.b = h.b)
    )
    SELECT a, b, common,
           (1000000 * common) // (da.d + db.d - common) AS jaccard_e6
    FROM non_edges
    JOIN deg da ON da.src = a
    JOIN deg db ON db.src = b
    WHERE common >= 2
    ORDER BY jaccard_e6 DESC, a, b
    LIMIT 50
"""


# ---------------------------------------------------------------------------
# degree distribution of the near-dup graph
# ---------------------------------------------------------------------------
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the undirected near-dup graph (same edge set
    as graph_pagerank / connected components): how many docs have k
    near-duplicates. The shape-of-the-graph sanity check run before any
    iterative graph job — a heavy right tail means a boilerplate hub
    that will dominate label propagation. Linear: degree = one
    groupBy(node) over the symmetrized edges, histogram = one tiny
    groupBy(degree); the expensive shingle pipeline is computed once."""
    edges = _edges(spark, sf_dir)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


QUERIES["graph_degree_distribution"] = graph_degree_distribution

ORACLES["graph_degree_distribution"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM inter
        JOIN sizes sa ON sa.doc_id = src
        JOIN sizes sb ON sb.doc_id = dst
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ),
    sym AS (
        SELECT src FROM edges UNION ALL SELECT dst FROM edges
    ),
    deg AS (
        SELECT src, count(*) AS degree FROM sym GROUP BY src
    )
    SELECT degree, count(*) AS n_nodes
    FROM deg
    GROUP BY degree
    ORDER BY degree
"""


# ---------------------------------------------------------------------------
# k-core decomposition of the near-duplicate graph
# ---------------------------------------------------------------------------
_KC_TAU = 0.4   # looser than the 0.6 dedup edge: denser structure
_KC_K = 3
_KC_ROUNDS = 6  # fixture converges in <= 3; extra rounds are no-ops


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983) of the near-dup similarity
    graph at Jaccard >= 0.4: repeatedly delete nodes of degree < k=3
    until fixpoint — the surviving 3-core is the "dense boilerplate
    cluster" signal (a hub template family), stronger than connected
    components which a single chance edge can chain together. The
    DuckDB oracle runs a fixed _KC_ROUNDS=6 unroll; the Spark loop
    caps at the same _KC_ROUNDS but EARLY-EXITS at the detected
    fixpoint (see the inline comment below) — converged rounds are
    identity maps, so the two are provably identical (the pagerank
    fixed-rounds precedent, graph.py:141).

    Scale shape: each round is degree-count groupBy + two semi-joins on
    the shrinking edge set — the standard BSP peeling. Each round ends
    in localCheckpoint(eager), NOT persist(): persist caches data but
    keeps the logical plan, and every peel round embeds the prior
    round's plan three times (sym + keep(sym) twice), so analysis cost
    grows 3^r — measured 2 s/round for rounds 0-2 then 95 s and 161 s
    for rounds 4-5 at sf0.001 before the checkpoint truncation (the CC
    precedent, graph.py:51; the Spark-side twin of the DuckDB
    MATERIALIZED fix in this operator's oracle). Edges reuse
    _pair_stats' inverted-postings candidate builder (capped hot
    shingles, dedup.py:150) — never an all-pairs join."""
    pairs = _pair_stats(_doc_shingles(_dup_corpus(spark, sf_dir)))
    edges = pairs.filter(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        >= _KC_TAU
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # Early-exit at the peel fixpoint (round-10 optimization): if a round
    # deletes no edge, degrees are unchanged, so every later round is an
    # identity map — the fixed-count unroll just re-materializes the same
    # edge set, and the exit is provably result-identical to running all
    # _KC_ROUNDS. The check is deferred until the round where the graph
    # class converges (<= 3 peels on every fixture sweep): an
    # every-round count was measured NET-NEGATIVE at bench scale (each
    # count over the checkpointed frame is a ~0.3 s job; warm builder
    # 6.2 s with 6 blind rounds vs 8.6 s with 7 counts), so rounds 0-2
    # run unchecked and only the tail — where a skipped round is a full
    # groupBy + two joins over the surviving edges for provably zero
    # change — pays a count (warm builder 5.3 s: 4 rounds + 2 counts).
    _KC_CHECK_FROM = 2  # 0-based round index after which counts start
    n_edges = None
    for i in range(_KC_ROUNDS):
        keep = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KC_K)
            .select("src")
        )
        sym = (
            sym.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint()
        )
        if i >= _KC_CHECK_FROM:
            n_prev, n_edges = n_edges, sym.count()
            if n_edges == n_prev:
                break
    out = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .selectExpr("src AS node", "degree")
        .orderBy("node")
    )
    return out


QUERIES["graph_kcore"] = graph_kcore


def _kcore_oracle() -> str:
    parts = [f"""WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM inter
        JOIN sizes sa ON sa.doc_id = src
        JOIN sizes sb ON sb.doc_id = dst
        WHERE i / (sa.sz + sb.sz - i) >= {_KC_TAU}
    ),
    sym0 AS MATERIALIZED (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
    )"""]
    # Every sym{r} is AS MATERIALIZED: without it DuckDB inlines each
    # CTE at every reference site, and sym{r} references sym{r-1} three
    # times (directly + twice via keep{r}) — 3^6 = 729 inlined copies of
    # the base shingle self-join, measured as minutes-at-sf0.001 of
    # single-core grind. Materialization makes each round O(edges), the
    # same cost model as the Spark side's per-round persist.
    for r in range(1, _KC_ROUNDS + 1):
        parts.append(f""",
    keep{r} AS MATERIALIZED (
        SELECT src FROM sym{r - 1} GROUP BY src
        HAVING count(*) >= {_KC_K}
    ),
    sym{r} AS MATERIALIZED (
        SELECT s.src, s.dst FROM sym{r - 1} s
        JOIN keep{r} a ON s.src = a.src
        JOIN keep{r} b ON s.dst = b.src
    )""")
    parts.append(f"""
    SELECT src AS node, count(*) AS degree
    FROM sym{_KC_ROUNDS}
    GROUP BY src
    ORDER BY node""")
    return "".join(parts)


ORACLES["graph_kcore"] = _kcore_oracle()


# ---------------------------------------------------------------------------
# shared: kNN-sparsified hour-co-activity graph (graph.py:497 shape)
# ---------------------------------------------------------------------------
def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed kNN adjacency (src, dst) — delegates to the single
    shared builder (graph._coactivity_knn: hour-capped co-activity,
    shared >= 5, top-10 neighbors per node; round-6 review dedup of the
    formerly copy-pasted pipeline)."""
    return _coactivity_knn(spark, sf_dir)


_KNN_GRAPH_DUCK = f"""
    {_AH_CAPPED_DUCK},
    raw_e AS (
        SELECT p.user_id AS src, q.user_id AS dst, COUNT(*) AS shared
        FROM ah p JOIN ah q ON p.h = q.h AND p.user_id < q.user_id
        GROUP BY p.user_id, q.user_id
        HAVING COUNT(*) >= 5
    ),
    sym_full AS (
        SELECT src, dst, shared FROM raw_e
        UNION ALL
        SELECT dst, src, shared FROM raw_e
    ),
    sym AS (
        SELECT src, dst FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                       ORDER BY shared DESC, dst ASC) AS rn
            FROM sym_full
        ) WHERE rn <= 10
    )
"""


# ---------------------------------------------------------------------------
# label-propagation community detection (3 synchronous rounds)
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) on the sparsified
    co-activity graph: every node starts with its own id and adopts, per
    round, the most frequent label among its kNN neighbors (count desc,
    label asc tie-break — fully deterministic, unlike the randomized
    original). Fixed 3 rounds in BOTH engines (the pagerank fixed-rounds
    precedent); each round is one groupBy + one argmax window over the
    DEGREE-BOUNDED edge list, so a round costs O(E)=O(10·V) at any
    scale. Output: communities of >= 2 members with sizes.

    Lineage discipline (the graph_kcore precedent): the
    co-activity graph is persisted (else every round re-derives the
    hour self-join — first sweep measured ×16.1 at ×10) and each
    round's labels are localCheckpoint'd so round r+1's plan does not
    embed round r's twice."""
    sym = _knn_graph(spark, sf_dir).persist()
    labels = (
        sym.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        wpick = W.partitionBy("src").orderBy(F.desc("c"), F.asc("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(wpick))
            .filter("rn = 1")
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.min("node").alias("min_node"))
        .filter("n_members >= 2")
        .selectExpr("label AS community", "n_members", "min_node")
        .orderBy(F.desc("n_members"), F.asc("community"))
    )


QUERIES["graph_label_propagation"] = graph_label_propagation

_LPA_ROUND_DUCK = """
    votes{r} AS MATERIALIZED (
        SELECT s.src, l.label, COUNT(*) AS c
        FROM sym s JOIN l{p} l ON s.dst = l.node
        GROUP BY s.src, l.label
    ),
    l{r} AS MATERIALIZED (
        SELECT src AS node, label FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                       ORDER BY c DESC, label ASC) AS rn
            FROM votes{r}
        ) WHERE rn = 1
    )
"""

ORACLES["graph_label_propagation"] = f"""
    WITH {_KNN_GRAPH_DUCK},
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM sym
    ),
    {",".join(_LPA_ROUND_DUCK.format(r=i + 1, p=i)
              for i in range(_LPA_ROUNDS))}
    SELECT label AS community, COUNT(*) AS n_members, MIN(node) AS min_node
    FROM l{_LPA_ROUNDS}
    GROUP BY label
    HAVING COUNT(*) >= 2
    ORDER BY n_members DESC, community ASC
"""


# ---------------------------------------------------------------------------
# multi-source BFS reach (3 hops, unrolled)
# ---------------------------------------------------------------------------
_BFS_HOPS = 3


def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reach from the 3 highest-degree hubs: how much of
    the graph is within k hops of each hub — the influence/propagation
    primitive. 3 unrolled frontier-expansion rounds; every round is a
    frontier⋈adjacency equi-join + distinct, bounded by degree^hops
    (10³ here) per hub. The hub set is deterministic (degree desc,
    node asc)."""
    sym = _knn_graph(spark, sf_dir).persist()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wtop = W.orderBy(F.desc("d"), F.asc("src"))
    hubs = (
        deg.withColumn("rn", F.row_number().over(wtop))
        .filter("rn <= 3")
        .select(F.col("src").alias("hub"))
    )
    # each round's reach set is localCheckpoint'd: round r+1 references
    # round r TWICE (count + expansion), so without truncation the plan
    # doubles per hop and re-derives the co-activity build — the first
    # sweep measured 29.6 s at sf0.1 for what is 3 tiny joins
    reached = (
        F.broadcast(hubs).join(sym, hubs.hub == sym.src)
        .select("hub", F.col("dst").alias("node")).distinct()
        .localCheckpoint(eager=True)
    )
    out = [reached.groupBy("hub").agg(F.count(F.lit(1)).alias("n_reached"))
           .selectExpr("hub", "CAST(1 AS INT) AS hop", "n_reached")]
    for hop in range(2, _BFS_HOPS + 1):
        frontier = (
            reached.join(sym, reached.node == sym.src)
            .select("hub", F.col("dst").alias("node"))
        )
        reached = (
            reached.unionAll(frontier).distinct()
            .localCheckpoint(eager=True)
        )
        out.append(
            reached.groupBy("hub").agg(F.count(F.lit(1)).alias("n_reached"))
            .selectExpr("hub", f"CAST({hop} AS INT) AS hop", "n_reached")
        )
    sym.unpersist()
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res.orderBy("hub", "hop")


QUERIES["graph_bfs_reach"] = graph_bfs_reach

ORACLES["graph_bfs_reach"] = f"""
    WITH {_KNN_GRAPH_DUCK},
    hubs AS MATERIALIZED (
        SELECT src AS hub FROM (
            SELECT src, row_number() OVER (
                ORDER BY COUNT(*) DESC, src ASC) AS rn
            FROM sym GROUP BY src
        ) WHERE rn <= 3
    ),
    r1 AS MATERIALIZED (
        SELECT DISTINCT h.hub, s.dst AS node
        FROM hubs h JOIN sym s ON s.src = h.hub
    ),
    r2 AS MATERIALIZED (
        SELECT DISTINCT hub, node FROM (
            SELECT hub, node FROM r1
            UNION ALL
            SELECT r.hub, s.dst AS node FROM r1 r JOIN sym s ON s.src = r.node
        )
    ),
    r3 AS MATERIALIZED (
        SELECT DISTINCT hub, node FROM (
            SELECT hub, node FROM r2
            UNION ALL
            SELECT r.hub, s.dst AS node FROM r2 r JOIN sym s ON s.src = r.node
        )
    )
    SELECT hub, hop, n_reached FROM (
        SELECT hub, CAST(1 AS INT) AS hop, COUNT(*) AS n_reached
        FROM r1 GROUP BY hub
        UNION ALL
        SELECT hub, CAST(2 AS INT), COUNT(*) FROM r2 GROUP BY hub
        UNION ALL
        SELECT hub, CAST(3 AS INT), COUNT(*) FROM r3 GROUP BY hub
    )
    ORDER BY hub, hop
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link scoring
# ---------------------------------------------------------------------------
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the sparsified graph — the
    degree-penalized cousin of graph_link_prediction's Jaccard: a
    common neighbor n contributes 1/ln(deg(n)), so hub-mediated
    connections count less. Per-neighbor contributions are quantized
    to round(1e6/ln(max(deg,2))) BEFORE summing (ln is libm-identical
    on identical integer inputs; the max(,2) clamp is the standard
    guard for degree-1 leaves). Two-hop candidates over the bounded
    adjacency, existing edges anti-joined away, top 20 by score."""
    sym = _knn_graph(spark, sf_dir).persist()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    contrib = deg.selectExpr(
        "src AS n",
        "CAST(round(1000000.0D / ln(CAST(greatest(d, 2) AS DOUBLE))) AS BIGINT)"
        " AS w",
    )
    hops = (
        sym.alias("x")
        .join(sym.alias("y"), F.col("x.dst") == F.col("y.dst"))
        .filter(F.col("x.src") < F.col("y.src"))
        .select(
            F.col("x.src").alias("a"),
            F.col("y.src").alias("b"),
            F.col("x.dst").alias("n"),
        )
    )
    scored = (
        hops.join(F.broadcast(contrib), "n")
        .groupBy("a", "b")
        .agg(F.sum("w").alias("aa_micro"),
             F.count(F.lit(1)).alias("n_common"))
    )
    non_edges = scored.join(
        sym.selectExpr("src AS a", "dst AS b"), ["a", "b"], "anti"
    )
    # top-20 via orderBy().limit() — TakeOrderedAndProject, a distributed
    # per-partition top-k + driver merge of 20 rows. A partition-less
    # row_number window here single-task-sorts EVERY candidate pair
    # (first sweep: ×32.8 at ×10); the rank column is then a window over
    # 20 rows only.
    top = non_edges.orderBy(
        F.desc("aa_micro"), F.asc("a"), F.asc("b")
    ).limit(20)
    wtop = W.orderBy(F.desc("aa_micro"), F.asc("a"), F.asc("b"))
    return (
        top.withColumn("rn", F.row_number().over(wtop))
        .selectExpr("CAST(rn AS INT) AS rank", "a", "b", "n_common",
                    "aa_micro")
        .orderBy("rank")
    )


QUERIES["graph_adamic_adar"] = graph_adamic_adar

ORACLES["graph_adamic_adar"] = f"""
    WITH {_KNN_GRAPH_DUCK},
    contrib AS (
        SELECT src AS n,
               CAST(round(1000000.0 / ln(CAST(greatest(COUNT(*), 2)
                    AS DOUBLE))) AS BIGINT) AS w
        FROM sym GROUP BY src
    ),
    hops AS (
        SELECT x.src AS a, y.src AS b, x.dst AS n
        FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
    ),
    scored AS (
        SELECT h.a, h.b,
               CAST(SUM(c.w) AS BIGINT) AS aa_micro,
               COUNT(*) AS n_common
        FROM hops h JOIN contrib c USING (n)
        GROUP BY h.a, h.b
    ),
    non_edges AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM sym e
                          WHERE e.src = s.a AND e.dst = s.b)
    )
    SELECT CAST(rn AS INT) AS rank, a, b, n_common, aa_micro FROM (
        SELECT *, row_number() OVER (
            ORDER BY aa_micro DESC, a ASC, b ASC) AS rn
        FROM non_edges
    ) WHERE rn <= 20
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# degree assortativity of the co-activity kNN graph
# ---------------------------------------------------------------------------
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the shared kNN co-activity graph: the
    Pearson correlation between out-degrees at the two ends of every
    directed edge. Positive = hubs prefer hubs (social cores), negative
    = hub-and-spoke (bot fan-in) — the one-number structural read next
    to graph_degree_distribution.

    Exact-moment Pearson (the profile_corr_matrix house pattern): all
    five moments are exact integer sums (degree ≤ 10 by kNN cap, so
    n·Σxy ≤ 100·n_edges² — int64-safe to ~3e8 edges; shard the edge
    list beyond that); the only doubles are the final two
    exactly-representable variance terms, one IEEE-correctly-rounded
    multiply + sqrt, and the ppm round (≥/≤0 symmetric, half away from
    zero in both engines).

    Scale shape: the shared capped kNN builder (one bounded hour
    self-join), a degree groupBy, two broadcast-able joins of (node,
    deg ≤ 10) onto edges, one 1-row aggregate. No windows beyond the
    builder's own partitioned ones. The builder feeds THREE consumers
    (the degree aggregate + both edge-end joins); it is materialized
    ONCE via an eager localCheckpoint (round-8 ADVICE: the static plan
    embeds the builder subtree per consumer with no ReusedExchange
    node, so without materialization the hour self-join could run three
    times per action; the checkpointed edge list is degree-bounded,
    ≤ 10·V rows of two bigints, and localCheckpoint survives
    clearCache, the _knn_graph house pattern).
    """
    sym = _knn_graph(spark, sf_dir).localCheckpoint(eager=True)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        sym.join(deg.withColumnRenamed("src", "s2"),
                 F.col("src") == F.col("s2"))
        .withColumnRenamed("deg", "dx")
        .drop("s2")
        .join(
            deg.select(
                F.col("src").alias("d2"), F.col("deg").alias("dy")
            ),
            F.col("dst") == F.col("d2"),
        )
        .drop("d2")
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.expr("dx * dx")).alias("sxx"),
        F.sum(F.expr("dy * dy")).alias("syy"),
        F.sum(F.expr("dx * dy")).alias("sxy"),
    )
    return m.selectExpr(
        "n_edges",
        "sx * 1000 DIV n_edges AS mean_src_deg_milli",
        "sy * 1000 DIV n_edges AS mean_dst_deg_milli",
        """CASE WHEN (n_edges * sxx - sx * sx) = 0
                  OR (n_edges * syy - sy * sy) = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(round(1000000 * CAST(n_edges * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
                       * CAST(n_edges * syy - sy * sy AS DOUBLE)))
                AS BIGINT) END AS assortativity_ppm""",
    )


QUERIES["graph_degree_assortativity"] = graph_degree_assortativity


def _assort_oracle() -> str:
    return f"""
    WITH {_KNN_GRAPH_DUCK},
    deg AS (
        SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
    ),
    e AS (
        SELECT a.deg AS dx, b.deg AS dy
        FROM sym JOIN deg a ON sym.src = a.src
                 JOIN deg b ON sym.dst = b.src
    ),
    m AS (
        SELECT COUNT(*) AS n_edges,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dy) AS BIGINT) AS sy,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx,
               CAST(SUM(dy * dy) AS BIGINT) AS syy,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy
        FROM e
    )
    SELECT n_edges,
           CAST(sx * 1000 // n_edges AS BIGINT) AS mean_src_deg_milli,
           CAST(sy * 1000 // n_edges AS BIGINT) AS mean_dst_deg_milli,
           CASE WHEN (n_edges * sxx - sx * sx) = 0
                  OR (n_edges * syy - sy * sy) = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(round(1000000 * CAST(n_edges * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
                       * CAST(n_edges * syy - sy * sy AS DOUBLE)))
                AS BIGINT) END AS assortativity_ppm
    FROM m
"""


ORACLES["graph_degree_assortativity"] = _assort_oracle()


# ---------------------------------------------------------------------------
# kNN graph reciprocity
# ---------------------------------------------------------------------------
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the kNN co-activity graph: the share of directed
    edges whose reverse edge also survived the top-10 truncation.
    High reciprocity = mutual cores (communities); low = asymmetric
    hub attachment (celebrities, bots). One number + the edge counts
    behind it.

    Scale shape: the shared capped kNN builder, then ONE self
    equi-join on the reversed key pair and a 1-row aggregate; no
    windows beyond the builder's own partitioned ones. The builder
    feeds both join sides, so it is materialized ONCE via an eager
    localCheckpoint (round-8 ADVICE; see graph_degree_assortativity's
    note — degree-bounded edge list, clearCache-immune).
    """
    sym = _knn_graph(spark, sf_dir).localCheckpoint(eager=True)
    rev = sym.selectExpr("dst AS src", "src AS dst", "1 AS has_rev")
    return (
        sym.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count("has_rev").alias("n_reciprocal"),
        )
        .selectExpr(
            "n_edges",
            "n_reciprocal",
            "n_reciprocal * 1000000 DIV n_edges AS reciprocity_ppm",
        )
    )


QUERIES["graph_reciprocity"] = graph_reciprocity


def _recip_oracle() -> str:
    return f"""
    WITH {_KNN_GRAPH_DUCK}
    SELECT COUNT(*) AS n_edges,
           CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reciprocal,
           CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS reciprocity_ppm
    FROM sym e
    LEFT JOIN sym r ON r.src = e.dst AND r.dst = e.src
"""


ORACLES["graph_reciprocity"] = _recip_oracle()


# ---------------------------------------------------------------------------
# source-partition modularity of the near-dup graph
# ---------------------------------------------------------------------------
def graph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contribution of each SOURCE under the near-dup
    graph: q_c = L_c/m − (D_c/2m)², in ppm — the one-table answer to
    "are near-duplicates mostly within-source (re-crawls: dedup per
    source suffices) or cross-source (syndication: global dedup is
    mandatory)?". Positive contributions = assortative sources.

    Node → source is ROW-LOCAL: the dup-corpus copy offsets (+1 M,
    +2 M — dedup._dup_corpus) are multiples of 20, and the fixture
    pins source = 'src' || (doc_id % 20), so node % 20 recovers every
    node's source with no join against documents.

    Scale shape: the _pair_stats-derived edge list (the family's one
    heavy pipeline, round-10 packed form), then only metadata-scale
    aggregates. Round-11 replan: the original spelling hung FOUR
    consumers (m, per-source degree mass, per-source node counts,
    per-source intra counts) off the edge list — exchange reuse pays
    the pipeline's map side once, but the pair-aggregate REDUCE tail
    (113 M pair groups at ×100) re-ran per consumer, measured +7.4 s
    of the query's 18.9 s at ×10 (edges alone: 11.6 s). m, dmass and
    intra are all marginals of ONE ≤|sources|² row (src-sid, dst-sid)
    census, so they now ride a single pass over the edge list and the
    only other consumer is the node-distinct (genuinely node-scale).
    Output is |sources| rows, identical by algebra: m = Σc,
    deg_sum(s) = Σ_{sa=s} c + Σ_{sb=s} c, intra(s) = Σ_{sa=sb=s} c.

    Integer exactness: both terms are single floor divisions per
    source, mirrored in the oracle. int64 headroom: 10⁶·D_c² needs
    D_c < 3.03·10⁶ — a source carrying >1.5 M intra-degree mass wants
    the milli spelling or per-shard modularity; stated, not silent."""
    edges = _edges(spark, sf_dir)
    census = (
        edges.selectExpr("src % 20 AS sa", "dst % 20 AS sb")
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = census.agg(F.sum("c").alias("m"))
    # degree mass per source: explode both census directions row-locally
    # (≤2·|sources|² rows), then one narrow groupBy — deg(node) is never
    # materialized per node and the edge list is never re-walked
    dmass = (
        census.select(
            F.explode(
                F.expr("array(struct(sa AS sid, c), struct(sb AS sid, c))")
            ).alias("p")
        )
        .groupBy("p.sid")
        .agg(F.sum("p.c").alias("deg_sum"))
    )
    nodes = (
        edges.selectExpr("explode(array(src, dst)) AS node")
        .distinct()
        .selectExpr("node % 20 AS sid")
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    intra = (
        census.filter("sa = sb")
        .selectExpr("sa AS sid", "c")
        .groupBy("sid")
        .agg(F.sum("c").alias("intra_edges"))
    )
    return (
        nodes.join(dmass, "sid", "left")
        .join(intra, "sid", "left")
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "concat('src', sid) AS source",
            "n_nodes",
            "coalesce(deg_sum, 0) AS deg_sum",
            "coalesce(intra_edges, 0) AS intra_edges",
            "(1000000 * coalesce(intra_edges, 0)) div m"
            " - (1000000 * coalesce(deg_sum, 0) * coalesce(deg_sum, 0))"
            " div (4 * m * m) AS q_contrib_ppm",
        )
        .orderBy("source")
    )


QUERIES["graph_source_modularity"] = graph_source_modularity


def _modularity_duck() -> str:
    return f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM inter
        JOIN sizes sa ON sa.doc_id = src
        JOIN sizes sb ON sb.doc_id = dst
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ),
    m AS (SELECT count(*) AS m FROM edges),
    dmass AS (
        SELECT sid, count(*) AS deg_sum FROM (
            SELECT src % 20 AS sid FROM edges
            UNION ALL SELECT dst % 20 FROM edges
        ) GROUP BY sid
    ),
    nodes AS (
        SELECT sid, count(*) AS n_nodes FROM (
            SELECT DISTINCT node % 20 AS sid, node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
            )
        ) GROUP BY sid
    ),
    intra AS (
        SELECT src % 20 AS sid, count(*) AS intra_edges
        FROM edges WHERE src % 20 = dst % 20 GROUP BY src % 20
    )
    SELECT 'src' || CAST(n.sid AS VARCHAR) AS source,
           n.n_nodes,
           CAST(coalesce(d.deg_sum, 0) AS BIGINT) AS deg_sum,
           CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           CAST((1000000 * coalesce(i.intra_edges, 0)) // m.m
                - (1000000 * coalesce(d.deg_sum, 0)
                   * coalesce(d.deg_sum, 0)) // (4 * m.m * m.m)
               AS BIGINT) AS q_contrib_ppm
    FROM nodes n
    LEFT JOIN dmass d ON d.sid = n.sid
    LEFT JOIN intra i ON i.sid = n.sid
    CROSS JOIN m
    ORDER BY source
"""


ORACLES["graph_source_modularity"] = _modularity_duck()
