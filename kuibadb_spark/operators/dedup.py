"""Deduplication operators over `documents` / `embeddings` — the
training-data-pipeline surface (BASELINE.json north star; the reference
has no analog, SURVEY.md §2.3 'LLM-pipeline extras'):

- exact dedup        : md5(text) hash-groupBy
- n-gram Jaccard     : 3-word shingles → shared-shingle candidate join →
                       exact Jaccard filter ("exact" throughout the
                       shingle family = up to 64-bit shingle-hash
                       collisions in the postings key, ~n²/2⁶⁵ — see
                       _pair_stats; every other step is integer-exact)
- MinHash + LSH      : k=12 signature (min over md5(seed‖shingle)),
                       4 bands × 3 rows, band-bucket join → estimated sim
- SimHash            : 32-bit sign-aggregated token hashes, byte-band
                       candidates, Hamming-distance filter
- embedding cosine   : label-blocked pairwise cosine ≥ threshold

The fixture corpus has no duplicates, so every query synthesizes a
deterministic dup corpus first (exact copies for doc_id%10==0, near-dup
copies with one appended token for doc_id%20==0) — the SAME synthesis in
Spark and the DuckDB oracle, so found-duplicate sets must match exactly.

Scale notes (100 TB): none of these are O(n²) over the corpus — candidate
generation is always an equi-join on a derived key (shingle, minhash
band, simhash byte-band, label/IVF block), i.e. a hash-partitioned
shuffle whose fan-in is bounded by bucket collision rates; the quadratic
step happens only within buckets. Shingle/token explosion is linear in
corpus tokens. All hashing is md5 (see functions/hashing.py) — swap for
xxhash64 in single-engine deployments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load


# ---------------------------------------------------------------------------
# shared corpus synthesis (identical in both engines)
# ---------------------------------------------------------------------------

_DUP_CORPUS_DUCK = """
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, text || ' zzduptoken' FROM documents
        WHERE doc_id % 20 = 0
    )
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local single-scan synthesis: the natural UNION ALL spelling is
    three scans of documents (one per branch — union branches are never
    exchange/scan-reused); the explode emits base + conditional copies
    from ONE pass, which is 3x less input IO for every dedup/graph
    operator sharing this corpus. Same rows, same oracle CTE."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_id"), F.col("text")),
                    F.when(
                        F.col("doc_id") % 10 == 0,
                        F.struct(
                            (F.col("doc_id") + 1000000).alias("doc_id"),
                            F.col("text"),
                        ),
                    ),
                    F.when(
                        F.col("doc_id") % 20 == 0,
                        F.struct(
                            (F.col("doc_id") + 2000000).alias("doc_id"),
                            F.concat(
                                F.col("text"), F.lit(" zzduptoken")
                            ).alias("text"),
                        ),
                    ),
                )
            ).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .select("e.doc_id", "e.text")
    )


# ---------------------------------------------------------------------------
# shingles: distinct (doc_id, 3-word shingle)
# ---------------------------------------------------------------------------

_SHINGLES_DUCK = """
    toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM corpus
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks
    )
"""


def _doc_shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, shs: array<string>) — each doc's DISTINCT shingle set,
    computed row-locally. array_distinct inside the row is equivalent to
    the global DISTINCT on exploded (doc_id, shingle) — one whole shuffle
    cheaper, and set sizes become size(shs) with no shuffle at all.

    The trailing repartition is load-bearing twice over: (1) any later
    explode of `shs` sees a post-exchange ATTRIBUTE, not the shingle
    expression — otherwise CollapseProject folds this projection into the
    Generate node and the whole tokenize+shingle pipeline is re-evaluated
    once per EMITTED shingle (measured 15.5s vs 1.2s at sf0.1); (2) it
    spreads the rows across all cores when the local scan is only a few
    input splits. The shuffled payload is one compact array row per doc."""
    toks = corpus.withColumn("w", F.split("text", r"\s+"))
    return toks.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "CASE WHEN size(w) < 3 THEN array() "
                "ELSE transform(sequence(1, size(w) - 2), "
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),"
                " element_at(w, i+2))) END"
            )
        ).alias("shs"),
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy on md5(text)
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _dup_corpus(spark, sf_dir)
    return (
        c.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("kept_doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: shared-shingle candidates → exact Jaccard
# ---------------------------------------------------------------------------
def _pair_stats(d: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) with shared-shingle counts AND both
    set sizes: (doc_a, doc_b, sz_a, sz_b, inter).

    Shape: groupBy(shingle) over an inverted-postings view + row-local
    pair expansion — NOT a shingle self-join. The self-join shuffles
    every (doc, shingle) row twice and sort-merges on a wide string key;
    this shuffles each row once, generates the C(n,2) pairs inside the
    row (posting lists per shingle are short for real text; capping or
    dropping stop-shingles is the 100 TB lever, same as any LSH bucket
    cap), then aggregates on a compact int key. Carrying sz through the
    postings also deletes both doc-size joins from the final plan. The
    pair set is identical to the self-join's, so DuckDB oracles that
    spell the self-join still hash-match.

    Round-10 constant-factor pass (the ×100 profile showed this shared
    primitive IS the whole cost of the dedup/graph family — 1.95 G
    expanded pair rows, 113 M pair groups at ×100 — and every datum
    crossing its two exchanges was wider than it needed to be):

    1. the postings KEY is xxhash64(shingle), not the ~25-byte 3-gram
       string — the wide-string sort/hash was half the postings stage
       (12.3 → 6.1 s at ×100). Posting groups are identical as long as
       no two DISTINCT shingles collide in 64 bits (verified: same
       2 275 963 groups either way at ×100); expected collisions are
       n²/2⁶⁵ ≈ 3·10⁻⁵ at 24 M shingles and ~27 k pairs at a 100 TB
       corpus's 10¹² shingles — each worth ≤1 phantom shared-shingle
       between two unrelated docs, noise-level against real inter
       counts. Consumers that advertise exact Jaccard carry this bound
       in their docstrings' terms: exact up to 64-bit shingle-hash
       collisions, the standard postings trade.
    2. each posting element packs (doc_id, sz) into ONE BIGINT
       (doc_id·2²⁴ + sz): collect_list/array_sort on primitive longs,
       not structs, and the sort order (doc_id-major) is unchanged
       because sz is constant within a doc. PRECONDITIONS (stated):
       doc_id < 2³¹, sz < 2²⁴ (a 16 M-distinct-shingle doc breaks the
       pack before it breaks anything else).
    3. the pair-aggregate key is the packed canonical pair
       (doc_a·2³² + doc_b) — one 8-byte key through the family's
       widest exchange instead of four columns; sz_a/sz_b ride as a
       min() aggregate (constant per pair, so min == the value).

    Identical output, measured ×100 total: 64.3 → 18.1 s same-process.

    Round-11 second pass (same-process ×100 A/B over the identical
    postings subtree, best-of-2 noop each): the pair element now packs
    BOTH sizes into one rider long sp = sz_a·2²⁴ + sz_b (48 bits; the
    existing sz < 2²⁴ pack precondition already guarantees it), so the
    expansion emits 2-field structs instead of 3 and the pair exchange
    row is (pk, sp, count) instead of (pk, sz_a, sz_b, count):
    62.6 s (3-field) → 45.1 s (sp pack). Dropping the sizes entirely
    and joining them back read 37.5 s but needs a doc-sizes join that
    stops broadcasting at corpus scale (~12 GB at 10⁹ docs) — rejected
    as a fixture-tuned win; the sp pack keeps the no-join property at
    every scale. min(sp) == the value for the same constant-per-pair
    reason, and the unpack (div/mod 2²⁴) is exact.
    """
    # explode_outer, not explode: InferFiltersFromGenerate rewrites a
    # plain explode into a filter containing the generator's WHOLE child
    # expression (size(expr)>0 AND isnotnull(expr)), which lands below
    # the exchange and re-evaluates the shingle pipeline per row in
    # interpreted mode — measured 13s vs 1.5s at sf0.1. The rule skips
    # outer generates; the isNotNull on the emitted attribute restores
    # exact explode semantics (our arrays never contain null elements).
    sh = (
        d.select(
            F.explode_outer(
                F.expr(
                    "transform(shs, s -> named_struct("
                    "'shingle', xxhash64(s),"
                    " 'e', shiftleft(doc_id, 24) + size(shs)))"
                )
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .select("p.shingle", "p.e")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("e")).alias("ds"))
        .filter(F.size("ds") > 1)
        # HOT-SHINGLE CAP — the adversarial-corpus guard: a shingle shared
        # by k docs expands to C(k,2) pairs, so one boilerplate phrase in
        # a million docs is 5·10¹¹ pairs from a single group. Stop-shingles
        # past the cap are dropped entirely (they carry no discriminative
        # signal; the standard LSH/postings trade — bounded work for
        # bounded recall loss on pairs whose overlap is mostly
        # boilerplate). 128 is 8× the widest posting this corpus produces
        # (max 16 at sf0.01), so fixture results are provably unchanged.
        .filter(F.size("ds") <= 128)
        .select(
            F.explode_outer(  # outer: see explode_outer note above
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> named_struct("
                    "'pk', shiftleft(x div 16777216, 32) + y div 16777216, "
                    "'sp', shiftleft(x % 16777216, 24) + y % 16777216))))"
                )
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .groupBy("p.pk")
        .agg(
            F.min("p.sp").alias("sp"),
            F.count(F.lit(1)).alias("inter"),
        )
        .selectExpr(
            "pk div 4294967296 AS doc_a",
            "pk % 4294967296 AS doc_b",
            # back to INT: size() typed the original sz columns, and
            # downstream schemas/oracles pin that
            "CAST(sp div 16777216 AS INT) AS sz_a",
            "CAST(sp % 16777216 AS INT) AS sz_b",
            "inter",
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pair_stats(_doc_shingles(_dup_corpus(spark, sf_dir)))
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash (k=12) + LSH (4 bands × 3): bucket join → estimated similarity
# ---------------------------------------------------------------------------
_K = 12
_BANDS = 4  # 3 rows per band
_P = 2147483647  # Mersenne prime 2^31-1: keeps i*b products far from 2^63


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=12 signature via universal hashing h_i = (a + i*b) mod P over ONE
    md5 per shingle (a, b = two 30-bit halves of the digest) — the textbook
    one-hash MinHash family, 12× cheaper than hashing every shingle k
    times. No distinct on shingles: min() is duplicate-insensitive, so the
    set semantics are free and the dedup shuffle is skipped; the only
    shuffle is the partial-aggregated 12-column min per doc_id."""
    c = _dup_corpus(spark, sf_dir)
    toks = c.withColumn("w", F.split("text", r"\s+"))
    # explode_outer + isNotNull == explode, minus the
    # InferFiltersFromGenerate rewrite that would re-evaluate the whole
    # shingle expression inside an interpreted scan filter (see
    # _pair_stats); the isNotNull also keeps <3-word docs out of the
    # signature table, exactly as plain explode did.
    sh = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "CASE WHEN size(w) < 3 THEN array() "
                "ELSE transform(sequence(1, size(w) - 2), "
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),"
                " element_at(w, i+2))) END"
            )
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    hashed = sh.select(
        "doc_id",
        (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint") % _P).alias("ha"),
        (F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("bigint") % _P).alias("hb"),
    )
    # persist: the sketch table is tiny (one ~100-byte row per doc) but its
    # producer (shingle explode + md5 + 12 min-aggs) is the expensive linear
    # pass — without the persist the band self-join computes it once PER
    # SIDE (AQE broadcasts one side, so no Exchange reuse is possible).
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("ha") + i * F.col("hb")) % _P).alias(f"h{i}")
            for i in range(_K)
        ]
    ).persist()
    # Band rows CARRY the full signature array: the candidate self-join then
    # computes est_sim in place — no re-join back to sig (saves two shuffle
    # joins; the extra 12 bigints per band row are cheap vs two more
    # hash-join exchanges).
    band_exprs = ", ".join(
        f"{j}, concat_ws(':', h{3*j}, h{3*j+1}, h{3*j+2})" for j in range(_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id",
        f"array({', '.join(f'h{i}' for i in range(_K))}) AS hs",
        f"stack({_BANDS}, {band_exprs}) AS (band_idx, band_hash)",
    )
    a = bands.alias("a")
    b = bands.alias("b")
    agree = sum(
        F.when(F.expr(f"a.hs[{i}] = b.hs[{i}]"), 1).otherwise(0) for i in range(_K)
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(agree / F.lit(float(_K)), 4).alias("est_sim"),
        )
        .distinct()
        .filter(F.col("est_sim") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit) + byte-band candidates + Hamming filter
# ---------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar SimHash, frequency-weighted: with a small vocabulary the
    unweighted (distinct-token) variant collides massively — term counts
    carry the signal, so each token votes ±count on every bit.

    60-bit hash, 4 bands × 15 bits, hot-bucket cap 1000 — the
    mm_ahash_near_dup capacity design (round-8 sf1 gate finding): the
    original 32-bit/8-bit-band form had 1024 possible buckets TOTAL,
    so bucket occupancy — and candidate pairs — grew QUADRATICALLY
    with corpus size (measured ×46.7 wall at ×10 rows, 59 s).
    4×15-bit bands give 131k buckets per band, and the cap drops
    saturated buckets whole (no discriminative signal). By pigeonhole
    any pair within the Hamming ≤ 3 verify threshold shares ≥ 1 band
    UNHARMED BY THE HAMMING DAMAGE — so recall is exact among pairs
    whose intact band survives the occupancy cap; a pair whose only
    intact band lands in a >1000-occupancy bucket is deliberately
    dropped (the cap trades recall in saturated buckets for bounded
    candidate growth — saturated buckets are boilerplate-dominated,
    where near-dup listing is noise anyway). Engine parity is
    unaffected: both engines apply the same cap. Bits 60-63 are unused
    to stay clear of BIGINT sign semantics in both engines.
    """
    par = spark.sparkContext.defaultParallelism
    c = _dup_corpus(spark, sf_dir)
    toks = c.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("tok")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    )
    # One shuffle total: summing ±1 per token OCCURRENCE per bit equals the
    # frequency-weighted (±count per distinct token) form, so the
    # (doc_id, tok) count pass and the 60× bit-explode both collapse into
    # 60 bit-sums in a single partial-aggregated groupBy(doc_id). The
    # signed vote sum (2·ones − total) > 0 is tested as 2·ones > total, so
    # each per-row expression is a branch-free shift+mask (2× faster in
    # codegen than a when/otherwise ±1 per bit).
    bit_sums = [F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"s{b}") for b in range(60)]
    sh_expr = sum(
        F.when(2 * F.col(f"s{b}") > F.col("cnt"), F.lit(1 << b).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for b in range(60)
    )
    simhash = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"), *bit_sums)
        .select("doc_id", sh_expr.alias("sh"))
        .repartition(par)  # explicit exchange, reused by every consumer
    )
    bands = simhash.selectExpr(
        "doc_id",
        "sh",
        "explode(transform(sequence(0, 3), j -> struct(j AS bi,"
        " shiftright(sh, j * 15) % 32768 AS bv))) AS b",
    ).select(
        "doc_id", "sh", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    bucket_n = bands.groupBy("bi", "bv").agg(F.count(F.lit(1)).alias("bn"))
    bands = bands.join(
        bucket_n.filter(F.col("bn") <= 1000), ["bi", "bv"]
    ).drop("bn")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# embedding near-dup: label-blocked pairwise cosine (IVF-style blocking)
# ---------------------------------------------------------------------------
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v", "label"
    )
    copies = e.filter(F.col("vec_id") % 10 == 0).selectExpr(
        "vec_id + 1000000 AS vec_id",
        "transform(v, x -> x * 2.0) AS v",  # scaled copy: cosine == 1
        "label",
    )
    c = e.unionAll(copies).withColumn(
        "norm", F.expr("sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))")
    )
    # ×10 stress finding (round 3): label has only 10 distinct values, so
    # the original label-blocked pair self-join hashed into ≤10 buckets,
    # and the higher-order zip_with/aggregate dot — CodegenFallback,
    # interpreted — cost ~180 µs of CPU per candidate pair: 24M ×10-scale
    # candidates took 176 s (join alone: 3.7 s; dot projection: +134 s).
    # Replaced in round 3 by a cogroup-blocked BLAS verify (every
    # same-label pair still scored EXACTLY once, at numpy speed, in
    # bounded-memory blocks); reshaped again in round 11 — see below.
    import numpy as np
    import pandas as pd

    # Round-11 replan (guide §2.3 shuffle width + §4.2 batch-native
    # math; round-10 VERDICT ask #4). Two independent fixes, measured
    # with a same-epoch ×100 decomposition (fresh process per variant,
    # best-of-2 noop): the ROUND-10 form read 313.5 s, of which only
    # 8.2 s was shuffle+Arrow+group plumbing (empty-UDF probe) — the
    # other ~305 s was per-task numpy doing ~10 full-matrix elementwise
    # passes (outer, divide, sign, abs, scale, floor, compare, and,
    # nonzero over 15 M-element blocks) plus object-dtype vstack over a
    # 33×-replicated a-side. The replan reads 26.9 s (×11.7):
    #
    # 1. GROUP-PAIR COGROUP instead of replicate-all-×-slice: rows are
    #    split by g = vec_id mod G (G=8); task (g1 ≤ g2) scores the
    #    (g1-block × g2-block) cross. A row rides in (G−g) a-side tasks
    #    + (g+1) b-side tasks = G+1 = 9 replicas vs the old 33 (S=32
    #    slices + the unsliced b side), and per-task matrices are
    #    square-ish (n/G)² blocks instead of (all-label × n/S) strips.
    #    Every same-label pair is scored EXACTLY once: a pair (x∈g1,
    #    y∈g2), g1 ≤ g2, meets only in task (g1, g2) — a-side explodes
    #    g..G-1 upward, b-side 0..g downward, so the reversed task
    #    (g2, g1) never exists; diagonal tasks keep vec_id_a < vec_id_b,
    #    off-diagonal tasks keep all cross pairs and emit
    #    (min id, max id) (cosine is symmetric).  Label×G(G+1)/2 = 360
    #    tasks bound memory at (block_rows × dim) doubles; a deployment
    #    scales G with cluster width (tasks grow as G²).
    # 2. PREFILTER, THEN EXACT-SCORE SURVIVORS: the dense work is now
    #    one BLAS matmul D = A·Bᵀ plus ONE broadcast multiply and ONE
    #    compare — D ≥ (t·‖a‖)·‖b‖ with t = 0.9899995 − 1e-9. In exact
    #    arithmetic cos ≥ 0.9899995 ⟺ rounded-cos ≥ 0.99 (the emitted
    #    predicate), and the 1e-9 slack dwarfs the ~1e-16 relative
    #    error of the multiply/divide reorder, so NO qualifying pair
    #    can fail the prefilter. Survivors (rare) then get the
    #    bit-identical original expression — dot/(norm·norm), rounded
    #    half-away-from-zero — so emitted values are unchanged.
    #    Verified row-identical (repr-exact cos) against the round-10
    #    form at sf0.001 and sf0.1, plus DuckDB parity at all three SFs.
    G = 8
    # NB: both sides' group keys must be the SAME TYPE — cogroup matches
    # group keys positionally without inserting casts (round-3 finding:
    # mismatched int/bigint slice keys silently split groups).
    g = c.withColumn("g", F.pmod("vec_id", F.lit(G)).cast("int"))
    a_side = g.withColumn("gh", F.explode(F.expr(f"sequence(g, {G - 1})")))
    b_side = g.withColumn("gl", F.explode(F.expr("sequence(0, g)")))

    def _verify(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64")}
        )
        if left.empty or right.empty:
            return empty
        _, g1, g2 = key
        A = np.vstack(left["v"].to_numpy())
        B = np.vstack(right["v"].to_numpy())
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        na = left["norm"].to_numpy()
        nb = right["norm"].to_numpy()
        D = A @ B.T
        mask = D >= ((0.9899995 - 1e-9) * na)[:, None] * nb[None, :]
        if g1 == g2:
            mask &= ids_a[:, None] < ids_b[None, :]
        ia, jb = np.nonzero(mask)
        if not len(ia):
            return empty
        raw = D[ia, jb] / (na[ia] * nb[jb])
        # round HALF-AWAY-FROM-ZERO to match F.round / DuckDB round();
        # np.round is half-to-even, which can flip a cosine sitting
        # exactly on a 5e-7 boundary across engines (and the >=0.99
        # verdict with it)
        cos = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        keep = cos >= 0.99
        if not keep.any():
            return empty
        va, vb = ids_a[ia[keep]], ids_b[jb[keep]]
        if g1 != g2:
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos": cos[keep]})

    return (
        a_side.groupBy("label", "g", "gh")
        .cogroup(b_side.groupBy("label", "gl", "g"))
        .applyInPandas(_verify, "vec_a bigint, vec_b bigint, cos double")
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# fuzzy dedup: prefix-blocking + edit-distance verify
# ---------------------------------------------------------------------------
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy dedup: candidate pairs share a 40-char text prefix
    (an equi-join key, so candidate generation is one hash shuffle), then
    the expensive O(m·n) levenshtein verify runs only within blocks.
    Catches exact copies (dist 0) and the appended-token near-dups
    (dist = len(' zzduptoken') = 11).

    Scale: the verify cost is bounded by block sizes, not corpus size; at
    100 TB you'd union several blocking keys (prefix, length-band,
    minhash band) to raise recall — each is still an equi-join."""
    par = spark.sparkContext.defaultParallelism
    c = _dup_corpus(spark, sf_dir).withColumn("blk", F.substring("text", 1, 40))
    # block members collected per key, pairs expanded ROW-LOCALLY (the
    # _pair_stats shape) instead of a self-join: the self-join spelling
    # let Catalyst fold the edit_dist filter into the join CONDITION,
    # where levenshtein evaluates interpreted per probe (measured 9.4s
    # vs 1.7s with lev in a codegen projection at sf0.1). array_sort on
    # (doc_id, text) structs gives canonical doc_a < doc_b pairs.
    grouped = c.groupBy("blk").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))).alias("ds")
    )
    # ×10 stress finding (round 3): text shuffles compress so well that
    # AQE coalesced the block-group exchange to ONE partition, so the
    # whole 394k-pair levenshtein verify ran in that single task (17+
    # min). Two structural fixes, both needed:
    #  1. WIDEN THE VERIFY STAGE with a round-robin repartition of the
    #     grouped blocks (cheap: one row per block). It must be
    #     round-robin, not hash-on-blk — a hash repartition on the
    #     grouping key gets collapsed into the aggregate's own
    #     ENSURE_REQUIREMENTS exchange, which AQE happily re-coalesces;
    #     an explicit-count round-robin exchange survives and is exempt
    #     from AQE coalescing.
    #  2. COMPUTE THE DISTANCE INSIDE THE PAIR LAMBDA, not in a later
    #     projection: a post-hoc `.withColumn + .filter` is split by
    #     Catalyst into Filter(lev >= 0) + Project(lev) — levenshtein
    #     evaluated TWICE per pair — and the filter pushes through any
    #     repartition placed after it, landing back in the narrow stage.
    #     In-lambda, each pair is scored once and non-dups are dropped
    #     before the explode even emits them.
    # Also banded: levenshtein's 3-arg threshold form computes only the
    # ±15 diagonal with early exit — O(k·n) vs O(m·n), identical
    # distances for kept pairs (beyond-threshold returns -1, dropped
    # exactly like the oracle's full-distance `<= 15`). 345 s → ~6 s ×10.
    grouped = grouped.repartition(par)
    return (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "filter(transform(slice(ds, i + 2, size(ds)), y -> "
                    "struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                    " levenshtein(x.text, y.text, 15) AS edit_dist)),"
                    " s -> s.edit_dist >= 0)))"
                )
            ).alias("p")
        )
        .select("p.*")
        # shuffle barrier before the global sort: orderBy's range-sampling
        # job re-executes its child; behind a fresh exchange the sample
        # pass reuses shuffle files instead of recomputing the whole
        # block+lev pipeline (measured 4.9s -> 2.5s at sf0.1)
        .repartition("doc_a")
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_fuzzy_levenshtein": dedup_fuzzy_levenshtein,
}

_SIG_COLS = ",\n               ".join(
    f"min((ha + {i} * hb) % {_P}) AS h{i}" for i in range(_K)
)
_BAND_ROWS = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band_idx,"
    f" h{3*j} || ':' || h{3*j+1} || ':' || h{3*j+2} AS band_hash FROM sig"
    for j in range(_BANDS)
)
_AGREE = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_K)
)

ORACLES = {
    "dedup_exact": f"""
        WITH {_DUP_CORPUS_DUCK}
        SELECT md5(text) AS text_hash,
               min(doc_id) AS kept_doc_id,
               count(*) AS n_copies
        FROM corpus
        GROUP BY md5(text)
        HAVING count(*) > 1
        ORDER BY kept_doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_DUP_CORPUS_DUCK},
        {_SHINGLES_DUCK},
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
        ORDER BY doc_a, doc_b
    """,
    "dedup_minhash_lsh": f"""
        WITH {_DUP_CORPUS_DUCK},
        {_SHINGLES_DUCK},
        hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {_P} AS ha,
                   CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % {_P} AS hb
            FROM shingles
        ),
        sig AS (
            SELECT doc_id,
               {_SIG_COLS}
            FROM hashed GROUP BY doc_id
        ),
        bands AS ({_BAND_ROWS}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(({_AGREE}) / {float(_K)}, 4) AS est_sim
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE ({_AGREE}) / {float(_K)} >= 0.5
        ORDER BY doc_a, doc_b
    """,
    "dedup_simhash": f"""
        WITH {_DUP_CORPUS_DUCK},
        toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM corpus
        ),
        weighted AS (
            SELECT doc_id, tok, count(*) AS wt FROM toks GROUP BY doc_id, tok
        ),
        hashed AS (
            SELECT doc_id, wt,
                   CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
            FROM weighted
        ),
        bits AS (
            SELECT doc_id, b,
                   sum(CASE WHEN (h >> b) & 1 = 1 THEN wt ELSE -wt END) AS s
            FROM hashed, (SELECT unnest(generate_series(0, 59)) AS b)
            GROUP BY doc_id, b
        ),
        simhash AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS sh
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, sh, j AS bi, (sh >> (j * 15)) % 32768 AS bv
            FROM simhash, (SELECT unnest(generate_series(0, 3)) AS j)
        ),
        capped AS (
            SELECT doc_id, sh, bi, bv FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY bi, bv) AS bn
                FROM bands
            ) WHERE bn <= 1000
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM capped a JOIN capped b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
        ORDER BY doc_a, doc_b
    """,
    "dedup_fuzzy_levenshtein": f"""
        WITH {_DUP_CORPUS_DUCK},
        blocked AS (
            SELECT doc_id, text, substr(text, 1, 40) AS blk FROM corpus
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= 15
        ORDER BY doc_a, doc_b
    """,
    "dedup_embedding_cosine": """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings
        ),
        corpus AS (
            SELECT vec_id, v, label FROM base
            UNION ALL
            SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0), label
            FROM base WHERE vec_id % 10 = 0
        ),
        normed AS (
            SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS norm
            FROM corpus
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cos
        FROM normed a JOIN normed b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.99
        ORDER BY vec_a, vec_b
    """,
}


# ---------------------------------------------------------------------------
# containment near-dup: asymmetric overlap (subset-duplication)
# ---------------------------------------------------------------------------
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A→B) = |A∩B| / |A|: catches documents
    EMBEDDED in larger ones, which symmetric Jaccard misses (a doc fully
    contained in one 3× its size has jaccard ≈ 0.33 but containment 1.0)
    — the dedup rule used for quote/boilerplate/subset removal in
    pretraining pipelines. Emits both directions' containments per
    candidate pair in exact 1e-6 integer units (cross-multiplied div —
    no float division drift), flagged by which threshold fired.
    Candidate generation shares _pair_stats' postings shape (one shuffle,
    row-local pair expansion)."""
    pairs = _pair_stats(_doc_shingles(_dup_corpus(spark, sf_dir)))
    return (
        pairs.selectExpr(
            "doc_a",
            "doc_b",
            "(1000000 * inter) div sz_a AS cont_a_e6",
            "(1000000 * inter) div sz_b AS cont_b_e6",
        )
        .filter(
            (F.col("cont_a_e6") >= 900000) | (F.col("cont_b_e6") >= 900000)
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "cont_a_e6",
            "cont_b_e6",
            "cont_a_e6 >= 900000 AND cont_b_e6 >= 900000 AS mutual",
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup_containment"] = dedup_containment

ORACLES["dedup_containment"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    conts AS (
        SELECT doc_a, doc_b,
               (1000000 * i) // sa.sz AS cont_a_e6,
               (1000000 * i) // sb.sz AS cont_b_e6
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, cont_a_e6, cont_b_e6,
           cont_a_e6 >= 900000 AND cont_b_e6 >= 900000 AS mutual
    FROM conts
    WHERE cont_a_e6 >= 900000 OR cont_b_e6 >= 900000
    ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# URL-canonicalization dedup: the crawl pipeline's first pass
# ---------------------------------------------------------------------------
def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cheapest dedup pass every crawl pipeline runs FIRST: canonicalize
    each document's URL (lowercase host, strip the fragment, drop
    tracking parameters, sort the surviving query params, trim trailing
    slash) and group exact canonical matches — catching re-crawls of one
    page under utm-decorated / reordered / fragment-bearing variants
    before any content hashing runs. Fixture documents carry no URL, so
    one is synthesized deterministically from (source, doc_id) with
    variant decorations chosen by doc_id % 4 — the canonicalizer is the
    operator under test and collapses all variants of a page.

    Canonicalization is pure row-local regexp/string work (zero
    shuffle); the dedup groupBy on the canonical URL is one
    partial-aggregated exchange — at 100 TB this is the map-side-cheap
    pass that removes the bulk of crawl duplication for ~free."""
    d = load(spark, sf_dir, "documents")
    # synthesize: page identity = (source, doc_id div 4); decoration by doc_id%4
    raw = d.selectExpr(
        "doc_id",
        "concat('src', CAST(doc_id div 4 % 20 AS STRING)) AS host",
        "concat(" 
        " CASE WHEN doc_id % 4 = 1 THEN 'HTTPS://' ELSE 'https://' END,"
        " CASE WHEN doc_id % 4 = 1"
        "      THEN upper(concat('src', CAST(doc_id div 4 % 20 AS STRING)))"
        "      ELSE concat('src', CAST(doc_id div 4 % 20 AS STRING)) END,"
        " '.example.com/page/', CAST(doc_id div 4 AS STRING),"
        " CASE WHEN doc_id % 4 = 0 THEN ''"
        "      WHEN doc_id % 4 = 1 THEN '/'"
        "      WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x'"
        "      ELSE '?b=2&utm_medium=social&a=1#section' END"
        ") AS url",
    )
    canon = raw.withColumn(
        "cu",
        F.expr(
            # 1. strip fragment  2. lowercase scheme+host (up to first /)
            # 3. drop utm_* params  4. sort remaining params  5. trim
            #    trailing slash and dangling ?/&
            """
            regexp_replace(
              concat(
                lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                                     '^([^/]+//[^/]+)', 1)),
                regexp_extract(regexp_replace(url, '#.*$', ''),
                               '^[^/]+//[^/]+(/[^?]*)?', 1),
                CASE WHEN regexp_extract(regexp_replace(url, '#.*$', ''),
                                         '\\\\?(.*)$', 1) = '' THEN ''
                     ELSE concat('?', array_join(array_sort(
                          filter(split(regexp_extract(
                                  regexp_replace(url, '#.*$', ''),
                                  '\\\\?(.*)$', 1), '&'),
                              p -> p NOT LIKE 'utm_%' AND p != '')), '&'))
                END
              ),
              '[/?]+$', '')
            """
        ),
    )
    return (
        canon.groupBy("cu")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("canonical_doc"),
            # stringified: the driver's pandas canonicalizer cannot sort/hash
            # list cells, so the member list crosses the boundary as CSV text
            F.expr("array_join(array_sort(collect_list(doc_id)), ',')")
            .alias("members"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy("cu")
    )


QUERIES["dedup_url_normalize"] = dedup_url_normalize

ORACLES["dedup_url_normalize"] = r"""
    WITH raw AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 4 = 1 THEN 'HTTPS://' ELSE 'https://' END)
               || (CASE WHEN doc_id % 4 = 1
                        THEN upper('src' || CAST(doc_id // 4 % 20 AS VARCHAR))
                        ELSE 'src' || CAST(doc_id // 4 % 20 AS VARCHAR) END)
               || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
               || (CASE WHEN doc_id % 4 = 0 THEN ''
                        WHEN doc_id % 4 = 1 THEN '/'
                        WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x'
                        ELSE '?b=2&utm_medium=social&a=1#section' END) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                 lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                                      '^([^/]+//[^/]+)', 1))
                 || coalesce(regexp_extract(regexp_replace(url, '#.*$', ''),
                                '^[^/]+//[^/]+(/[^?]*)?', 1), '')
                 || (CASE WHEN coalesce(regexp_extract(
                                   regexp_replace(url, '#.*$', ''),
                                   '\?(.*)$', 1), '') = '' THEN ''
                          ELSE '?' || coalesce(array_to_string(list_sort(
                               list_filter(string_split(regexp_extract(
                                       regexp_replace(url, '#.*$', ''),
                                       '\?(.*)$', 1), '&'),
                                   p -> p NOT LIKE 'utm_%' AND p != '')), '&'),
                               '')
                     END),
                 '[/?]+$', '') AS cu
        FROM raw
    )
    SELECT cu,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS canonical_doc,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM canon
    GROUP BY cu
    HAVING count(*) > 1
    ORDER BY cu
"""


# ---------------------------------------------------------------------------
# dedup quality evaluation: LSH pipeline vs exact ground truth
# ---------------------------------------------------------------------------
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning harness every dedup deployment needs: score the
    MinHash-LSH pipeline's emitted pairs against exact n-gram-Jaccard
    ground truth (threshold 0.6), reporting truth/predicted/hit counts
    and recall/precision in exact integer ppm. Run it after changing
    k/bands/threshold — the number that justifies the sketch parameters.

    Composition, not reimplementation: truth is the _pair_stats postings
    pipeline, predictions are dedup_minhash_lsh's own output; the hit
    set is one equi-join of two pair tables. Output is ONE row."""
    truth = (
        _pair_stats(_doc_shingles(_dup_corpus(spark, sf_dir)))
        .filter(
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")) >= 0.6
        )
        .select("doc_a", "doc_b")
    )
    pred = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    hit = truth.join(pred, ["doc_a", "doc_b"])
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


QUERIES["dedup_lsh_eval"] = dedup_lsh_eval

ORACLES["dedup_lsh_eval"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {_P} AS ha,
               CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % {_P} AS hb
        FROM shingles
    ),
    sig AS (
        SELECT doc_id,
           {_SIG_COLS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS ({_BAND_ROWS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    pred AS (
        SELECT doc_a, doc_b FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE ({_AGREE}) / {float(_K)} >= 0.5
    ),
    hit AS (SELECT * FROM truth INTERSECT SELECT * FROM pred)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
           CAST(1000000 * (SELECT count(*) FROM hit)
                // (SELECT count(*) FROM truth) AS BIGINT) AS recall_ppm,
           CAST(1000000 * (SELECT count(*) FROM hit)
                // (SELECT count(*) FROM pred) AS BIGINT) AS precision_ppm
"""


# ---------------------------------------------------------------------------
# soft dedup: keep every copy, downweight by duplicate multiplicity
# ---------------------------------------------------------------------------
def dedup_soft_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — the data-mixing alternative to dropping
    duplicates: every copy stays in the corpus, but its sampling weight
    is scaled 1/n by exact-content multiplicity, so n copies jointly
    contribute one document's worth of training mass. Output is one row
    per duplicate-involved doc with its multiplicity and integer-ppm
    weight (unique docs implicitly keep weight 1.0 and never shuffle).

    Scale: md5 content hash is row-local; one groupBy(h) count and one
    equi-join back — the dedup_exact shuffle shape, no pair expansion
    at all (multiplicity, not pair listing)."""
    h = _dup_corpus(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    grp = h.groupBy("h").agg(F.count(F.lit(1)).alias("dup_count"))
    return (
        h.join(grp, "h")
        .filter(F.col("dup_count") > 1)
        .selectExpr(
            "doc_id",
            "dup_count",
            "1000000 div dup_count AS weight_ppm",
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_soft_downweight"] = dedup_soft_downweight

ORACLES["dedup_soft_downweight"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    h AS (SELECT doc_id, md5(text) AS h FROM corpus),
    g AS (SELECT h, count(*) AS dup_count FROM h GROUP BY h)
    SELECT doc_id,
           dup_count,
           CAST(1000000 // dup_count AS BIGINT) AS weight_ppm
    FROM h JOIN g USING (h)
    WHERE dup_count > 1
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: score an incoming crawl AGAINST the existing corpus
# ---------------------------------------------------------------------------
def dedup_incremental_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup shape: an INCOMING batch (here the dup
    corpus's synthesized copies, doc_id ≥ 1e6) is scored against the
    EXISTING corpus (the base docs) — an asymmetric band join, never a
    self-join, which is what makes continuous-crawl dedup cheap: work
    is |incoming| × bucket collision rate, independent of corpus size
    once signatures are stored. Per incoming doc: dup verdict at
    est_sim ≥ 0.5, best (lowest-id) matching existing doc, and match
    count; unmatched incoming docs report is_dup = false — the rows a
    crawler would admit.

    Scale: incoming bands hash-join the existing band INDEX (stored
    once, reused every batch); the signature pass over incoming is
    linear; the verdict is one groupBy(incoming id)."""
    c = _dup_corpus(spark, sf_dir)
    toks = c.withColumn("w", F.split("text", r"\s+"))
    sh = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "CASE WHEN size(w) < 3 THEN array() "
                "ELSE transform(sequence(1, size(w) - 2), "
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),"
                " element_at(w, i+2))) END"
            )
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    hashed = sh.select(
        "doc_id",
        (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
         % _P).alias("ha"),
        (F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("bigint")
         % _P).alias("hb"),
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("ha") + i * F.col("hb")) % _P).alias(f"h{i}")
            for i in range(_K)
        ]
    ).persist()
    band_exprs = ", ".join(
        f"{j}, concat_ws(':', h{3*j}, h{3*j+1}, h{3*j+2})"
        for j in range(_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id",
        f"array({', '.join(f'h{i}' for i in range(_K))}) AS hs",
        f"stack({_BANDS}, {band_exprs}) AS (band_idx, band_hash)",
    )
    ex = bands.filter(F.col("doc_id") < 1000000).alias("ex")
    inc = bands.filter(F.col("doc_id") >= 1000000).alias("inc")
    agree = sum(
        F.when(F.expr(f"inc.hs[{i}] = ex.hs[{i}]"), 1).otherwise(0)
        for i in range(_K)
    )
    cand = (
        inc.join(
            ex,
            (F.col("inc.band_idx") == F.col("ex.band_idx"))
            & (F.col("inc.band_hash") == F.col("ex.band_hash")),
        )
        .select(
            F.col("inc.doc_id").alias("in_id"),
            F.col("ex.doc_id").alias("ex_id"),
            F.round(agree / F.lit(float(_K)), 4).alias("est_sim"),
        )
        .distinct()
        .filter(F.col("est_sim") >= 0.5)
    )
    matches = cand.groupBy("in_id").agg(
        F.min("ex_id").alias("best_match"),
        F.count(F.lit(1)).alias("n_matches"),
        F.max("est_sim").alias("best_sim"),
    )
    incoming_ids = sig.filter(F.col("doc_id") >= 1000000).select(
        F.col("doc_id").alias("in_id")
    )
    return (
        incoming_ids.join(matches, "in_id", "left")
        .selectExpr(
            "in_id AS doc_id",
            "n_matches IS NOT NULL AS is_dup",
            "coalesce(best_match, -1) AS best_match",
            "coalesce(n_matches, 0) AS n_matches",
            "coalesce(best_sim, 0.0) AS best_sim",
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_incremental_crawl"] = dedup_incremental_crawl

ORACLES["dedup_incremental_crawl"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {_P} AS ha,
               CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % {_P} AS hb
        FROM shingles
    ),
    sig AS (
        SELECT doc_id,
           {_SIG_COLS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS ({_BAND_ROWS}),
    cand AS (
        SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
        FROM bands i JOIN bands e
          ON i.band_idx = e.band_idx AND i.band_hash = e.band_hash
         AND i.doc_id >= 1000000 AND e.doc_id < 1000000
    ),
    scored AS (
        SELECT in_id, ex_id,
               round(({{_AGREE_IE}}) / {float(_K)}, 4) AS est_sim
        FROM cand
        JOIN sig si ON si.doc_id = in_id
        JOIN sig se ON se.doc_id = ex_id
    ),
    matches AS (
        SELECT in_id, min(ex_id) AS best_match,
               count(*) AS n_matches, max(est_sim) AS best_sim
        FROM scored WHERE est_sim >= 0.5
        GROUP BY in_id
    )
    SELECT s.doc_id,
           m.in_id IS NOT NULL AS is_dup,
           coalesce(m.best_match, -1) AS best_match,
           CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
           coalesce(m.best_sim, 0.0) AS best_sim
    FROM sig s LEFT JOIN matches m ON m.in_id = s.doc_id
    WHERE s.doc_id >= 1000000
    ORDER BY s.doc_id
"""

_AGREE_IE = " + ".join(
    f"CASE WHEN si.h{i} = se.h{i} THEN 1 ELSE 0 END" for i in range(_K)
)
ORACLES["dedup_incremental_crawl"] = ORACLES[
    "dedup_incremental_crawl"
].replace("{_AGREE_IE}", _AGREE_IE)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pair_stats(_doc_shingles(_dup_corpus(spark, sf_dir)))
    return (
        pairs.filter(
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")) >= 0.6
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )


def _connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal form: `members` is a real array (consumed by
    dedup_cluster_verdicts' explode). The registry-facing
    dedup_connected_components stringifies it at the boundary."""
    # undirected: propagate both ways. Symmetrize ROW-LOCALLY (explode of
    # the two directions) instead of unionAll(edges, edges.swapped): the
    # union form needed `edges` itself persisted so its two branches
    # wouldn't re-run the whole candidate pipeline, leaving BOTH the edge
    # table and its doubled sym twin pinned in executor storage (3× edge
    # rows) for the life of the loop — the explode emits both directions
    # inside the row, so one pipeline pass materializes `sym` directly
    # and only it is cached (2× edge rows, one persist fewer; guide-§5
    # cache hygiene, round-10).
    sym = (
        _edges(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "array(struct(src, dst),"
                    " struct(dst AS src, src AS dst))"
                )
            ).alias("p")
        )
        .select("p.*")
        .persist()
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")).persist()
    pinned = labels  # the currently-persisted frame (unpersist target)

    for i in range(20):  # bound ≥ graph diameter; dup chains are shallow
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry old + new label in ONE frame so the convergence check is
        # a filter over the materialized frame, not a third node-keyed
        # join per round (one join + one shuffle fewer per iteration;
        # measured ~25% off the fixpoint at sf0.1)
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # cache hygiene at 100 TB node scale: materialize the new label
        # table, DROP the superseded one (executor memory stays at ~one
        # label-table, not one per round), and truncate the join lineage
        # every 5 rounds so the plan doesn't grow 20 joins deep.
        # localCheckpoint cuts lineage without an HDFS checkpoint dir.
        if (i + 1) % 5 == 0:
            stepped = stepped.localCheckpoint(eager=True)
        else:
            stepped = stepped.persist()
        changed = stepped.filter(
            F.col("label") != F.col("old_label")
        ).count()
        pinned.unpersist()
        pinned = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            break

    # The converged label table was already materialized by the loop's
    # convergence counts — checkpoint it so (a) every downstream
    # consumer (this rollup, cluster verdicts, representatives) starts
    # from the materialized RDD instead of re-deriving the edge
    # pipeline + all rounds on re-execution (the DESIGN #30 class: the
    # persists above are orphaned by any clearCache between actions),
    # and (b) the loop-pinned frames can be RELEASED — edges/sym/last
    # stepped previously stayed persisted for the session's lifetime,
    # an executor-memory leak of one edge table + one label table per
    # CC invocation.
    labels = labels.localCheckpoint(eager=True)
    pinned.unpersist()
    sym.unpersist()

    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.expr("array_sort(collect_list(node))").alias("members"),
        )
        .select(F.col("label").alias("cluster_id"), "cluster_size", "members")
        .orderBy("cluster_id")
    )


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CSV members at the boundary — driver comparator can't hash array cells
    return _connected_components(spark, sf_dir).selectExpr(
        "cluster_id", "cluster_size", "array_join(members, ',') AS members"
    )


QUERIES["dedup_connected_components"] = dedup_connected_components

ORACLES["dedup_connected_components"] = f"""
        WITH RECURSIVE {_DUP_CORPUS_DUCK},
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
        reach(node, label) AS (
            SELECT DISTINCT src, src FROM sym
            UNION
            SELECT s.src, r.label
            FROM sym s JOIN reach r ON s.dst = r.node
        ),
        final AS (
            SELECT node, min(label) AS label FROM reach GROUP BY node
        )
        SELECT label AS cluster_id,
               count(*) AS cluster_size,
               array_to_string(list_sort(list(node)), ',') AS members
        FROM final
        GROUP BY label
        ORDER BY cluster_id
    """


# ---------------------------------------------------------------------------
# per-document dedup verdicts: the cluster pass's final output
# ---------------------------------------------------------------------------
def dedup_cluster_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product a curation pipeline actually consumes: one row
    per duplicate-involved document with its cluster id, cluster size,
    and the keep/drop verdict (canonical = min doc_id in the component
    — exactly what the min-label propagation converges to, so the
    cluster id IS the canonical id). Composes the connected-components
    fixpoint with a row-local member explode; documents outside any
    near-dup component are implicitly kept and never shuffled."""
    cc = _connected_components(spark, sf_dir)
    return (
        cc.select(
            "cluster_id",
            "cluster_size",
            F.explode("members").alias("doc_id"),
        )
        .withColumn("kept", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "cluster_size", "kept")
        .orderBy("doc_id")
    )


def dedup_cluster_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-based representative selection — the curation policy a
    real pipeline wants instead of keep-min-id: per near-dup cluster,
    keep the member with the best content score (distinct-token count
    as the primary signal, text length as the integer tiebreak, doc_id
    as the final deterministic tiebreak). Complements
    dedup_cluster_verdicts (positional keep-min-id policy) with the
    keep-best-quality policy; reference has no analog (SURVEY §2.3
    LLM-pipeline extras).

    Scale: the score is row-local over the corpus, members are only the
    duplicate-involved docs, and the arg-max is a per-cluster window —
    one equi-join + one bounded window partition per cluster."""
    cc = _connected_components(spark, sf_dir)
    members = cc.select(
        "cluster_id", "cluster_size", F.explode("members").alias("doc_id")
    )
    scores = _dup_corpus(spark, sf_dir).selectExpr(
        "doc_id",
        r"CAST(size(array_distinct(split(text, '\\s+'))) AS BIGINT)"
        " * 1000000 + length(text) AS score",
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        members.join(scores, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("score").alias("rep_score"),
        )
        .orderBy("cluster_id")
    )


QUERIES["dedup_cluster_verdicts"] = dedup_cluster_verdicts
QUERIES["dedup_cluster_representatives"] = dedup_cluster_representatives

ORACLES["dedup_cluster_verdicts"] = ORACLES[
    "dedup_connected_components"
].replace(
    """SELECT label AS cluster_id,
               count(*) AS cluster_size,
               array_to_string(list_sort(list(node)), ',') AS members
        FROM final
        GROUP BY label
        ORDER BY cluster_id""",
    """SELECT node AS doc_id,
               label AS cluster_id,
               count(*) OVER (PARTITION BY label) AS cluster_size,
               node = label AS kept
        FROM final
        ORDER BY doc_id""",
)
# the verdicts oracle is derived by textual rewrite of the components
# oracle — guard against a silent no-op if the source text drifts
assert ORACLES["dedup_cluster_verdicts"] != ORACLES["dedup_connected_components"]

ORACLES["dedup_cluster_representatives"] = ORACLES[
    "dedup_connected_components"
].replace(
    """SELECT label AS cluster_id,
               count(*) AS cluster_size,
               array_to_string(list_sort(list(node)), ',') AS members
        FROM final
        GROUP BY label
        ORDER BY cluster_id""",
    """SELECT cluster_id, cluster_size, rep_doc_id, rep_score FROM (
            SELECT f.label AS cluster_id,
                   count(*) OVER (PARTITION BY f.label) AS cluster_size,
                   f.node AS rep_doc_id,
                   s.score AS rep_score,
                   row_number() OVER (
                       PARTITION BY f.label
                       ORDER BY s.score DESC, f.node ASC
                   ) AS rn
            FROM final f
            JOIN (
                SELECT doc_id,
                       CAST(len(list_distinct(
                           string_split_regex(text, '\\s+'))) AS BIGINT)
                       * 1000000 + length(text) AS score
                FROM corpus
            ) s ON s.doc_id = f.node
        ) WHERE rn = 1
        ORDER BY cluster_id""",
)
assert (
    ORACLES["dedup_cluster_representatives"]
    != ORACLES["dedup_connected_components"]
)


# ---------------------------------------------------------------------------
# freshness keep-rule: keep the NEWEST crawl generation per dup group
# ---------------------------------------------------------------------------
def dedup_keep_newest_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup keep-rule by crawl recency — the policy knob production
    dedup actually exposes (min-doc_id is only the default): the dup
    corpus encodes crawl generation in the id offset (base=gen 0,
    +1M=gen 1 re-crawl, +2M=gen 2), and the rule keeps the NEWEST
    generation's copy of each exact group, tie-breaking on doc_id. Emits
    one verdict row per dup-involved document.

    Scale shape: one sha256 digest at scan (map-side), one groupBy on
    the uniformly-distributed digest, one row_number window per group —
    the mm_dedup_binary plan with a window where the min() was; payload
    text never shuffles (digest + ids only)."""
    c = _dup_corpus(spark, sf_dir).select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("digest"),
        (F.col("doc_id") / 1000000).cast("bigint").alias("crawl_gen"),
    )
    grp = W.partitionBy("digest")
    pick = W.partitionBy("digest").orderBy(
        F.desc("crawl_gen"), F.asc("doc_id")
    )
    return (
        c.withColumn("n_copies", F.count(F.lit(1)).over(grp))
        .filter(F.col("n_copies") > 1)
        .withColumn("kept", F.row_number().over(pick) == 1)
        .select("doc_id", "crawl_gen", "n_copies", "kept")
        .orderBy("doc_id")
    )


QUERIES["dedup_keep_newest_crawl"] = dedup_keep_newest_crawl

ORACLES["dedup_keep_newest_crawl"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    hashed AS (
        SELECT doc_id, sha256(text) AS digest,
               doc_id // 1000000 AS crawl_gen
        FROM corpus
    ),
    grouped AS (
        SELECT doc_id, crawl_gen,
               count(*) OVER (PARTITION BY digest) AS n_copies,
               row_number() OVER (PARTITION BY digest
                   ORDER BY crawl_gen DESC, doc_id ASC) AS rn
        FROM hashed
    )
    SELECT doc_id, crawl_gen, CAST(n_copies AS BIGINT) AS n_copies,
           rn = 1 AS kept
    FROM grouped
    WHERE n_copies > 1
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LSH bucket-size observability (the hot-bucket audit)
# ---------------------------------------------------------------------------
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational observability for every banded-LSH operator in this
    repo: per MinHash band, the bucket count, the largest bucket, how
    many buckets exceed the hot-bucket cap (8), and the candidate-pair
    bill Σ sz·(sz-1)/2 those buckets would generate — the number an
    operator reads BEFORE running a dedup pass to know whether a
    boilerplate hub is about to explode the join. Same signature
    pipeline as dedup_minhash_lsh (dedup.py:234 — one md5 per shingle,
    universal-hash family, 4 bands × 3 rows); the stats are one extra
    tiny aggregate on the band table, all integers."""
    c = _dup_corpus(spark, sf_dir)
    toks = c.withColumn("w", F.split("text", r"\s+"))
    sh = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "CASE WHEN size(w) < 3 THEN array() "
                "ELSE transform(sequence(1, size(w) - 2), "
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),"
                " element_at(w, i+2))) END"
            )
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    hashed = sh.select(
        "doc_id",
        (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
         % _P).alias("ha"),
        (F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10).cast("bigint")
         % _P).alias("hb"),
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("ha") + i * F.col("hb")) % _P).alias(f"h{i}")
            for i in range(_K)
        ]
    )
    band_exprs = ", ".join(
        f"{j}, concat_ws(':', h{3*j}, h{3*j+1}, h{3*j+2})"
        for j in range(_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id",
        f"stack({_BANDS}, {band_exprs}) AS (band_idx, band_hash)",
    )
    buckets = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.expr("CASE WHEN sz >= 8 THEN 1 ELSE 0 END")).alias(
                "n_hot_buckets"),
            F.sum(F.expr("sz * (sz - 1) div 2")).alias("candidate_pairs"),
        )
        .selectExpr("CAST(band_idx AS INT) AS band_idx", "n_buckets",
                    "max_bucket", "n_hot_buckets", "candidate_pairs")
        .orderBy("band_idx")
    )


QUERIES["dedup_lsh_bucket_stats"] = dedup_lsh_bucket_stats

ORACLES["dedup_lsh_bucket_stats"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {_P}
                   AS ha,
               CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % {_P}
                   AS hb
        FROM shingles
    ),
    sig AS (
        SELECT doc_id,
           {_SIG_COLS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS ({_BAND_ROWS}),
    buckets AS (
        SELECT band_idx, band_hash, count(*) AS sz
        FROM bands GROUP BY band_idx, band_hash
    )
    SELECT CAST(band_idx AS INTEGER) AS band_idx,
           count(*) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN sz >= 8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot_buckets,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets
    GROUP BY band_idx
    ORDER BY band_idx
"""


# ---------------------------------------------------------------------------
# Bloom-filter ingest prefilter with measured false-positive rate
# ---------------------------------------------------------------------------
_BLOOM_M = 16384  # bits
_BLOOM_SALTS = ("b0:", "b1:", "b2:")  # j=3 hash functions


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for incremental ingest (Bloom 1970; the
    Broder-Mitzenmacher network-survey framing): the already-ingested
    corpus partition (doc_id % 3 = 0) publishes a 16 Kbit filter (3
    salted md5 positions per doc); the incoming batch probes it and
    only 'maybe duplicate' docs pay the exact md5-equality join. The
    measured false-positive rate is the operator's own quality metric —
    the number that sizes m for a production filter (expected
    (1-e^{-jn/m})^j).

    Scale shape: the filter is a <= m-row distinct-positions table,
    broadcast to the probe side (in production it compacts to m/8 bytes
    — here the position-set join IS the membership test, one broadcast
    hash join); the exact verify runs only on filter hits. One summary
    row, all integers. Dup ground truth exists because _dup_corpus'
    +1e6 exact copies land in different residue classes than their
    originals."""
    c = _dup_corpus(spark, sf_dir)
    a = c.filter(F.col("doc_id") % 3 == 0)
    b = c.filter(F.col("doc_id") % 3 != 0)
    pos_arr = (
        "array("
        + ", ".join(
            f"CAST(conv(substring(md5(concat('{s}', text)), 1, 8), 16, 10)"
            f" AS BIGINT) % {_BLOOM_M}"
            for s in _BLOOM_SALTS
        )
        + ")"
    )
    abits = (
        a.select(F.explode(F.expr(pos_arr)).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    a_hashes = a.select(F.md5("text").alias("th")).distinct()
    probe = (
        b.select(
            "doc_id",
            F.md5("text").alias("th"),
            F.explode(F.expr(pos_arr)).alias("pos"),
        )
        .join(F.broadcast(abits), "pos", "left")
        .groupBy("doc_id", "th")
        .agg(F.sum(F.expr("CASE WHEN hit IS NULL THEN 0 ELSE 1 END"))
             .alias("nhit"))
    )
    flags = probe.join(
        F.broadcast(a_hashes.withColumn("dup", F.lit(1))), "th", "left"
    ).selectExpr(
        "CASE WHEN nhit = 3 THEN 1 ELSE 0 END AS maybe",
        "CASE WHEN dup IS NULL THEN 0 ELSE 1 END AS is_dup",
    )
    n_a = a.agg(F.count(F.lit(1)).alias("n_a"))
    return (
        flags.agg(
            F.count(F.lit(1)).alias("n_b"),
            F.sum("maybe").alias("n_maybe"),
            F.sum("is_dup").alias("n_true_dup"),
            F.sum(F.expr("maybe * (1 - is_dup)")).alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(n_a))
        .selectExpr(
            "n_a",
            "n_b",
            "n_maybe",
            "n_true_dup",
            "n_false_pos",
            # NULL when every probe doc is a true duplicate (the ×10
            # shard-replicated fixture reaches this: identical texts in
            # every shard make n_true_dup = n_b) — an unguarded divide
            # is an ANSI ArithmeticException
            "CASE WHEN n_b > n_true_dup THEN"
            " n_false_pos * 10000 div (n_b - n_true_dup) END AS fp_bp",
        )
    )


QUERIES["dedup_bloom_prefilter"] = dedup_bloom_prefilter


def _bloom_oracle() -> str:
    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, md5(text) AS th,"
        f" CAST('0x' || substr(md5('{s}' || text), 1, 8) AS BIGINT)"
        f" % {_BLOOM_M} AS pos FROM b"
        for s in _BLOOM_SALTS
    )
    return f"""
    WITH {_DUP_CORPUS_DUCK},
    a AS (SELECT * FROM corpus WHERE doc_id % 3 = 0),
    b AS (SELECT * FROM corpus WHERE doc_id % 3 <> 0),
    abits AS (
        SELECT DISTINCT pos FROM (
            {" UNION ALL ".join(
                f"SELECT CAST('0x' || substr(md5('{s}' || text), 1, 8)"
                f" AS BIGINT) % {_BLOOM_M} AS pos FROM a"
                for s in _BLOOM_SALTS)}
        )
    ),
    ah AS (SELECT DISTINCT md5(text) AS th FROM a),
    bpos AS ({pos_rows}),
    probe AS (
        SELECT doc_id, th,
               sum(CASE WHEN abits.pos IS NULL THEN 0 ELSE 1 END) AS nhit
        FROM bpos LEFT JOIN abits ON bpos.pos = abits.pos
        GROUP BY doc_id, th
    ),
    flags AS (
        SELECT CASE WHEN nhit = 3 THEN 1 ELSE 0 END AS maybe,
               CASE WHEN ah.th IS NULL THEN 0 ELSE 1 END AS is_dup
        FROM probe LEFT JOIN ah ON probe.th = ah.th
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
           CAST(count(*) AS BIGINT) AS n_b,
           CAST(sum(maybe) AS BIGINT) AS n_maybe,
           CAST(sum(is_dup) AS BIGINT) AS n_true_dup,
           CAST(sum(maybe * (1 - is_dup)) AS BIGINT) AS n_false_pos,
           CAST(CASE WHEN count(*) > CAST(sum(is_dup) AS BIGINT) THEN
                CAST(sum(maybe * (1 - is_dup)) AS BIGINT) * 10000
                // (count(*) - CAST(sum(is_dup) AS BIGINT)) END AS BIGINT)
               AS fp_bp
    FROM flags
    """


ORACLES["dedup_bloom_prefilter"] = _bloom_oracle()


# ---------------------------------------------------------------------------
# IDF-weighted Jaccard near-dup similarity
# ---------------------------------------------------------------------------
_WJ_TAU_BP = 5000  # weighted-Jaccard ≥ 0.5


def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by IDF-WEIGHTED Jaccard: each shingle carries
    w = 1e6 div df (rare shingles dominate, boilerplate shingles are
    nearly free) — the standard upgrade over plain Jaccard when corpora
    share heavy template text (Broder's shingling + tf-idf weighting as
    used in SpotSigs, Theobald et al. SIGIR'08). Pairs are generated
    from the same capped inverted-postings expansion as _pair_stats
    (dedup.py:150) — never an all-pairs join — with each posting row
    carrying the doc's total weight so no doc-level join remains in the
    final plan; the shingle's own weight rides the expansion so the
    per-pair SUM IS the intersection weight.

    Determinism: weights and totals are exact int64 (df ≥ 1, Σw per doc
    ≤ 1e6 · shingles/doc); the verdict ratio is one ×10000
    multiply-then-divide on positive ints."""
    sh = (
        _doc_shingles(_dup_corpus(spark, sf_dir))
        .select(
            "doc_id",
            F.explode_outer("shs").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    dfw = sh.groupBy("shingle").agg(
        F.expr("CAST(1000000 div count(1) AS BIGINT)").alias("w")
    )
    sw = sh.join(dfw, "shingle")
    tw = sw.groupBy("doc_id").agg(F.sum("w").alias("tw"))
    postings = (
        sw.join(tw, "doc_id")
        .groupBy("shingle")
        .agg(
            F.max("w").alias("w"),
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tw"))
            ).alias("ds"),
        )
        .filter((F.size("ds") > 1) & (F.size("ds") <= 128))
    )
    pairs = (
        postings.select(
            "w",
            F.explode_outer(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                    "x.tw AS tw_a, y.tw AS tw_b))))"
                )
            ).alias("p"),
        )
        .filter(F.col("p").isNotNull())
        .groupBy("p.doc_a", "p.doc_b", "p.tw_a", "p.tw_b")
        .agg(F.sum("w").alias("iw"))
    )
    return (
        pairs.selectExpr(
            "doc_a",
            "doc_b",
            "iw",
            "tw_a + tw_b - iw AS uw",
            "iw * 10000 div (tw_a + tw_b - iw) AS wj_bp",
        )
        .filter(F.col("wj_bp") >= _WJ_TAU_BP)
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup_weighted_jaccard"] = dedup_weighted_jaccard


def _wj_oracle() -> str:
    return f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    dfw AS (
        SELECT shingle, CAST(1000000 // count(*) AS BIGINT) AS w
        FROM shingles GROUP BY shingle
    ),
    sw AS (
        SELECT s.doc_id, s.shingle, dfw.w
        FROM shingles s JOIN dfw ON s.shingle = dfw.shingle
    ),
    tw AS (
        SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw FROM sw GROUP BY 1
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.w) AS BIGINT) AS iw
        FROM sw a JOIN sw b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, iw,
           ta.tw + tb.tw - iw AS uw,
           iw * 10000 // (ta.tw + tb.tw - iw) AS wj_bp
    FROM pairs
    JOIN tw ta ON ta.doc_id = doc_a
    JOIN tw tb ON tb.doc_id = doc_b
    WHERE iw * 10000 // (ta.tw + tb.tw - iw) >= {_WJ_TAU_BP}
    ORDER BY doc_a, doc_b
    """


ORACLES["dedup_weighted_jaccard"] = _wj_oracle()


# ---------------------------------------------------------------------------
# b-bit minhash similarity estimation
# ---------------------------------------------------------------------------
_BBIT_K = 16


def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash (Li & König 2010, b=1, k=16): store only the
    LOWEST BIT of each of 16 minhashes — 2 bytes per doc instead of
    128 — and estimate Jaccard from the bit-agreement fraction via
    ĵ = 2·(agree/k) − 1 (for b=1 a non-matching pair agrees half the
    time). Candidates come from dedup's inverted-postings builder (never
    all-pairs); the estimate is compared against the exact Jaccard the
    postings already carry, reporting the estimator error — the storage
    -vs-accuracy tradeoff measurement that justifies b-bit sketches at
    100 TB. All hashing is md5; signatures pack into one BIGINT."""
    corpus = _dup_corpus(spark, sf_dir)
    # localCheckpoint, NOT persist: consumed by the pair listing at
    # build time AND the signature path on every re-execution. A
    # persist() here is orphaned by any clearCache() between actions —
    # the plan's InMemoryRelation stays but the cache entry is gone, so
    # EVERY later run recomputes the shingle build once per consumer
    # subtree (~13 s/run measured at sf0.1, the DESIGN #30 class);
    # the eager checkpoint pays the build once and stays immune.
    shs = _doc_shingles(corpus).localCheckpoint(eager=True)
    pairs = _pair_stats(shs)
    # top-20 via TakeOrderedAndProject + checkpoint (consumed 3x below);
    # the 16x shingle-hash signature explode then runs for ONLY the <=40
    # docs those pairs touch (broadcast semi-join), not the corpus —
    # first sweep paid 23.6 s / x12 computing corpus-wide signatures that
    # the result never read
    top = (
        pairs.orderBy(F.desc("inter"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .withColumn("rn", F.row_number().over(
            W.orderBy(F.desc("inter"), F.asc("doc_a"), F.asc("doc_b"))))
        .localCheckpoint(eager=True)
    )
    need = (
        top.selectExpr("doc_a AS doc_id")
        .unionAll(top.selectExpr("doc_b AS doc_id")).distinct()
    )
    sigs = (
        shs.join(F.broadcast(need), "doc_id", "semi")
        .selectExpr("doc_id", "explode(shs) AS shingle")
        .selectExpr("doc_id", "shingle",
                    f"explode(sequence(0, {_BBIT_K - 1})) AS j")
        .selectExpr(
            "doc_id", "j",
            "CAST(conv(substring(md5(concat(CAST(j AS STRING), '|', shingle)),"
            " 1, 8), 16, 10) AS BIGINT) AS h",
        )
        .groupBy("doc_id", "j")
        .agg(F.min("h").alias("m"))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(
            "CASE WHEN m % 2 = 1 THEN shiftleft(CAST(1 AS BIGINT), j)"
            " ELSE CAST(0 AS BIGINT) END")).alias("sig"))
    )
    return (
        top.join(sigs.selectExpr("doc_id AS doc_a", "sig AS sig_a"), "doc_a")
        .join(sigs.selectExpr("doc_id AS doc_b", "sig AS sig_b"), "doc_b")
        .selectExpr(
            "CAST(rn AS INT) AS rank", "doc_a", "doc_b",
            "inter * 1000000 DIV (sz_a + sz_b - inter) AS exact_ppm",
            f"CAST((2 * ({_BBIT_K} - bit_count(sig_a ^ sig_b)) - {_BBIT_K})"
            f" * {1000000 // _BBIT_K} AS BIGINT) AS est_ppm",
            f"abs((2 * ({_BBIT_K} - bit_count(sig_a ^ sig_b)) - {_BBIT_K})"
            f" * {1000000 // _BBIT_K}"
            " - inter * 1000000 DIV (sz_a + sz_b - inter)) AS err_ppm",
        )
        .orderBy("rank")
    )


QUERIES["dedup_bbit_minhash"] = dedup_bbit_minhash

ORACLES["dedup_bbit_minhash"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    top AS (
        SELECT p.doc_a, p.doc_b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b,
               row_number() OVER (
                   ORDER BY p.inter DESC, p.doc_a ASC, p.doc_b ASC) AS rn
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        QUALIFY rn <= 20
    ),
    sigs AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN m % 2 = 1 THEN (CAST(1 AS BIGINT) << j)
                        ELSE 0 END) AS BIGINT) AS sig
        FROM (
            SELECT s.doc_id, seeds.j,
                   MIN(CAST('0x' || substr(md5(CAST(seeds.j AS VARCHAR)
                       || '|' || s.shingle), 1, 8) AS BIGINT)) AS m
            FROM shingles s
            CROSS JOIN (SELECT unnest(generate_series(0, {_BBIT_K - 1}))
                        AS j) seeds
            WHERE s.doc_id IN (SELECT doc_a FROM top
                               UNION SELECT doc_b FROM top)
            GROUP BY s.doc_id, seeds.j
        )
        GROUP BY doc_id
    )
    SELECT CAST(t.rn AS INT) AS rank, t.doc_a, t.doc_b,
           CAST(t.inter * 1000000 // (t.sz_a + t.sz_b - t.inter) AS BIGINT)
               AS exact_ppm,
           CAST((2 * ({_BBIT_K} - bit_count(xor(ga.sig, gb.sig)))
                 - {_BBIT_K}) * {1000000 // _BBIT_K} AS BIGINT) AS est_ppm,
           CAST(abs((2 * ({_BBIT_K} - bit_count(xor(ga.sig, gb.sig)))
                 - {_BBIT_K}) * {1000000 // _BBIT_K}
                 - t.inter * 1000000 // (t.sz_a + t.sz_b - t.inter))
                AS BIGINT) AS err_ppm
    FROM top t
    JOIN sigs ga ON ga.doc_id = t.doc_a
    JOIN sigs gb ON gb.doc_id = t.doc_b
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# MinHash band-parameter sweep
# ---------------------------------------------------------------------------
_BAND_CONFIGS = [(4, 3), (6, 2), (3, 4)]  # (bands, rows) over K=12 hashes


def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: with the SAME 12 minhashes, compare
    three band layouts — (4 bands × 3 rows), (6×2, recall-leaning),
    (3×4, precision-leaning) — against exact ground truth (Jaccard >=
    0.5 from the inverted-postings pair listing). The
    recall-vs-candidate-cost table that picks production LSH parameters
    (the tuning sweep dedup_lsh_eval runs for ONE config). Signatures
    compute once; each config re-stacks the same 12 columns; candidates
    are band-key equi-joins."""
    c = _dup_corpus(spark, sf_dir)
    shs = _doc_shingles(c).persist()
    hashed = shs.selectExpr(
        "doc_id", "explode(shs) AS shingle"
    ).selectExpr(
        "doc_id",
        f"CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT)"
        f" % {_P} AS ha",
        f"CAST(conv(substring(md5(shingle), 9, 8), 16, 10) AS BIGINT)"
        f" % {_P} AS hb",
    )
    # localCheckpoint (eager), not persist: the signature table and the
    # ground-truth pair set are consumed by all three configs, and a
    # re-executed plan (bench best-of-N re-runs the SAME frame after
    # clearCache) would otherwise re-materialize both caches per run —
    # measured 17-20 s vs ~4 s with the lineage truncated here
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(F.expr(f"(ha + {i} * hb) % {_P}")).alias(f"h{i}")
          for i in range(_K)]
    ).localCheckpoint(eager=True)
    truth = (
        _pair_stats(shs)
        .filter("inter * 2 >= sz_a + sz_b - inter")  # jaccard >= 0.5
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    shs.unpersist()
    truth_marked = truth.withColumn("is_true", F.lit(1))
    parts = []
    for b, r in _BAND_CONFIGS:
        band_exprs = ", ".join(
            f"{j}, concat_ws(':', {', '.join(f'h{r * j + k}' for k in range(r))})"
            for j in range(b)
        )
        bands = sig.selectExpr(
            "doc_id", f"stack({b}, {band_exprs}) AS (band_idx, band_hash)"
        )
        cand = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # candidate count and truth-hit count from ONE pass over the
        # band join (left-join marker), not a second semi-join — halves
        # the expensive band self-joins per config
        parts.append(
            cand.join(truth_marked, ["doc_a", "doc_b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_candidates"),
                F.sum(F.coalesce(F.col("is_true"), F.lit(0))).alias("n_hit"),
            )
            .selectExpr(f"'{b}x{r}' AS config", "n_candidates", "n_hit")
            .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        )
    res = parts[0]
    for pt in parts[1:]:
        res = res.unionAll(pt)
    # NULL-guard both ratios: under extreme shard replication the
    # hot-shingle cap can empty the ground-truth set (every posting
    # list blows past the cap), and a config can produce zero
    # candidates — the Bloom-prefilter ×10 finding's class
    return res.selectExpr(
        "config", "n_candidates", "n_truth", "n_hit",
        "CASE WHEN n_truth = 0 THEN NULL"
        " ELSE n_hit * 1000000 DIV n_truth END AS recall_ppm",
        "CASE WHEN n_candidates = 0 THEN NULL"
        " ELSE n_hit * 1000000 DIV n_candidates END AS precision_ppm",
    ).orderBy("config")


QUERIES["dedup_minhash_band_sweep"] = dedup_minhash_band_sweep


def _sweep_cfg_duck(b: int, r: int) -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, "
        + " || ':' || ".join(f"h{r * j + k}" for k in range(r))
        + " AS band_hash FROM sig"
        for j in range(b)
    )
    return f"""
        SELECT '{b}x{r}' AS config,
               (SELECT COUNT(*) FROM (
                   SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM ({band_rows}) a JOIN ({band_rows}) b
                     ON a.band_idx = b.band_idx
                    AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id)) AS n_candidates,
               (SELECT COUNT(*) FROM (
                   SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM ({band_rows}) a JOIN ({band_rows}) b
                     ON a.band_idx = b.band_idx
                    AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id) c
                WHERE EXISTS (SELECT 1 FROM truth t
                              WHERE t.doc_a = c.doc_a
                                AND t.doc_b = c.doc_b)) AS n_hit
    """


ORACLES["dedup_minhash_band_sweep"] = f"""
    WITH {_DUP_CORPUS_DUCK},
    {_SHINGLES_DUCK},
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {_P} AS ha,
               CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) % {_P} AS hb
        FROM shingles
    ),
    sig AS MATERIALIZED (
        SELECT doc_id,
               {", ".join(f"MIN((ha + {i} * hb) % {_P}) AS h{i}"
                          for i in range(_K))}
        FROM hashed GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    truth AS MATERIALIZED (
        SELECT p.doc_a, p.doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE p.inter * 2 >= sa.sz + sb.sz - p.inter
    ),
    cfg AS (
        {" UNION ALL ".join(_sweep_cfg_duck(b, r) for b, r in _BAND_CONFIGS)}
    )
    SELECT config,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
                ELSE n_hit * 1000000 // (SELECT COUNT(*) FROM truth) END
                AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN n_candidates = 0 THEN NULL
                ELSE n_hit * 1000000 // n_candidates END AS BIGINT)
               AS precision_ppm
    FROM cfg
    ORDER BY config
"""


# ---------------------------------------------------------------------------
# dedup token-savings ledger
# ---------------------------------------------------------------------------
def dedup_tokens_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounting view of exact dedup: per source, how many documents
    and tokens the md5-keeper rule (min doc_id per text hash) actually
    removes, and the savings in ppm of the source's token budget — the
    number a data-mixture owner reads before re-weighting sources.

    Uses the same synthesized dup corpus as dedup_exact (base docs plus
    mirrored copies for doc_id % 10 == 0; the mirror is attributed to a
    '<source>_mirror' pseudo-source, the cross-site case where savings
    accounting matters).

    Scale shape: one groupBy on the text hash carrying (min doc_id) —
    the same single shuffle dedup_exact pays — then the verdict joins
    back on the hash (reusing the exchange) and ONE narrow
    groupBy(source). No text ever shuffles twice: the hash is the key.

    Mirror-id contract (ADVICE r7): the +1e6 pseudo-id offset follows
    the dedup.py mirror-corpus precedent and assumes fixture
    doc_id < 1e6 (driver fixtures top out ~6e4 at sf0.1). If fixtures
    ever outgrow that, change the offset to a shared high-bit tag
    across ALL mirror-corpus operators at once (here,
    sample_dedup_aware_mixture, dedup.py) so keeper attribution stays
    collision-free everywhere simultaneously.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id"), F.col("text"), F.col("source")
                ),
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
        "doc_id",
        "source",
        "md5(text) AS text_hash",
        "size(split(text, ' ')) AS n_tok",
    )
    keepers = h.groupBy("text_hash").agg(F.min("doc_id").alias("kept_doc_id"))
    return (
        h.join(keepers, "text_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("CAST(doc_id != kept_doc_id AS INT)")).alias(
                "n_dropped"
            ),
            F.sum("n_tok").alias("tokens_total"),
            F.sum(
                F.expr("CASE WHEN doc_id != kept_doc_id THEN n_tok ELSE 0 END")
            ).alias("tokens_dropped"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_dropped",
            "tokens_total",
            "tokens_dropped",
            "tokens_dropped * 1000000 DIV tokens_total AS savings_ppm",
        )
        .orderBy("source")
    )


QUERIES["dedup_tokens_saved"] = dedup_tokens_saved

ORACLES["dedup_tokens_saved"] = """
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
    keepers AS (
        SELECT text_hash, MIN(doc_id) AS kept_doc_id
        FROM h GROUP BY text_hash
    )
    SELECT h.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id != k.kept_doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dropped,
           CAST(SUM(h.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN h.doc_id != k.kept_doc_id THEN h.n_tok
                    ELSE 0 END) AS BIGINT) AS tokens_dropped,
           CAST(SUM(CASE WHEN h.doc_id != k.kept_doc_id THEN h.n_tok
                    ELSE 0 END) * 1000000 // SUM(h.n_tok) AS BIGINT)
               AS savings_ppm
    FROM h JOIN keepers k USING (text_hash)
    GROUP BY h.source
    ORDER BY h.source
"""


# ---------------------------------------------------------------------------
# shingle document-frequency spectrum
# ---------------------------------------------------------------------------
def dedup_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-frequency spectrum of 8-token shingles, in
    power-of-two bands — the diagnostic read before choosing any df-cap
    (text_cross_source_overlap's ≤16, text_tfidf_cosine_pairs' posting
    cap): how much of the posting mass lives in rare vs ubiquitous
    shingles decides what a cap discards.

    Scale shape: one explode → groupBy(shingle) with partial
    count_distinct(doc_id) — the single wide shuffle — then a 6-row
    band aggregate; the share-of-total window runs over those ≤6 rows
    (GLOBAL_WINDOW_OK: band-cardinality bounded by the CASE arms).
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "split(text, ' ') AS w"
    )
    df_tab = (
        d.filter(F.expr("size(w) >= 8"))
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(0, size(w) - 8),"
            " i -> array_join(slice(w, i + 1, 8), ' '))) AS shingle",
        )
        .groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    bands = df_tab.selectExpr(
        "CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'"
        " WHEN df <= 4 THEN '3-4' WHEN df <= 8 THEN '5-8'"
        " WHEN df <= 16 THEN '9-16' ELSE '17+' END AS df_band",
        "df",
    ).groupBy("df_band").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").alias("postings"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        bands.withColumn("tot", F.sum("postings").over(wall))
        .selectExpr(
            "df_band",
            "n_shingles",
            "postings",
            "postings * 1000000 DIV tot AS postings_share_ppm",
        )
        .orderBy("df_band")
    )


QUERIES["dedup_shingle_df_spectrum"] = dedup_shingle_df_spectrum

ORACLES["dedup_shingle_df_spectrum"] = """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i + 1, i + 8), ' ') AS shingle
        FROM d, unnest(generate_series(0, len(w) - 8)) t(i)
        WHERE len(w) >= 8
    ),
    df_tab AS (
        SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ),
    bands AS (
        SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
                    WHEN df <= 4 THEN '3-4' WHEN df <= 8 THEN '5-8'
                    WHEN df <= 16 THEN '9-16' ELSE '17+' END AS df_band,
               COUNT(*) AS n_shingles,
               CAST(SUM(df) AS BIGINT) AS postings
        FROM df_tab GROUP BY 1
    )
    SELECT df_band, n_shingles, postings,
           CAST(postings * 1000000 // SUM(postings) OVER () AS BIGINT)
               AS postings_share_ppm
    FROM bands
    ORDER BY df_band
"""


# ---------------------------------------------------------------------------
# exact-dup cluster-size spectrum
# ---------------------------------------------------------------------------
def dedup_cluster_size_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The size distribution of exact-duplicate clusters — the shape
    behind every dedup savings number: a corpus dominated by size-2
    clusters dedups very differently (mirror sites) from one with
    9+ giants (boilerplate storms). Bands: 1 / 2 / 3-4 / 5-8 / 9+,
    with per-band cluster count, document count, and the band's
    duplication overhead (docs beyond one keeper per cluster, ppm of
    the band's docs).

    Corpus: documents plus mirrors at doc_id%10==0 (+1e6 ids, the
    dedup.py mirror contract — see dedup_tokens_saved's headroom note)
    and second mirrors at doc_id%50==0 (+2e6), so the fixture
    exercises bands 1, 2 and 3-4 deterministically.

    Scale shape: one groupBy(md5(text)) — the dedup_exact shuffle —
    then a ≤5-group band aggregate. All arithmetic band-local; no
    totals cross, no windows.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.struct(
                        (F.col("doc_id") + 1000000).alias("doc_id"),
                        F.col("text"),
                    ),
                ),
                F.when(
                    F.col("doc_id") % 50 == 0,
                    F.struct(
                        (F.col("doc_id") + 2000000).alias("doc_id"),
                        F.col("text"),
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*").filter(F.col("doc_id").isNotNull())
    clusters = corpus.selectExpr("md5(text) AS h").groupBy("h").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        clusters.selectExpr(
            "c",
            "CASE WHEN c = 1 THEN '1_unique' WHEN c = 2 THEN '2_pair'"
            " WHEN c <= 4 THEN '3_4' WHEN c <= 8 THEN '5_8'"
            " ELSE '9_plus' END AS band",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("c").alias("n_docs"),
        )
        .selectExpr(
            "band",
            "n_clusters",
            "n_docs",
            "(n_docs - n_clusters) * 1000000 DIV n_docs"
            " AS dup_overhead_ppm",
        )
        .orderBy("band")
    )


QUERIES["dedup_cluster_size_spectrum"] = dedup_cluster_size_spectrum

ORACLES["dedup_cluster_size_spectrum"] = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0
    ),
    clusters AS (
        SELECT md5(text) AS h, COUNT(*) AS c FROM corpus GROUP BY md5(text)
    ),
    banded AS (
        SELECT c,
               CASE WHEN c = 1 THEN '1_unique' WHEN c = 2 THEN '2_pair'
                    WHEN c <= 4 THEN '3_4' WHEN c <= 8 THEN '5_8'
                    ELSE '9_plus' END AS band
        FROM clusters
    )
    SELECT band,
           COUNT(*) AS n_clusters,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
               AS dup_overhead_ppm
    FROM banded
    GROUP BY band
    ORDER BY band
"""
