"""Text-analysis operators over `documents` — the training-data-pipeline
surface (BASELINE.json north star): language-ID heuristic, quality
scoring, token statistics, and document fingerprinting.

All computation is JVM-side expressions (split/regexp/aggregate/
higher-order fns) — no Python in the row path. Ratios are single
divisions of integer counts (no float-summation order issues), rounded
for stable cross-engine hashing.

Scale notes: everything here is embarrassingly parallel per-document
(narrow transforms after the scan — no shuffle except the final
aggregations, which are standard partial-agg groupBys). Literal stopword
tables ship with the plan (broadcast by value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kuibadb_spark.catalog import load
from kuibadb_spark.plans.ranks import distributed_ntile


# Per-language "stopword" tables for the n-gram/stopword lang-ID heuristic.
# With the synthetic fixture vocabulary these are arbitrary but fixed; for
# real corpora, swap in real stopword lists — the operator shape is the
# contract (literal lookup tables + argmax over per-language scores).
_STOP = {
    "de": ("data", "row", "group", "window"),
    "en": ("the", "a", "fast", "order", "table"),
    "es": ("slow", "agg", "value", "line"),
    "fr": ("scan", "batch", "merge", "stream"),
    "zh": ("join", "small", "customer", "key"),
}
_LANGS = sorted(_STOP)


def _score_exprs_spark() -> list[str]:
    out = []
    for lang in _LANGS:
        lits = ", ".join(f"'{w}'" for w in _STOP[lang])
        out.append(
            f"size(filter(toks, t -> t IN ({lits}))) / CAST(size(toks) AS DOUBLE)"
            f" AS s_{lang}"
        )
    return out


def _score_exprs_duck() -> list[str]:
    out = []
    for lang in _LANGS:
        lits = ", ".join(f"'{w}'" for w in _STOP[lang])
        out.append(
            f"len(list_filter(toks, t -> t IN ({lits})))"
            f" / CAST(len(toks) AS DOUBLE) AS s_{lang}"
        )
    return out


def _argmax_sql() -> str:
    m = "greatest(" + ", ".join(f"s_{l}" for l in _LANGS) + ")"
    branches = " ".join(f"WHEN s_{l} = {m} THEN '{l}'" for l in _LANGS)
    return f"CASE {branches} END"


# ---------------------------------------------------------------------------
# language ID: per-language stopword-hit scores → argmax
# ---------------------------------------------------------------------------
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", "lang", r"split(text, '\\s+') AS toks")
    scored = toks.selectExpr("doc_id", "lang", *_score_exprs_spark())
    pred = scored.selectExpr(
        "doc_id", "lang", f"{_argmax_sql()} AS predicted_lang"
    )
    return (
        pred.groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# quality scoring: length / token / stopword / uniqueness signals
# ---------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = d.selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        r"split(text, '\\s+') AS toks",
        "length(text) AS text_len",
    ).selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        "text_len",
        "size(toks) AS n_toks",
        "size(array_distinct(toks)) AS n_uniq",
        "size(filter(toks, t -> t IN ('the', 'a'))) AS n_stop",
        "aggregate(toks, 0, (acc, t) -> acc + length(t)) AS tok_chars",
    )
    return (
        q.selectExpr(
            "doc_id",
            "lang",
            "n_toks",
            "round(n_uniq / CAST(n_toks AS DOUBLE), 6) AS uniq_ratio",
            "round(n_stop / CAST(n_toks AS DOUBLE), 6) AS stop_ratio",
            "round(tok_chars / CAST(n_toks AS DOUBLE), 6) AS avg_tok_len",
            "CASE WHEN n_toks >= 20 AND n_uniq / CAST(n_toks AS DOUBLE) > 0.3"
            " THEN true ELSE false END AS keep",
        )
        .filter(F.col("doc_id") < 200)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# token statistics per source (whitespace + regex word tokens + hapax)
# ---------------------------------------------------------------------------
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_doc = d.selectExpr(
        "doc_id",
        "source",
        r"size(split(text, '\\s+')) AS ws_toks",
        r"size(regexp_extract_all(text, '[a-z]+', 0)) AS re_toks",
        # GPT-2-style BPE pre-tokenizer shape: a leading space binds to the
        # following word/number run; other rune runs stand alone
        r"size(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+', 0))"
        " AS bpe_toks",
        "length(text) AS chars",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_toks").alias("total_ws_toks"),
            F.sum("re_toks").alias("total_re_toks"),
            F.sum("bpe_toks").alias("total_bpe_toks"),
            F.sum("chars").alias("total_chars"),
            F.expr("(sum(ws_toks) * 1000) div count(1)").alias("toks_per_doc_e3"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# fingerprinting: token-multiset-invariant id (catches reorderings)
# ---------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # synthesize reordered copies: token-reversed text, same multiset
    rev = d.filter(F.col("doc_id") % 5 == 0).selectExpr(
        "doc_id + 1000000 AS doc_id",
        r"array_join(reverse(split(text, '\\s+')), ' ') AS text",
    )
    corpus = d.unionAll(rev)
    fp = corpus.selectExpr(
        "doc_id",
        # OpenRefine-style fingerprint: sorted distinct lowered tokens
        r"md5(array_join(array_sort(array_distinct(split(lower(text), '\\s+'))),"
        r" ' ')) AS fingerprint",
        # position-sensitive content hash (reorderings differ here)
        "md5(text) AS exact_hash",
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("exact_hash").alias("n_distinct_texts"),
            F.min("doc_id").alias("kept_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("kept_doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF: corpus-wide document frequencies → top-3 terms per doc
# ---------------------------------------------------------------------------
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF with smoothed idf = ln((N+1)/(df+1)). Ranking orders
    by the ROUNDED score (ties then broken by token) so the top-3 choice
    can't flip on a last-ulp ln() difference between engines.

    Scale: tf is one partial-aggregated shuffle on (doc_id, tok); df is a
    re-aggregation of tf (already small); N is a single-row broadcast. The
    top-k window partitions by doc_id — same shuffle key as tf, and the
    doc filter prunes before the window."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.filter(F.col("doc_id") % 100 == 0)
        .join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tfidf")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# percentile length-band curation: keep docs inside the P05–P95 token-
#    count band (the standard outlier trim before training)
# ---------------------------------------------------------------------------
def text_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", r"size(split(text, '\\s+')) AS n_toks"
    )
    band = d.agg(
        F.expr("percentile(n_toks, 0.05)").alias("p05"),
        F.expr("percentile(n_toks, 0.95)").alias("p95"),
    )
    return (
        d.crossJoin(F.broadcast(band))
        .withColumn(
            "kept", (F.col("n_toks") >= F.col("p05")) & (F.col("n_toks") <= F.col("p95"))
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "text_lang_id": text_lang_id,
    "text_quality": text_quality,
    "text_token_stats": text_token_stats,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_length_band_filter": text_length_band_filter,
}

_SCORES_DUCK = ", ".join(_score_exprs_duck())

ORACLES = {
    "text_lang_id": f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, {_SCORES_DUCK} FROM toks
        ), pred AS (
            SELECT doc_id, lang, {_argmax_sql()} AS predicted_lang FROM scored
        )
        SELECT lang, predicted_lang, count(*) AS n_docs
        FROM pred
        GROUP BY lang, predicted_lang
        ORDER BY lang, predicted_lang
    """,
    "text_quality": """
        WITH t AS (
            SELECT doc_id, lang, n_chars,
                   string_split_regex(text, '\\s+') AS toks
            FROM documents
        ), q AS (
            SELECT doc_id, lang,
                   len(toks) AS n_toks,
                   len(list_distinct(toks)) AS n_uniq,
                   len(list_filter(toks, t -> t IN ('the', 'a'))) AS n_stop,
                   list_sum(list_transform(toks, t -> length(t))) AS tok_chars
            FROM t
        )
        SELECT doc_id, lang,
               CAST(n_toks AS INTEGER) AS n_toks,
               round(n_uniq / CAST(n_toks AS DOUBLE), 6) AS uniq_ratio,
               round(n_stop / CAST(n_toks AS DOUBLE), 6) AS stop_ratio,
               round(tok_chars / CAST(n_toks AS DOUBLE), 6) AS avg_tok_len,
               (n_toks >= 20 AND n_uniq / CAST(n_toks AS DOUBLE) > 0.3) AS keep
        FROM q
        WHERE doc_id < 200
        ORDER BY doc_id
    """,
    "text_token_stats": """
        WITH per_doc AS (
            SELECT doc_id, source,
                   len(string_split_regex(text, '\\s+')) AS ws_toks,
                   len(regexp_extract_all(text, '[a-z]+')) AS re_toks,
                   len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+'))
                       AS bpe_toks,
                   length(text) AS chars
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(ws_toks) AS BIGINT) AS total_ws_toks,
               CAST(sum(re_toks) AS BIGINT) AS total_re_toks,
               CAST(sum(bpe_toks) AS BIGINT) AS total_bpe_toks,
               CAST(sum(chars) AS BIGINT) AS total_chars,
               CAST((sum(ws_toks) * 1000) // count(*) AS BIGINT) AS toks_per_doc_e3
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
    "text_tfidf_top_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, tok,
                   round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
            FROM tf JOIN df USING (tok) CROSS JOIN n
            WHERE doc_id % 100 = 0
        ),
        ranked AS (
            SELECT doc_id, tok, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, tok) AS rnk
            FROM scored
        )
        SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok, tfidf
        FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
    "text_length_band_filter": """
        WITH d AS (
            SELECT doc_id, lang,
                   len(string_split_regex(text, '\\s+')) AS n_toks
            FROM documents
        ),
        band AS (
            SELECT quantile_cont(n_toks, 0.05) AS p05,
                   quantile_cont(n_toks, 0.95) AS p95
            FROM d
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN n_toks >= p05 AND n_toks <= p95
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN n_toks >= p05 AND n_toks <= p95
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM d CROSS JOIN band
        GROUP BY lang
        ORDER BY lang
    """,
    "text_fingerprint": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   array_to_string(list_reverse(string_split_regex(text, '\\s+')), ' ')
            FROM documents WHERE doc_id % 5 = 0
        ), fp AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split_regex(lower(text), '\\s+'))), ' ')) AS fingerprint,
                   md5(text) AS exact_hash
            FROM corpus
        )
        SELECT fingerprint, count(*) AS n_docs,
               count(DISTINCT exact_hash) AS n_distinct_texts,
               min(doc_id) AS kept_doc_id
        FROM fp
        GROUP BY fingerprint
        HAVING count(*) > 1
        ORDER BY kept_doc_id
    """,
}


# ---------------------------------------------------------------------------
# full-text search: inverted postings + conjunctive query, integer tf-idf
# ---------------------------------------------------------------------------
_FTS_TERMS = ("hash", "join", "stream")


def text_search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean full-text search: docs containing ALL query terms, ranked
    by tf·idf. The postings list (doc_id, term, tf) IS the inverted
    index — built by one explode+groupBy; the conjunctive query is a
    HAVING count(term)=|q| over postings restricted to query terms.

    idf is the EXACT integer (1e6·N) div df — cross-engine-stable where
    ln(N/df) is not, and rank-order-equivalent for a fixed N (both are
    monotone decreasing in df).

    Scale: the term filter hits the scan (predicate on the exploded
    token), so postings are built only for query terms — the shuffle is
    |q| terms × matching docs, not the corpus vocabulary. df and N are
    K-row broadcasts. At 100 TB one would persist the full postings
    table partitioned by term and skip straight to the join; the query
    side of the plan is identical."""
    docs = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _FTS_TERMS)
    postings = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .filter(F.expr(f"term IN ({terms})"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # df computed INLINE with a count() window over term: a separate
    # df_t = postings.groupBy(term) subtree is NOT exchange-reusable
    # (column pruning specializes each consumer's scan), so the whole
    # scan+explode pipeline ran once per consumer — 6 scans in the final
    # plan, measured 0.62s -> 0.48s at sf0.1. The window shares the
    # postings exchange; the corpus is scanned exactly once.
    wt = W.partitionBy("term")
    return (
        postings.withColumn("df", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n))
        .withColumn("w", F.expr("tf * ((1000000 * n_docs) div df)"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("w").alias("score"))
        .filter(F.col("n_terms") == len(_FTS_TERMS))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


QUERIES["text_search_conjunctive"] = text_search_conjunctive
ORACLES["text_search_conjunctive"] = f"""
    WITH postings AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS term
            FROM documents
        )
        WHERE term IN ({", ".join(f"'{t}'" for t in _FTS_TERMS)})
        GROUP BY doc_id, term
    ),
    df_t AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id,
           CAST(sum(tf * ((1000000 * n_docs) // df)) AS BIGINT) AS score
    FROM postings JOIN df_t USING (term) CROSS JOIN n
    GROUP BY doc_id
    HAVING count(*) = {len(_FTS_TERMS)}
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# repetition quality rule: duplicate word-trigram ratio per document
# ---------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repetitive documents by duplicate word-trigram ratio — the
    Gopher-style repetition rule used to cull boilerplate/spam from
    training corpora. Entirely per-row array math (sequence →
    transform → array_distinct): zero shuffles before the final top-k,
    and the trigram arrays never materialize outside the row —
    at 100 TB this runs at scan speed."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            r"split(lower(text), '\\s+') AS toks",
        )
        .filter(F.expr("size(toks) >= 3"))
        .selectExpr(
            "doc_id",
            "transform(sequence(0, size(toks) - 3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tg",
        )
        .selectExpr(
            "doc_id",
            "size(tg) AS n_tg",
            "size(tg) - size(array_distinct(tg)) AS n_dup",
        )
        .selectExpr(
            "doc_id", "n_tg", "n_dup",
            "(bigint(n_dup) * 1000000) div n_tg AS rep_e6",
        )
        .orderBy(F.desc("rep_e6"), "doc_id")
        .limit(20)
    )


QUERIES["text_repetition"] = text_repetition
ORACLES["text_repetition"] = r"""
    WITH tg AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
        FROM (
            SELECT doc_id,
                   string_split_regex(lower(text), '\s+') AS toks
            FROM documents
        )
        WHERE len(toks) >= 3
    )
    SELECT doc_id,
           CAST(len(tg) AS INTEGER) AS n_tg,
           CAST(len(tg) - len(list_distinct(tg)) AS INTEGER) AS n_dup,
           CAST((CAST(len(tg) - len(list_distinct(tg)) AS BIGINT) * 1000000)
                // len(tg) AS BIGINT) AS rep_e6
    FROM tg
    ORDER BY rep_e6 DESC, doc_id
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# BPE merge candidates: most frequent adjacent token pairs
# ---------------------------------------------------------------------------
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary induction: count adjacent token
    pairs across the corpus and rank merge candidates. Pure row-local
    array math (zip tokens with their own tail) before one
    partial-agged groupBy — at 100 TB the pair explosion is linear in
    corpus tokens, the same cost as reading the text."""
    docs = load(spark, sf_dir, "documents")
    pairs = docs.selectExpr(
        r"split(lower(text), '\\s+') AS toks"
    ).selectExpr(
        "explode(zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> concat(a, ' ', b))) AS pair"
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


QUERIES["text_bpe_merge_candidates"] = text_bpe_merge_candidates
ORACLES["text_bpe_merge_candidates"] = r"""
    WITH toks AS (
        SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i+1])) AS pair
        FROM toks
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
"""


# --------------------------------------------------------------------------
# token co-occurrence PMI (integer-log, window of 2)
# --------------------------------------------------------------------------
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence statistics — the counting pass behind
    word2vec/GloVe/collocation extraction: adjacent (window=1) ordered
    token pairs counted corpus-wide, scored by an integer PMI proxy
    ilog2(c_ab · N) − ilog2(c_a · c_b) with ilog2 = bit-length − 1 (the
    same branch-free integer log2 as text_dsir_importance — exact in
    both engines where float log drifts). Top-50 pairs by (score, pair).

    Shape: one row-local bigram explode, three partial-agg groupBys
    (pair, left unigram, right unigram); unigram count tables are
    vocabulary-bounded → broadcast joins; TakeOrdered top-k. The pair
    count table is the only corpus-proportional shuffle."""
    d = load(spark, sf_dir, "documents")
    arr = d.withColumn("w", F.split("text", r"\s+")).select(
        F.expr(
            "CASE WHEN size(w) < 2 THEN array() "
            "ELSE transform(sequence(1, size(w) - 1), "
            "i -> struct(element_at(w, i) AS ta, element_at(w, i+1) AS tb))"
            " END"
        ).alias("ps")
    ).repartition(d.sparkSession.sparkContext.defaultParallelism)
    pairs = (
        arr.select(F.explode_outer("ps").alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.ta", "p.tb")
    )
    c_ab = pairs.groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n_ab"))
    c_a = pairs.groupBy("ta").agg(F.count(F.lit(1)).alias("n_a"))
    c_b = pairs.groupBy("tb").agg(F.count(F.lit(1)).alias("n_b"))
    n = pairs.agg(F.count(F.lit(1)).alias("n_total"))
    ilog2 = "length(bin({})) - 1"
    return (
        c_ab.join(F.broadcast(c_a), "ta")
        .join(F.broadcast(c_b), "tb")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "ta",
            "tb",
            "n_ab",
            f"({ilog2.format('n_ab * n_total')})"
            f" - ({ilog2.format('n_a * n_b')}) AS pmi_i",
        )
        .orderBy(F.desc("pmi_i"), "ta", "tb")
        .limit(50)
    )


QUERIES["text_cooccurrence_pmi"] = text_cooccurrence_pmi

ORACLES["text_cooccurrence_pmi"] = r"""
    WITH pairs AS (
        SELECT w[i] AS ta, w[i + 1] AS tb
        FROM (
            SELECT string_split_regex(text, '\s+') AS w FROM documents
        ), LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
        )
    ),
    c_ab AS (SELECT ta, tb, count(*) AS n_ab FROM pairs GROUP BY ta, tb),
    c_a AS (SELECT ta, count(*) AS n_a FROM pairs GROUP BY ta),
    c_b AS (SELECT tb, count(*) AS n_b FROM pairs GROUP BY tb),
    n AS (SELECT count(*) AS n_total FROM pairs)
    SELECT ta, tb, n_ab,
           CAST((length(printf('%b', n_ab * n_total)) - 1)
              - (length(printf('%b', n_a * n_b)) - 1) AS INTEGER) AS pmi_i
    FROM c_ab
    JOIN c_a USING (ta)
    JOIN c_b USING (tb)
    CROSS JOIN n
    ORDER BY pmi_i DESC, ta, tb
    LIMIT 50
"""


# --------------------------------------------------------------------------
# normalization pipeline: the tokenizer-prep cleaning map
# --------------------------------------------------------------------------
def text_normalize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-tokenization cleaning map every corpus goes through:
    lowercase → collapse whitespace → drop stopword tokens → emit the
    cleaned text plus before/after token counts. Entirely row-local
    regexp/array expressions (the pure map-stage shape — at 100 TB this
    is read→transform→write with zero shuffle); the identical regex
    dialect runs in DuckDB, so the cleaned strings hash-match exactly."""
    stop = "('the','a','of','and','to','in','is','it','for','on')"
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("lc", F.expr(r"regexp_replace(lower(text), '\\s+', ' ')"))
        .withColumn("toks", F.expr("split(lc, ' ')"))
        .withColumn("kept", F.expr(f"filter(toks, t -> t NOT IN {stop})"))
        .selectExpr(
            "doc_id",
            "size(toks) AS n_tokens_raw",
            "size(kept) AS n_tokens_clean",
            "size(toks) - size(kept) AS n_stopwords",
            "array_join(kept, ' ') AS clean_text",
        )
        .filter(F.col("doc_id") < 200)
        .orderBy("doc_id")
    )


QUERIES["text_normalize_pipeline"] = text_normalize_pipeline

ORACLES["text_normalize_pipeline"] = r"""
    WITH cleaned AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')
                   AS toks
        FROM documents
    ),
    kept AS (
        SELECT doc_id, toks,
               list_filter(toks, t -> t NOT IN
                   ('the','a','of','and','to','in','is','it','for','on'))
                   AS kt
        FROM cleaned
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens_raw,
           CAST(len(kt) AS INTEGER) AS n_tokens_clean,
           CAST(len(toks) - len(kt) AS INTEGER) AS n_stopwords,
           array_to_string(kt, ' ') AS clean_text
    FROM kept
    WHERE doc_id < 200
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Zipf rank-frequency analysis
# --------------------------------------------------------------------------
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rank-frequency table (the Zipf diagnostic run on every new
    corpus): token counts ranked by (count DESC, token), with the
    rank×count product — near-constant under Zipf's law — as an exact
    integer. One explode + one partial-aggregated groupBy; the rank is
    a TakeOrdered-style top-30, not a global window."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(30)
    )
    w = W.orderBy(F.desc("n"), "tok")
    return counts.withColumn("rank", F.row_number().over(w)).selectExpr(
        "rank", "tok", "n", "rank * n AS zipf_product"
    )


QUERIES["text_zipf_rank_frequency"] = text_zipf_rank_frequency

ORACLES["text_zipf_rank_frequency"] = r"""
    SELECT rank, tok, n, rank * n AS zipf_product
    FROM (
        SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER) AS rank
        FROM (
            SELECT tok, count(*) AS n
            FROM (
                SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
                FROM documents
            )
            GROUP BY tok
        )
    )
    WHERE rank <= 30
    ORDER BY rank
"""


# --------------------------------------------------------------------------
# feature hashing (the hashing trick): docs → fixed-width int vectors
# --------------------------------------------------------------------------
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick featurizer (Weinberger et al. 2009): each
    document projected into a FIXED 16-bucket integer count vector by
    hashing tokens — no vocabulary to build, no dictionary to ship, the
    width never grows with the corpus; the reason it's THE map-side
    featurizer at 100 TB. Row-local: tokens hash to buckets inside an
    aggregate lambda building the histogram array in one pass; the
    emitted vector is integer-exact and array-ordered."""
    d = load(spark, sf_dir, "documents")
    b = 16
    return (
        d.withColumn("toks", F.split(F.lower("text"), r"\s+"))
        .selectExpr(
            "doc_id",
            "size(toks) AS n_tokens",
            "aggregate(toks,"
            f" array_repeat(0L, {b}),"
            " (acc, t) -> transform(acc, (v, i) ->"
            "   v + CASE WHEN CAST(conv(substring(md5(t), 1, 8), 16, 10)"
            f"        AS BIGINT) % {b} = i THEN 1L ELSE 0L END))"
            " AS fvec_arr",
        )
        # CSV at the boundary — driver comparator can't hash array cells
        .selectExpr("doc_id", "n_tokens", "array_join(fvec_arr, ',') AS fvec")
        .filter(F.col("doc_id") < 100)
        .orderBy("doc_id")
    )


QUERIES["text_feature_hashing"] = text_feature_hashing

ORACLES["text_feature_hashing"] = r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents
        WHERE doc_id < 100
    ),
    hashed AS (
        SELECT doc_id, len(toks) AS n_tokens,
               list_transform(toks, t ->
                   CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16) AS hs
        FROM toks
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           array_to_string(list_transform(generate_series(0, 15), i ->
               CAST(len(list_filter(hs, h -> h = i)) AS BIGINT)), ',') AS fvec
    FROM hashed
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# line-level (chunk) dedup: strip text repeated ACROSS documents
# --------------------------------------------------------------------------
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal, the CCNet/RefinedWeb
    line-level dedup pass: text repeated verbatim in ≥2 documents
    (headers, footers, license blurbs) is stripped from every document.
    The fixture's documents are flat token streams with no newlines, so
    a "line" is a 10-token chunk — the operator shape (chunk → corpus
    count → mark → per-doc reassembly stats) is the contract.

    Scale shape: chunking is row-local (sequence+slice, one explode);
    the corpus count is ONE partial-aggregated shuffle on the chunk key,
    and the mark-join reuses that same exchange (equi-join on the
    groupBy key — no broadcast needed, so adversarially large boilerplate
    sets don't OOM a broadcast). Per-doc stats are a second narrow
    groupBy on doc_id. At 100 TB chunks would carry a hash, not the
    text, across the wire — here the chunk doubles as its own key so
    the oracle stays engine-independent."""
    d = load(spark, sf_dir, "documents")
    chunks = d.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "posexplode(transform(sequence(0, CAST(ceil(size(w)/10.0) AS INT) - 1),"
        " i -> array_join(slice(w, i*10+1, 10), ' '))) AS (idx, chunk)",
    )
    counts = chunks.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(counts, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.count_if(F.col("n_docs") >= 2).cast("int").alias("n_boiler_chunks"),
            F.sum(
                F.when(F.col("n_docs") < 2, F.size(F.split("chunk", " ")))
                .otherwise(0)
            ).cast("bigint").alias("kept_tokens"),
        )
        .filter(F.col("n_boiler_chunks") > 0)
        .orderBy("doc_id")
    )


QUERIES["text_line_dedup"] = text_line_dedup

ORACLES["text_line_dedup"] = r"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id, i AS idx,
               array_to_string(w[i*10+1:i*10+10], ' ') AS chunk
        FROM t, unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS u(i)
    ),
    counts AS (
        SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY chunk
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_chunks,
           CAST(count_if(n_docs >= 2) AS INTEGER) AS n_boiler_chunks,
           CAST(sum(CASE WHEN n_docs < 2
                         THEN len(string_split(c.chunk, ' ')) ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM c JOIN counts USING (chunk)
    GROUP BY doc_id
    HAVING CAST(count_if(n_docs >= 2) AS INTEGER) > 0
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# BPE step 2: apply the top merge candidates to the corpus
# --------------------------------------------------------------------------
def text_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second step of BPE vocabulary induction: take the top-3 merge
    candidates from the global pair count (text_bpe_merge_candidates'
    ranking, deterministic tiebreak) and apply them to every document,
    reporting the per-doc token-count reduction. The merge table is a
    1-row broadcast (the induced vocabulary rides with the plan at any
    corpus size); application is a row-local fold of string replaces
    over the space-padded token stream — leftmost non-overlapping, the
    same replace() semantics in both engines.

    True BPE re-counts pairs after each merge (adaptive); this operator
    applies one ranked batch — the shape of one training round (the
    iterative driver loop is sim_kmeans_lloyd's pattern applied here)."""
    docs = load(spark, sf_dir, "documents")
    pairs = docs.selectExpr(r"split(lower(text), '\\s+') AS toks").selectExpr(
        "explode(zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> concat(a, ' ', b))) AS pair"
    )
    top3 = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(3)
        # rank order survives the aggregate: sort (n asc, pair desc)
        # structs, then reverse → (n desc, pair asc), project the pair
        .agg(F.expr("array_sort(collect_list(struct(n, pair)))").alias("ms"))
        .selectExpr(
            "reverse(transform(ms, s -> s.pair)) AS merges"
        )
    )
    return (
        docs.crossJoin(F.broadcast(top3))
        .selectExpr(
            "doc_id",
            "size(split(lower(text), '\\\\s+')) AS n_tokens",
            "aggregate(merges,"
            " concat(' ', lower(text), ' '),"
            " (acc, m) -> replace(acc, concat(' ', m, ' '),"
            "                     concat(' ', replace(m, ' ', '_'), ' ')))"
            " AS merged",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "size(split(trim(merged), ' ')) AS n_after",
            "n_tokens - size(split(trim(merged), ' ')) AS n_merged",
        )
        .filter(F.col("n_merged") > 0)
        .orderBy("doc_id")
    )


QUERIES["text_bpe_apply_merges"] = text_bpe_apply_merges
ORACLES["text_bpe_apply_merges"] = r"""
    WITH toks AS (
        SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i+1])) AS pair
        FROM toks
    ),
    top3 AS (
        SELECT pair, count(*) AS n FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 3
    ),
    mt AS (
        SELECT list_transform(
                   list_reverse(list_sort(list(struct_pack(n := n, pair := pair)))),
                   s -> s.pair) AS merges
        FROM top3
    ),
    applied AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(text), '\s+')) AS INTEGER)
                   AS n_tokens,
               list_reduce(
                   list_prepend(' ' || lower(text) || ' ', merges),
                   (acc, m) -> replace(acc, ' ' || m || ' ',
                                       ' ' || replace(m, ' ', '_') || ' ')
               ) AS merged
        FROM documents, mt
    )
    SELECT doc_id, n_tokens,
           CAST(len(string_split(trim(merged), ' ')) AS INTEGER) AS n_after,
           CAST(n_tokens - len(string_split(trim(merged), ' ')) AS INTEGER)
               AS n_merged
    FROM applied
    WHERE n_tokens - len(string_split(trim(merged), ' ')) > 0
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# BPE step 3: ADAPTIVE training rounds (argmax merge, re-count, repeat)
# --------------------------------------------------------------------------
_BPE_ROUNDS = 3


def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True (adaptive) BPE training for 3 rounds: each round counts
    adjacent pairs on the CURRENT token stream, merges the argmax pair
    corpus-wide, and re-counts — unlike text_bpe_apply_merges, whose
    batch is ranked once. Output: (round, pair, n) — the induced merge
    table, the actual artifact a tokenizer trainer ships.

    Driver discipline: the per-round collect is ONE row (the argmax
    merge — same bounded pattern as sim_kmeans_lloyd's K centroids);
    the corpus never leaves the executors. Each round is one pair
    explode + partial-aggregated count; merge application is row-local
    string replace on the space-padded stream (leftmost non-overlapping
    in both engines — adjacent repeats of the merged pair share their
    separator space and only collapse on a later round, the documented
    padded-string caveat)."""
    cur = load(spark, sf_dir, "documents").selectExpr(
        "concat(' ', lower(text), ' ') AS s"
    )
    out_rows = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        top = (
            cur.selectExpr("split(trim(s), ' ') AS toks")
            .selectExpr(
                "explode(zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))) AS pair"
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()[0]
        )
        out_rows.append((rnd, top["pair"], top["n"]))
        pair = top["pair"].replace("'", "''")
        cur = cur.selectExpr(
            f"replace(s, concat(' ', '{pair}', ' '),"
            f" concat(' ', replace('{pair}', ' ', '_'), ' ')) AS s"
        )
    return spark.createDataFrame(out_rows, "round INT, pair STRING, n BIGINT")


QUERIES["text_bpe_train_rounds"] = text_bpe_train_rounds

_BPE_PAIRS_DUCK = """
    SELECT unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> toks[i] || ' ' || toks[i+1])) AS pair
    FROM (SELECT string_split(trim({src}), ' ') AS toks FROM {tbl})
"""

ORACLES["text_bpe_train_rounds"] = f"""
    WITH d0 AS (SELECT ' ' || lower(text) || ' ' AS s FROM documents),
    m1 AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM ({_BPE_PAIRS_DUCK.format(src='s', tbl='d0')})
        GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    ),
    d1 AS (
        SELECT replace(s, ' ' || pair || ' ',
                       ' ' || replace(pair, ' ', '_') || ' ') AS s
        FROM d0, m1
    ),
    m2 AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM ({_BPE_PAIRS_DUCK.format(src='s', tbl='d1')})
        GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    ),
    d2 AS (
        SELECT replace(s, ' ' || pair || ' ',
                       ' ' || replace(pair, ' ', '_') || ' ') AS s
        FROM d1, m2
    ),
    m3 AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM ({_BPE_PAIRS_DUCK.format(src='s', tbl='d2')})
        GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    )
    SELECT CAST(1 AS INTEGER) AS round, pair, n FROM m1
    UNION ALL SELECT 2, pair, n FROM m2
    UNION ALL SELECT 3, pair, n FROM m3
    ORDER BY round
"""


# --------------------------------------------------------------------------
# top-k frequent tokens per language (exact, window top-k)
# --------------------------------------------------------------------------
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", r"\s+")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "tok", "n")
        .orderBy("lang", "rank")
    )


QUERIES["text_top_tokens"] = text_top_tokens

ORACLES["text_top_tokens"] = """
        WITH counts AS (
            SELECT lang, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ), agg AS (
            SELECT lang, tok, count(*) AS n FROM counts GROUP BY lang, tok
        )
        SELECT lang, rank, tok, n FROM (
            SELECT lang, tok, n,
                   CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, tok ASC) AS INTEGER) AS rank
            FROM agg)
        WHERE rank <= 5
        ORDER BY lang, rank
    """

# ---------------------------------------------------------------------------
# shared: per-doc distinct 3-word shingle arrays (row-local, no shuffle)
# ---------------------------------------------------------------------------

_SHINGLE_ARR_SPARK = (
    "array_distinct(CASE WHEN size(w) < 3 THEN array() "
    "ELSE transform(sequence(1, size(w) - 2), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), "
    "element_at(w, i+2))) END)"
)

_SHINGLES_DUCK = r"""
    toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks
    )
"""


# ---------------------------------------------------------------------------
# test-set decontamination: corpus vs benchmark shingle overlap
# ---------------------------------------------------------------------------
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every corpus document, the count of its distinct 3-gram
    shingles that also appear in the benchmark slice (doc_id%17==0), and
    a contamination flag (≥10 shared shingles, or ≥20% of the doc's
    shingles shared).

    Scale: the benchmark shingle set is broadcast (eval benchmarks are
    MB-scale; the corpus is the 100 TB side), so corpus shingles are
    probed map-side with no shuffle; the per-doc count is one
    partial-aggregated groupBy(doc_id)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (
        d.withColumn("w", F.split("text", r"\s+"))
        .select("doc_id", F.expr(_SHINGLE_ARR_SPARK).alias("shs"))
        # explode_outer + isNotNull == explode without the
        # InferFiltersFromGenerate clone of the shingle expression into
        # an interpreted scan filter (see operators/dedup.py)
        .select("doc_id", F.explode_outer("shs").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    bench = (
        sh.filter(F.col("doc_id") % 17 == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corp = sh.filter(F.col("doc_id") % 17 != 0)
    return (
        corp.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.count("hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "sz",
            "n_shared",
            (
                (F.col("n_shared") >= 10)
                | (F.col("n_shared") * 5 >= F.col("sz"))
            )
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# sequence packing: cumulative-offset assignment into 256-token packs
# ---------------------------------------------------------------------------
_PACK_BUDGET = 256
_PACK_BUCKETS = 8


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-budget training sequences: docs are
    sharded into hash buckets (doc_id % 8), ordered by doc_id within a
    bucket, and assigned pack_id = floor(start_offset / 256) where
    start_offset is the running token count before the doc — the
    deterministic "concat-and-chop" packing every pre-training pipeline
    runs. Output is one row per pack with doc/token totals.

    Scale: the window cumsum partitions by bucket — no global sort, and
    bucket count is the parallelism knob (thousands at 100 TB). Each
    bucket's packing is sequential by construction (packing IS a running
    sum), which is exactly why the bucket sharding exists."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.selectExpr(
        "doc_id",
        f"doc_id % {_PACK_BUCKETS} AS bucket",
        r"size(split(text, '\\s+')) AS tok",
    )
    packed = toks.selectExpr(
        "bucket",
        "doc_id",
        "tok",
        "sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id "
        f"ROWS UNBOUNDED PRECEDING) - tok AS start",
    ).selectExpr("bucket", "doc_id", "tok", f"start div {_PACK_BUDGET} AS pack_id")
    return (
        packed.groupBy("bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bucket", "pack_id")
    )


# ---------------------------------------------------------------------------
# C4/Gopher-style quality-filter rule set (integer-exact, row-local)
# ---------------------------------------------------------------------------
def text_c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard pre-training quality-filter pass (C4 / Gopher rule
    families), re-expressed as integer-exact row-local predicates so the
    cross-engine hash matches:

    - r_min_words : ≥ 20 words
    - r_mean_len  : mean word length in [3, 10] (as 3·n ≤ Σlen ≤ 10·n —
      integer inequality, no division)
    - r_stopwords : ≥ 2 stopword occurrences (Gopher's "has function
      words" signal)
    - r_repetition: most frequent word ≤ 10% of the doc (10·max_freq ≤ n)

    keep = all four. Everything is a narrow per-row transform over the
    token array — zero shuffle until the final ORDER BY; at 100 TB this
    is a pure map-side cleaning pass (the same shape C4 itself ran)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = d.withColumn("w", F.split("text", r"\s+"))
    scored = w.selectExpr(
        "doc_id",
        "size(w) AS n_words",
        "aggregate(transform(w, t -> length(t)), 0L, (a, x) -> a + x)"
        " AS sum_len",
        "size(filter(w, t -> t IN ('the', 'a'))) AS n_stop",
        "array_max(transform(array_distinct(w),"
        " x -> size(filter(w, t -> t = x)))) AS max_freq",
    )
    return scored.selectExpr(
        "doc_id",
        "n_words",
        "CAST(n_words >= 20 AS INT) AS r_min_words",
        "CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words AS INT)"
        " AS r_mean_len",
        "CAST(n_stop >= 2 AS INT) AS r_stopwords",
        "CAST(10 * max_freq <= n_words AS INT) AS r_repetition",
        "CAST(n_words >= 20 AND 3 * n_words <= sum_len"
        " AND sum_len <= 10 * n_words AND n_stop >= 2"
        " AND 10 * max_freq <= n_words AS INT) AS keep",
    ).orderBy("doc_id")


QUERIES["text_decontaminate"] = text_decontaminate
QUERIES["text_c4_quality_filters"] = text_c4_quality_filters
QUERIES["text_pack_sequences"] = text_pack_sequences

ORACLES["text_c4_quality_filters"] = r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS w
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   CAST(len(w) AS INTEGER) AS n_words,
                   CAST(list_sum(list_transform(w, t -> length(t)))
                        AS BIGINT) AS sum_len,
                   len(list_filter(w, t -> t IN ('the', 'a'))) AS n_stop,
                   list_max(list_transform(list_distinct(w),
                       x -> len(list_filter(w, t -> t = x)))) AS max_freq
            FROM w
        )
        SELECT doc_id,
               n_words,
               CAST(n_words >= 20 AS INTEGER) AS r_min_words,
               CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words
                    AS INTEGER) AS r_mean_len,
               CAST(n_stop >= 2 AS INTEGER) AS r_stopwords,
               CAST(10 * max_freq <= n_words AS INTEGER) AS r_repetition,
               CAST(n_words >= 20 AND 3 * n_words <= sum_len
                    AND sum_len <= 10 * n_words AND n_stop >= 2
                    AND 10 * max_freq <= n_words AS INTEGER) AS keep
        FROM scored
        ORDER BY doc_id
    """
ORACLES["text_decontaminate"] = f"""
        WITH {_SHINGLES_DUCK},
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0
        ),
        corp AS (SELECT * FROM sh WHERE doc_id % 17 <> 0)
        SELECT c.doc_id,
               count(*) AS sz,
               count(b.shingle) AS n_shared,
               CAST(count(b.shingle) >= 10
                    OR count(b.shingle) * 5 >= count(*) AS INTEGER)
                   AS contaminated
        FROM corp c LEFT JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
        ORDER BY c.doc_id
    """
ORACLES["text_pack_sequences"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   doc_id % {_PACK_BUCKETS} AS bucket,
                   len(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        packed AS (
            SELECT bucket, doc_id, tok,
                   CAST((sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - tok)
                       // {_PACK_BUDGET} AS BIGINT) AS pack_id
            FROM toks
        )
        SELECT bucket, pack_id,
               count(*) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS pack_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM packed
        GROUP BY bucket, pack_id
        ORDER BY bucket, pack_id
    """


# ---------------------------------------------------------------------------
# DSIR-style hashed importance weights (data selection for LM pretraining)
# ---------------------------------------------------------------------------
_DSIR_B = 1024  # hashed feature buckets


def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023), the
    hashed n-gram variant, integer-exact: score each document by how
    much its hashed-bigram distribution looks like the TARGET slice
    (lang='en' here stands in for "high-quality domain") vs the full
    corpus background.

    Importance weight per doc = Σ_features [ ilog2(1 + target_cnt[f])
    − ilog2(1 + background_cnt[f]) ] with ilog2 = floor(log2) computed
    by BIT LENGTH (length(bin(x)) − 1) — a branch-free integer log both
    engines evaluate identically, sidestepping float-log ulp drift the
    same way the HLL/kmeans/pagerank ops do.

    Scale shape: the two count tables are bounded by B=1024 buckets
    regardless of corpus size — they broadcast; the corpus side is one
    row-local bigram explode + two map-side-combined groupBys + a
    per-doc sum. No shuffle touches anything wider than (doc_id, int).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # same explode_outer + post-exchange-attribute discipline as
    # dedup._pair_stats (InferFiltersFromGenerate re-evaluation trap)
    arr = d.withColumn("w", F.split("text", r"\s+")).select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN size(w) < 2 THEN array() "
            "ELSE transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i+1))) END"
        ).alias("bgs"),
    ).repartition(d.sparkSession.sparkContext.defaultParallelism)
    feats = (
        arr.select("doc_id", "lang", F.explode_outer("bgs").alias("bg"))
        .filter(F.col("bg").isNotNull())
        .withColumn(
            "f",
            F.conv(F.substring(F.md5("bg"), 1, 15), 16, 10).cast("bigint")
            % _DSIR_B,
        )
        .drop("bg")
    )
    # BOTH count tables in ONE aggregation pass (conditional count for
    # the target slice): the explode+md5 of `feats` is evaluated twice
    # instead of three times, and one broadcast join disappears
    # (1.30 s → 1.08 s at sf0.1; persisting feats instead measured
    # NEUTRAL — materialization ≈ recompute — so the cacheless form
    # wins: at 100 TB it deletes a full corpus scan+explode without
    # spilling bigram rows to executor storage)
    cnt = feats.groupBy("f").agg(
        F.count(F.lit(1)).alias("b"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t"),
    )
    ilog2 = "length(bin(1 + {})) - 1"
    return (
        feats.join(F.broadcast(cnt), "f")
        .selectExpr(
            "doc_id",
            "lang",
            f"{ilog2.format('t')} AS lt",
            f"{ilog2.format('b')} AS lb",
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.expr("lt - lb")).alias("dsir_score"),
        )
        .withColumn("kept", F.col("dsir_score") > 0)
        .orderBy("doc_id")
    )


QUERIES["text_dsir_importance"] = text_dsir_importance

ORACLES["text_dsir_importance"] = f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(text, '\\s+') AS w
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT) % {_DSIR_B} AS f
        FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> w[i] || ' ' || w[i+1])) AS bg
            FROM toks
        )
    ),
    tcnt AS (
        SELECT f, count(*) AS t FROM feats WHERE lang = 'en' GROUP BY f
    ),
    bcnt AS (SELECT f, count(*) AS b FROM feats GROUP BY f)
    SELECT doc_id, lang,
           count(*) AS n_feats,
           CAST(sum((length(printf('%b', 1 + coalesce(t.t, 0))) - 1)
                  - (length(printf('%b', 1 + b.b)) - 1)) AS BIGINT)
               AS dsir_score,
           CAST(sum((length(printf('%b', 1 + coalesce(t.t, 0))) - 1)
                  - (length(printf('%b', 1 + b.b)) - 1)) AS BIGINT) > 0
               AS kept
    FROM feats
    LEFT JOIN tcnt t USING (f)
    JOIN bcnt b USING (f)
    GROUP BY doc_id, lang
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# per-source scorecard: the mixture/filtering decision table
# --------------------------------------------------------------------------
def text_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source decision table a pretraining pipeline builds before
    choosing mixture weights: for every source, document count, exact
    duplicate rate, mean token count, quality pass rate (C4-style length
    + word-length-band rules), and a derived keep recommendation
    pass_ppm × (1 − dup_ppm) — all in exact integer ppm (cross-
    multiplied, no float division), so the scorecard hash-matches
    across engines.

    Scale: one row-local projection (tokens, rule bits, md5), one
    partial-aggregated groupBy(source) with count_distinct for dups —
    the same one-shuffle profile shape as profile_lineitem; output
    cardinality = number of sources."""
    d = load(spark, sf_dir, "documents")
    scored = d.selectExpr(
        "source",
        "md5(text) AS dig",
        "size(split(text, ' ')) AS n_toks",
        "aggregate(split(text, ' '), 0, (a, t) -> a + length(t)) AS sum_len",
    ).selectExpr(
        "source",
        "dig",
        "n_toks",
        "CAST(n_toks >= 20 AND 3 * n_toks <= sum_len"
        " AND sum_len <= 10 * n_toks AS INT) AS pass",
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("dig").alias("n_distinct"),
            F.sum("n_toks").alias("total_toks"),
            F.sum("pass").alias("n_pass"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "CAST(1000000 * (n_docs - n_distinct) div n_docs AS BIGINT)"
            " AS dup_ppm",
            "CAST(100 * total_toks div n_docs AS BIGINT) AS mean_toks_e2",
            "CAST(1000000 * n_pass div n_docs AS BIGINT) AS pass_ppm",
            "CAST((1000000 * n_pass div n_docs)"
            " * (1000000 - 1000000 * (n_docs - n_distinct) div n_docs)"
            " div 1000000 AS BIGINT) AS keep_ppm",
        )
        .orderBy("source")
    )


QUERIES["text_source_scorecard"] = text_source_scorecard

ORACLES["text_source_scorecard"] = """
    WITH scored AS (
        SELECT source,
               md5(text) AS dig,
               len(string_split(text, ' ')) AS n_toks,
               CAST(list_sum(list_transform(string_split(text, ' '),
                                            t -> length(t))) AS BIGINT)
                   AS sum_len
        FROM documents
    ),
    b AS (
        SELECT source, dig, n_toks,
               CASE WHEN n_toks >= 20 AND 3 * n_toks <= sum_len
                         AND sum_len <= 10 * n_toks THEN 1 ELSE 0 END AS pass
        FROM scored
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT dig) AS BIGINT) AS n_distinct,
               CAST(sum(n_toks) AS BIGINT) AS total_toks,
               CAST(sum(pass) AS BIGINT) AS n_pass
        FROM b GROUP BY source
    )
    SELECT source, n_docs,
           CAST(1000000 * (n_docs - n_distinct) // n_docs AS BIGINT) AS dup_ppm,
           CAST(100 * total_toks // n_docs AS BIGINT) AS mean_toks_e2,
           CAST(1000000 * n_pass // n_docs AS BIGINT) AS pass_ppm,
           CAST((1000000 * n_pass // n_docs)
                * (1000000 - 1000000 * (n_docs - n_distinct) // n_docs)
                // 1000000 AS BIGINT) AS keep_ppm
    FROM agg
    ORDER BY source
"""


# --------------------------------------------------------------------------
# PII redaction: inject deterministic synthetic PII, then scrub it
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus has no PII, so each doc gets a deterministic
    synthetic contact line first (email always, phone on even doc_ids) —
    identical synthesis in the DuckDB oracle, so the redacted text and
    per-type match counts must agree byte-for-byte."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    phone = F.concat(
        F.lit(" 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = d.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 2 == 0, phone).otherwise(F.lit("")),
        ),
    )
    return (
        seeded.select(
            "doc_id",
            F.regexp_count(F.col("t2"), F.lit(_EMAIL_RE)).alias("n_emails"),
            F.regexp_count(F.col("t2"), F.lit(_PHONE_RE)).alias("n_phones"),
            F.regexp_replace(
                F.regexp_replace("t2", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            ).alias("redacted"),
        )
        .orderBy("doc_id")
    )


QUERIES["text_pii_redact"] = text_pii_redact

ORACLES["text_pii_redact"] = r"""
        WITH seeded AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com'
                        || CASE WHEN doc_id % 2 = 0
                           THEN ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS t2
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t2, '[a-z0-9._]+@[a-z0-9.]+'))
                    AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(t2, '\d{3}-\d{3}-\d{4}'))
                    AS INTEGER) AS n_phones,
               regexp_replace(
                   regexp_replace(t2, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                   '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
        FROM seeded
        ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# hashed unigram-LM surprisal: CCNet-style perplexity quality filter
# ---------------------------------------------------------------------------
_LM_B = 2048  # hashed unigram buckets — bounded regardless of corpus size


def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, the hashed-unigram variant of
    CCNet's perplexity filter (Wenzek et al. 2020): a doc whose tokens
    are corpus-typical scores LOW surprisal (keep), a doc of rare junk
    scores HIGH (drop). Per-token surprisal = ilog2(N) − ilog2(cnt[f])
    with ilog2 = bit length − 1 (branch-free integer log2, the
    dsir/HLL/kmeans determinism trick), summed per doc and normalized
    ×100 by token count.

    Scale shape: the count table is bounded at B=2048 buckets however
    large the corpus — it broadcasts; the 1-row corpus total rides a
    broadcast nested-loop (the tfidf corpus-count pattern the round-2
    audit cleared as the correct plan). Token rows shuffle once into the
    bucket histogram and once into the per-doc sum — nothing wider than
    (doc_id, int) moves."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    feats = (
        d.withColumn("w", F.split(F.lower("text"), r"\s+"))
        .select("doc_id", F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn(
            "f",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
            % _LM_B,
        )
        .drop("tok")
    )
    # the corpus total rides INSIDE the bounded count table (unpartitioned
    # window over ≤B rows — one tiny task) instead of a separate 1-row
    # broadcast: the plan audit showed the crossJoin(total) variant
    # re-scanning + re-exploding the corpus a THIRD time to derive the
    # same sum the count table already holds
    cnt = feats.groupBy("f").agg(F.count(F.lit(1)).alias("c"))
    cnt = cnt.withColumn("n_total", F.sum("c").over(W.partitionBy()))
    ilog2 = "length(bin(1 + {})) - 1"
    return (
        feats.join(F.broadcast(cnt), "f")
        .selectExpr(
            "doc_id",
            # parenthesize each ilog2: the template ends in `- 1`, so an
            # unbracketed A - B composition misassociates
            f"({ilog2.format('n_total')}) - ({ilog2.format('c')}) AS s",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s").alias("surprisal_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "surprisal_sum",
            "100 * surprisal_sum div n_tokens AS surprisal_x100",
        )
        .filter(F.col("doc_id") < 300)
        .orderBy("doc_id")
    )


QUERIES["text_unigram_surprisal"] = text_unigram_surprisal

ORACLES["text_unigram_surprisal"] = f"""
    WITH feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_LM_B} AS f
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        )
        WHERE tok != ''
    ),
    cnt AS (SELECT f, count(*) AS c FROM feats GROUP BY f),
    total AS (SELECT sum(c) AS n_total FROM cnt),
    scored AS (
        SELECT doc_id,
               (length(printf('%b', CAST(1 + n_total AS BIGINT))) - 1)
             - (length(printf('%b', CAST(1 + c AS BIGINT))) - 1) AS s
        FROM feats JOIN cnt USING (f) CROSS JOIN total
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(s) AS BIGINT) AS surprisal_sum,
           100 * CAST(sum(s) AS BIGINT) // count(*) AS surprisal_x100
    FROM scored
    WHERE doc_id < 300
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# hashed bigram-LM conditional surprisal: sequential-context quality filter
# ---------------------------------------------------------------------------
_BLM_B1 = 2048  # hashed prefix (w1) buckets
_BLM_B2 = 4096  # hashed bigram (w1 w2) buckets


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the sequential-context upgrade of
    text_unigram_surprisal: per-bigram conditional surprisal
    −log2 p(w2|w1) ≈ ilog2(1 + cnt[prefix_bucket]) −
    ilog2(1 + cnt[bigram_bucket]) (ilog2 = bit length − 1, the
    integer-log determinism trick), summed per doc and ×100-normalized
    by bigram count. Catches word-salad that unigram stats miss: every
    token can be corpus-typical while the TRANSITIONS are junk.

    Scale shape: both count tables are bounded (2048 prefix / 4096
    bigram buckets) however large the corpus — they broadcast; bigrams
    are built row-locally from the token array (the _doc_shingles
    post-exchange-attribute discipline), and nothing wider than
    (doc_id, int) shuffles."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    arr = (
        d.withColumn("w", F.split(F.lower("text"), r"\s+"))
        .selectExpr(
            "doc_id",
            "CASE WHEN size(w) < 2 THEN array() "
            "ELSE transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END"
            " AS bgs",
        )
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
    )
    feats = (
        arr.select("doc_id", F.explode_outer("bgs").alias("bg"))
        .filter(F.col("bg").isNotNull())
        .selectExpr(
            "doc_id",
            f"CAST(conv(substring(md5(substring_index(bg, ' ', 1)), 1, 15),"
            f" 16, 10) AS BIGINT) % {_BLM_B1} AS f1",
            f"CAST(conv(substring(md5(bg), 1, 15), 16, 10) AS BIGINT)"
            f" % {_BLM_B2} AS f2",
        )
    )
    c1 = feats.groupBy("f1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = feats.groupBy("f2").agg(F.count(F.lit(1)).alias("c2"))
    ilog2 = "length(bin(1 + {})) - 1"
    return (
        feats.join(F.broadcast(c1), "f1")
        .join(F.broadcast(c2), "f2")
        .selectExpr(
            "doc_id",
            f"({ilog2.format('c1')}) - ({ilog2.format('c2')}) AS s",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s").alias("surprisal_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "surprisal_sum",
            "100 * surprisal_sum div n_bigrams AS surprisal_x100",
        )
        .filter(F.col("doc_id") < 300)
        .orderBy("doc_id")
    )


QUERIES["text_bigram_surprisal"] = text_bigram_surprisal

ORACLES["text_bigram_surprisal"] = f"""
    WITH feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(split_part(bg, ' ', 1)), 1, 15)
                    AS BIGINT) % {_BLM_B1} AS f1,
               CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT)
                    % {_BLM_B2} AS f2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> w[i] || ' ' || w[i + 1])) AS bg
            FROM (
                SELECT doc_id,
                       string_split_regex(lower(text), '\\s+') AS w
                FROM documents
            )
        )
    ),
    c1t AS (SELECT f1, count(*) AS c1 FROM feats GROUP BY f1),
    c2t AS (SELECT f2, count(*) AS c2 FROM feats GROUP BY f2),
    scored AS (
        SELECT doc_id,
               (length(printf('%b', CAST(1 + c1 AS BIGINT))) - 1)
             - (length(printf('%b', CAST(1 + c2 AS BIGINT))) - 1) AS s
        FROM feats JOIN c1t USING (f1) JOIN c2t USING (f2)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum(s) AS BIGINT) AS surprisal_sum,
           100 * CAST(sum(s) AS BIGINT) // count(*) AS surprisal_x100
    FROM scored
    WHERE doc_id < 300
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# per-source KL divergence from the corpus token distribution
# ---------------------------------------------------------------------------
_KL_B = 1024  # hashed token buckets (bounded; broadcast)


def text_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift diagnostic for mixture design: per source, the KL
    divergence of its hashed-token distribution from the whole corpus's,
    in integer milli-bits — KL(P_s‖P) = Σ_f p_s[f]·log2(p_s[f]/p[f]),
    computed as Σ_f n_sf·(ilog2(n_sf·N) − ilog2(n_f·N_s)) scaled by
    1000 div N_s with ilog2 = bit length − 1 (the engine's branch-free
    integer log; coarse but ORDER-preserving, which is what mixture
    tuning needs, and bit-identical across engines). High divergence =
    the source is unlike the corpus (boost or investigate); ~0 =
    redundant with the mix.

    Scale shape: one token explode, one (source, bucket) groupBy;
    bucket tables are bounded at 1024 rows per source — everything
    after the explode is entity-scale."""
    d = load(spark, sf_dir, "documents").select("source", "text")
    feats = (
        d.withColumn("w", F.split(F.lower("text"), r"\s+"))
        .select("source", F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .selectExpr(
            "source",
            f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
            f" % {_KL_B} AS f",
        )
    )
    sf_cnt = feats.groupBy("source", "f").agg(
        F.count(F.lit(1)).alias("n_sf")
    )
    # corpus total rides INSIDE the bounded bucket table (window over
    # ≤1024 rows) — a feats.count() would be a THIRD full token pass
    # and a driver action (the unigram-surprisal discipline)
    f_cnt = (
        feats.groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_f"))
        .withColumn("n_tot", F.sum("n_f").over(W.partitionBy()))
    )
    s_cnt = feats.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    ilog2 = "length(bin({})) - 1"
    return (
        sf_cnt.join(F.broadcast(f_cnt), "f")
        .join(F.broadcast(s_cnt), "source")
        .selectExpr(
            "source",
            "n_s",
            f"n_sf * (({ilog2.format('n_sf * n_tot')})"
            f" - ({ilog2.format('n_f * n_s')})) AS term",
        )
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_tokens"),
            F.expr("(1000 * sum(term)) div first(n_s)").alias(
                "kl_millibits"
            ),
        )
        .orderBy("source")
    )


QUERIES["text_kl_source_divergence"] = text_kl_source_divergence

ORACLES["text_kl_source_divergence"] = f"""
    WITH feats AS (
        SELECT source,
               CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                   % {_KL_B} AS f
        FROM (
            SELECT source,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        )
        WHERE tok != ''
    ),
    sf_cnt AS (
        SELECT source, f, count(*) AS n_sf FROM feats GROUP BY source, f
    ),
    f_cnt AS (SELECT f, count(*) AS n_f FROM feats GROUP BY f),
    s_cnt AS (SELECT source, count(*) AS n_s FROM feats GROUP BY source),
    tot AS (SELECT count(*) AS n FROM feats),
    terms AS (
        SELECT source, n_s,
               n_sf * ((length(printf('%b', CAST(n_sf * n AS BIGINT))) - 1)
                     - (length(printf('%b', CAST(n_f * n_s AS BIGINT))) - 1))
                   AS term
        FROM sf_cnt
        JOIN f_cnt USING (f)
        JOIN s_cnt USING (source)
        CROSS JOIN tot
    )
    SELECT source,
           CAST(min(n_s) AS BIGINT) AS n_tokens,
           CAST((1000 * sum(term)) // min(n_s) AS BIGINT) AS kl_millibits
    FROM terms
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# exact-substring dedup: stride-50 char-gram cross-doc repeats
# ---------------------------------------------------------------------------
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit — the signal behind the
    suffix-array dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499), re-expressed for
    a distributed engine: split every document into NON-overlapping
    50-char windows (stride 50 keeps the blow-up at len/50 rows, not
    len rows), find windows occurring in >= 2 distinct documents, and
    roll up per source: how many documents carry at least one shared
    span and what fraction of spans is shared.

    Scale shape: two shuffles on the same 50-gram key (group + join
    back, exchange-reused), both LINEAR in corpus size — no pair set is
    ever formed, unlike similarity dedup; this is the cheap exactness
    pass run before any fuzzy method. Char units on both engines
    (DESIGN.md #23b)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    spans = (
        d.filter(F.length("text") >= 50)
        .selectExpr(
            "doc_id",
            "source",
            # ONE regex pass per doc: (?s).{50} emits the same
            # non-overlapping 50-char windows (floor(len/50) matches,
            # remainder dropped — identical to the sequence bound).
            # The substring(text, 1+50i, 50) spelling re-walks the
            # string to position 50i per window — O(len²/50) on the
            # text-LENGTH axis (book-length docs), measured 3.42 s vs
            # 0.26 s on 512×64KB synthetic rows; the regex scan is
            # linear AND beats the old form at sf0.1 too (0.13 vs
            # 0.25 s). Position+value equality vs the substring form
            # verified on the full sf0.01 corpus (multi-byte safe for
            # BMP text; both engines' fixtures are BMP).
            "explode(regexp_extract_all(text, '(?s).{50}', 0)) AS g",
        )
    )
    gstats = spans.groupBy("g").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    per_doc = (
        spans.join(gstats, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0)).alias(
                "n_docs_with_dup_span"
            ),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_dup").alias("n_dup_spans"),
        )
        .orderBy("source")
    )


QUERIES["text_substring_dedup"] = text_substring_dedup

ORACLES["text_substring_dedup"] = """
    WITH starts AS (
        SELECT doc_id, source, text,
               unnest(generate_series(1, (length(text) - 50) // 50 + 1)) AS i
        FROM documents
        WHERE length(text) >= 50
    ),
    spans AS (
        SELECT doc_id, source, substr(text, 1 + 50*(i-1), 50) AS g
        FROM starts
    ),
    gstats AS (
        SELECT g, count(DISTINCT doc_id) AS nd FROM spans GROUP BY g
    ),
    per_doc AS (
        SELECT s.doc_id, s.source,
               count(*) AS n_spans,
               sum(CASE WHEN gs.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM spans s JOIN gstats gs ON s.g = gs.g
        GROUP BY s.doc_id, s.source
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_dup_span,
           CAST(sum(n_spans) AS BIGINT) AS n_spans,
           CAST(sum(n_dup) AS BIGINT) AS n_dup_spans
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# hashing-trick linear quality classifier (fastText/CCNet shape)
# ---------------------------------------------------------------------------
def text_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering plumbing — the fastText-style
    linear classifier over hashed bag-of-words features that CCNet-type
    pipelines run on every crawl document (Joulin et al. 2016; the
    weights here are a deterministic stand-in since no model ships in
    this container, but the data path is the real one). Per token:
    bucket = md5-hash % 1024, weight = (bucket * 2654435761) % 2001 -
    1000 (an integer in [-1000, 1000]); per doc the score is the mean
    token weight in integer milli-units (sum div n). Everything is
    integer arithmetic on a cross-engine hash, so the verdict counts
    hash-match exactly.

    Scale shape: the whole classifier is ONE row-local higher-order
    expression (split -> filter -> transform -> aggregate) — zero
    shuffle before the final per-source rollup, i.e. a pure map-side
    scoring pass; swapping in real learned weights changes the lambda
    body, not the plan."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = d.selectExpr(
        "doc_id",
        "source",
        r"""
        aggregate(
            transform(
                filter(split(text, '\\s+'), t -> t <> ''),
                t -> (CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)
                      % 1024 * 2654435761L) % 2001 - 1000
            ),
            0L, (acc, w) -> acc + w
        ) AS wsum
        """,
        r"size(filter(split(text, '\\s+'), t -> t <> '')) AS n_toks",
    ).filter(F.col("n_toks") > 0).selectExpr(
        "doc_id", "source", "wsum div n_toks AS score_milli", "n_toks"
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score_milli") > 0, 1).otherwise(0)).alias(
                "n_positive"
            ),
            F.sum("score_milli").alias("sum_score_milli"),
            F.min("score_milli").alias("min_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
        )
        .orderBy("source")
    )


QUERIES["text_classifier_quality"] = text_classifier_quality

ORACLES["text_classifier_quality"] = """
    WITH scored AS (
        SELECT doc_id, source,
               list_sum(list_transform(
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> ''),
                   t -> (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                         % 1024 * 2654435761) % 2001 - 1000
               )) AS wsum,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_toks
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN wsum // n_toks > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_positive,
           CAST(sum(wsum // n_toks) AS BIGINT) AS sum_score_milli,
           CAST(min(wsum // n_toks) AS BIGINT) AS min_score_milli,
           CAST(max(wsum // n_toks) AS BIGINT) AS max_score_milli
    FROM scored
    WHERE n_toks > 0
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# vocabulary growth / type-token ratio per source
# ---------------------------------------------------------------------------
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics — the Heaps-law corpus health
    check (vocabulary should grow sublinearly in tokens; a source whose
    type-token ratio is near 1 is ID-like noise, near 0 is boilerplate):
    docs, tokens, distinct tokens, and the type-token ratio in exact
    integer ppm. One explode + one groupBy(source) with countDistinct —
    Spark plans the distinct as a two-level partial aggregate, so the
    token stream is never collected anywhere."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = d.selectExpr(
        "doc_id", "source",
        r"explode(filter(split(text, '\\s+'), t -> t <> '')) AS tok",
    )
    return (
        toks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("vocab"),
        )
        .selectExpr(
            "source", "n_docs", "n_tokens", "vocab",
            "(1000000 * vocab) div n_tokens AS ttr_ppm",
        )
        .orderBy("source")
    )


QUERIES["text_vocab_growth"] = text_vocab_growth

ORACLES["text_vocab_growth"] = """
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
    ),
    agg AS (
        SELECT source,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_tokens,
               count(DISTINCT tok) AS vocab
        FROM toks GROUP BY source
    )
    SELECT source, n_docs, n_tokens, vocab,
           (1000000 * vocab) // n_tokens AS ttr_ppm
    FROM agg
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, §A1.1) per
    source: word-count bounds [50, 100k], mean word length in [3, 10],
    >= 80% of words containing an alphabetic character, hash-symbol
    ratio <= 10%, and >= 2 distinct required stopwords present. Every
    rule is row-local integer arithmetic over token arrays, aggregated
    to per-source pass/fail counts — a single scan + one small groupBy,
    the cheapest possible curation screen at any corpus size."""
    d = load(spark, sf_dir, "documents")
    stop_expr = " + ".join(
        f"CASE WHEN contains(concat(' ', lower(text), ' '), ' {s} ')"
        f" THEN 1 ELSE 0 END"
        for s in _GOPHER_STOPS
    )
    per = d.selectExpr(
        "doc_id", "source",
        r"split(text, '\\s+') AS toks",
        "length(text) - length(replace(text, '#', '')) AS n_hash",
        f"({stop_expr}) AS stop_hits",
    ).selectExpr(
        "doc_id", "source", "n_hash", "stop_hits",
        "size(toks) AS n_words",
        "aggregate(toks, 0, (acc, t) -> acc + length(t)) AS word_chars",
        "size(filter(toks, t -> t rlike '[a-z]')) AS n_alpha",
    ).selectExpr(
        "source",
        "CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc",
        "CASE WHEN word_chars * 100 BETWEEN n_words * 300"
        " AND n_words * 1000 THEN 0 ELSE 1 END AS f_mwl",
        "CASE WHEN n_alpha * 100 >= n_words * 80 THEN 0 ELSE 1 END AS f_alpha",
        "CASE WHEN n_hash * 10 <= n_words THEN 0 ELSE 1 END AS f_sym",
        "CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END AS f_stop",
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(
                "CASE WHEN f_wc + f_mwl + f_alpha + f_sym + f_stop = 0"
                " THEN 1 ELSE 0 END")).alias("n_pass"),
            F.sum("f_wc").alias("fail_wordcount"),
            F.sum("f_mwl").alias("fail_meanwordlen"),
            F.sum("f_alpha").alias("fail_alpharatio"),
            F.sum("f_sym").alias("fail_symbolratio"),
            F.sum("f_stop").alias("fail_stopwords"),
        )
        .orderBy("source")
    )


QUERIES["text_gopher_quality_rules"] = text_gopher_quality_rules

_GOPHER_STOP_DUCK = " + ".join(
    f"CASE WHEN contains(' ' || lower(text) || ' ', ' {s} ')"
    f" THEN 1 ELSE 0 END"
    for s in _GOPHER_STOPS
)

ORACLES["text_gopher_quality_rules"] = f"""
    WITH per AS (
        SELECT source,
               len(string_split_regex(text, '\\s+')) AS n_words,
               list_sum(list_transform(string_split_regex(text, '\\s+'),
                   t -> length(t))) AS word_chars,
               len(list_filter(string_split_regex(text, '\\s+'),
                   t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               ({_GOPHER_STOP_DUCK}) AS stop_hits
        FROM documents
    ),
    flags AS (
        SELECT source,
               CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
               CASE WHEN word_chars * 100 BETWEEN n_words * 300
                    AND n_words * 1000 THEN 0 ELSE 1 END AS f_mwl,
               CASE WHEN n_alpha * 100 >= n_words * 80 THEN 0 ELSE 1 END AS f_alpha,
               CASE WHEN n_hash * 10 <= n_words THEN 0 ELSE 1 END AS f_sym,
               CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END AS f_stop
        FROM per
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN f_wc + f_mwl + f_alpha + f_sym + f_stop = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
           CAST(SUM(f_mwl) AS BIGINT) AS fail_meanwordlen,
           CAST(SUM(f_alpha) AS BIGINT) AS fail_alpharatio,
           CAST(SUM(f_sym) AS BIGINT) AS fail_symbolratio,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords
    FROM flags
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# quality-budget thresholding
# ---------------------------------------------------------------------------
_BUDGET_PCT = 60


def text_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source selection under a char budget: rank docs by quality
    (here n_chars as the stand-in score — longer docs first, the same
    role a model-based quality score plays in production) and keep docs
    while the cumulative chars BEFORE each doc stay under 60% of the
    source's total — the deterministic greedy knapsack every data-
    mixture pipeline runs to hit a token budget. Windows are per-source
    cumulative sums (bounded partitions); all integers."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    wcum = (
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wall = (
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    flagged = d.select(
        "source", "doc_id", "n_chars",
        F.coalesce(F.sum("n_chars").over(wcum), F.lit(0)).alias("cum_before"),
        F.sum("n_chars").over(wall).alias("total"),
    ).withColumn(
        "kept",
        F.expr(f"CASE WHEN cum_before * 100 < total * {_BUDGET_PCT}"
               " THEN 1 ELSE 0 END"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.max("total").alias("chars_total"),
            F.sum(F.expr("kept * n_chars")).alias("chars_kept"),
            F.min(F.expr("CASE WHEN kept = 1 THEN n_chars END"))
            .alias("cutoff_chars"),
        )
        .orderBy("source")
    )


QUERIES["text_quality_budget"] = text_quality_budget

ORACLES["text_quality_budget"] = f"""
    WITH flagged AS (
        SELECT source, doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before,
               SUM(n_chars) OVER (PARTITION BY source) AS total
        FROM documents
    ),
    keptf AS (
        SELECT *, CASE WHEN cum_before * 100 < total * {_BUDGET_PCT}
                       THEN 1 ELSE 0 END AS kept
        FROM flagged
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(MAX(total) AS BIGINT) AS chars_total,
           CAST(SUM(kept * n_chars) AS BIGINT) AS chars_kept,
           CAST(MIN(CASE WHEN kept = 1 THEN n_chars END) AS BIGINT)
               AS cutoff_chars
    FROM keptf
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# n-gram novelty of a crawl increment
# ---------------------------------------------------------------------------
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level novelty of a crawl increment: treating even doc_ids
    as the existing corpus and odd as the incoming batch, what fraction
    of each source's incoming 3-gram instances was never seen before?
    The marginal-value metric behind 'is this crawl still adding
    information' (the corpus-growth twin of dedup_incremental_crawl's
    doc-level verdicts). One anti-join on the shingle key against the
    distinct old-shingle set — bucketed by content, never all-pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = d.withColumn("w", F.split("text", r"\s+"))
    sh = toks.selectExpr(
        "doc_id", "source",
        "explode(CASE WHEN size(w) < 3 THEN array() "
        "ELSE transform(sequence(1, size(w) - 2), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),"
        " element_at(w, i+2))) END) AS shingle",
    )
    old = sh.filter("doc_id % 2 = 0").select("shingle").distinct()
    new = sh.filter("doc_id % 2 = 1")
    novel = new.join(old, "shingle", "anti")
    tot = new.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    nov = novel.groupBy("source").agg(F.count(F.lit(1)).alias("n_novel"))
    return (
        tot.join(nov, "source", "left")
        .selectExpr(
            "source", "n_shingles",
            "COALESCE(n_novel, 0) AS n_novel",
            "COALESCE(n_novel, 0) * 1000000 DIV n_shingles AS novelty_ppm",
        )
        .orderBy("source")
    )


QUERIES["text_ngram_novelty"] = text_ngram_novelty

ORACLES["text_ngram_novelty"] = """
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(text, '\\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM toks
    ),
    old AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
    new_sh AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
    tot AS (
        SELECT source, COUNT(*) AS n_shingles FROM new_sh GROUP BY source
    ),
    nov AS (
        SELECT source, COUNT(*) AS n_novel
        FROM new_sh n WHERE NOT EXISTS (
            SELECT 1 FROM old o WHERE o.shingle = n.shingle)
        GROUP BY source
    )
    SELECT t.source, t.n_shingles,
           COALESCE(n.n_novel, 0) AS n_novel,
           CAST(COALESCE(n.n_novel, 0) * 1000000 // t.n_shingles AS BIGINT)
               AS novelty_ppm
    FROM tot t LEFT JOIN nov n USING (source)
    ORDER BY t.source
"""


# ---------------------------------------------------------------------------
# tf-idf cosine near-dup pairs (sparse lexical similarity join)
# ---------------------------------------------------------------------------
_TFIDF_DF_CAP = 50


def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine similarity join — the lexical twin of
    dedup_embedding_cosine: docs as tf·idf vectors over their tokens,
    pair candidates from the inverted index (shared-token equi-join),
    dot products accumulated as exact integers (idf quantized to 1e3,
    so Σ(w_a·w_b) stays far from 2^63 at any corpus size). Tokens with
    df > 50 are dropped from the index — the standard stop-token cut
    that bounds posting lists (the same 100 TB lever as every LSH
    bucket cap); norms keep ALL terms so the cut only affects recall,
    not the scores of surviving pairs... here norms use the same capped
    vocabulary so Spark and the oracle agree exactly. Top 20 by cosine
    via TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        d.selectExpr("doc_id", r"explode(split(text, '\\s+')) AS tok")
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("nd"))
    df_t = (
        tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        .filter(f"df <= {_TFIDF_DF_CAP}")
        .join(F.broadcast(n_docs), F.expr("true"))
        .selectExpr(
            "tok", "df",
            "CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1000.0D) AS BIGINT)"
            " AS idf_k",
        )
    )
    w = tf.join(df_t, "tok").selectExpr(
        "doc_id", "tok", "tf * idf_k AS w"
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.expr("w * w")).alias("nsq"))
    dots = (
        w.selectExpr("tok", "doc_id AS doc_a", "w AS wa")
        .join(w.selectExpr("tok", "doc_id AS doc_b", "w AS wb"), "tok")
        .filter("doc_a < doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("wa * wb")).alias("dot"))
    )
    scored = (
        dots.join(norms.selectExpr("doc_id AS doc_a", "nsq AS na"), "doc_a")
        .join(norms.selectExpr("doc_id AS doc_b", "nsq AS nb"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b",
            "round(CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)"
            " AS cos6",
        )
    )
    top = scored.orderBy(
        F.desc("cos6"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(20)
    wr = W.orderBy(F.desc("cos6"), F.asc("doc_a"), F.asc("doc_b"))
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .select("rank", "doc_a", "doc_b", "cos6")
        .orderBy("rank")
    )


QUERIES["text_tfidf_cosine_pairs"] = text_tfidf_cosine_pairs

ORACLES["text_tfidf_cosine_pairs"] = f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents
    ),
    tfc AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY doc_id, tok
    ),
    dft AS (
        SELECT tok,
               CAST(round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                    / COUNT(*)) * 1000.0) AS BIGINT) AS idf_k
        FROM tfc GROUP BY tok
        HAVING COUNT(*) <= {_TFIDF_DF_CAP}
    ),
    w AS (
        SELECT t.doc_id, t.tok, t.tf * d.idf_k AS w
        FROM tfc t JOIN dft d USING (tok)
    ),
    norms AS (
        SELECT doc_id, SUM(w * w) AS nsq FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))),
               6) AS cos6
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
    )
    SELECT CAST(rn AS INT) AS rank, doc_a, doc_b, cos6 FROM (
        SELECT *, row_number() OVER (
            ORDER BY cos6 DESC, doc_a ASC, doc_b ASC) AS rn
        FROM scored
    ) WHERE rn <= 20
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# per-source language-mix entropy
# ---------------------------------------------------------------------------
def text_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source — is a source monolingual or
    mixed? — using the integer bit-length log2 (the mm_byte_entropy /
    dsir trick): e = Σ_lang c·(ilog2(n)−ilog2(c)), zero for single-
    language sources, growing with mix. The mixture-weighting input a
    multilingual pipeline reads next to the per-source scorecard. One
    tiny groupBy chain, no floats anywhere."""
    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    )
    wall = (
        W.partitionBy("source")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ilog2 = "length(bin(1 + {})) - 1"
    return (
        counts.withColumn("n", F.sum("c").over(wall))
        .selectExpr(
            "source", "c", "n",
            f"c * (({ilog2.format('n')}) - ({ilog2.format('c')})) AS e",
        )
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.sum("e").alias("entropy_sum"),
            F.expr("100 * SUM(e) DIV MAX(n)").alias("entropy_x100"),
        )
        .orderBy("source")
    )


QUERIES["text_source_lang_entropy"] = text_source_lang_entropy

ORACLES["text_source_lang_entropy"] = """
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY source, lang
    ),
    wn AS (
        SELECT source, c,
               CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM counts
    ),
    scored AS (
        SELECT source, c, n,
               c * ((length(printf('%b', 1 + n)) - 1)
                  - (length(printf('%b', 1 + c)) - 1)) AS e
        FROM wn
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           CAST(SUM(e) AS BIGINT) AS entropy_sum,
           CAST(100 * SUM(e) // MAX(n) AS BIGINT) AS entropy_x100
    FROM scored
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Flesch-Kincaid readability per source
# ---------------------------------------------------------------------------
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per source: syllables approximated as
    vowel groups (the standard dictionary-free heuristic), sentences as
    terminal-punctuation runs, words as whitespace tokens — all exact
    integer counts aggregated per source, with the FK formula
    0.39·(W/S) + 11.8·(Syl/W) − 15.59 as one final double expression.
    The readability band is a core text-quality feature (C4 keeps
    'sentence-like' text; extreme FK flags OCR junk and legalese)."""
    per = load(spark, sf_dir, "documents").selectExpr(
        "source",
        r"size(split(text, '\\s+')) AS w",
        "greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS s",
        "greatest(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)), 1)"
        " AS syl",
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("words"),
            F.sum("s").alias("sentences"),
            F.sum("syl").alias("syllables"),
        )
        .selectExpr(
            "source", "n_docs", "words", "sentences", "syllables",
            "CAST(round((0.39D * (CAST(words AS DOUBLE) / sentences)"
            " + 11.8D * (CAST(syllables AS DOUBLE) / words)"
            " - 15.59D) * 100.0D) AS BIGINT) AS fk_grade_x100",
        )
        .orderBy("source")
    )


QUERIES["text_readability_scores"] = text_readability_scores

ORACLES["text_readability_scores"] = """
    WITH per AS (
        SELECT source,
               len(string_split_regex(text, '\\s+')) AS w,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
               greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                   AS syl
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS sentences,
           CAST(SUM(syl) AS BIGINT) AS syllables,
           CAST(round((0.39 * (CAST(SUM(w) AS DOUBLE) / SUM(s))
                + 11.8 * (CAST(SUM(syl) AS DOUBLE) / SUM(w))
                - 15.59) * 100.0) AS BIGINT) AS fk_grade_x100
    FROM per
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# RAG sliding-window chunking accounting
# ---------------------------------------------------------------------------
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting for retrieval chunking: split every document
    into 64-token windows at stride 48 (16-token overlap) and report how
    many chunks an index would hold and the token-expansion factor the
    overlap costs (chunk tokens / document tokens, in ppm).

    Chunk i covers tokens [48*i, 48*i + 64) clipped to the document, for
    i in 0 .. (n-1) div 48 — every token is covered, the last window may
    be short, all arithmetic is integer so both engines agree exactly.

    Scale shape: chunk enumeration is a row-local list fold (aggregate
    over sequence — no explode, no per-chunk rows materialized for the
    accounting), then ONE partial-aggregated groupBy(source). At 100 TB
    the chunk *texts* would be emitted by the same slice expression into
    the index writer; the audit here never ships them.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "source", "size(split(text, ' ')) AS n"
    )
    per_doc = d.selectExpr(
        "source",
        "n",
        "(n - 1) DIV 48 + 1 AS n_chunks",
        "aggregate(sequence(0, (n - 1) DIV 48), CAST(0 AS BIGINT),"
        " (acc, i) -> acc + least(64, n - i * 48)) AS chunk_tokens",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n").alias("doc_tokens"),
            F.sum("chunk_tokens").alias("chunk_tokens"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_chunks",
            "doc_tokens",
            "chunk_tokens",
            "chunk_tokens * 1000000 DIV doc_tokens AS expansion_ppm",
        )
        .orderBy("source")
    )


QUERIES["text_chunk_overlap"] = text_chunk_overlap

ORACLES["text_chunk_overlap"] = """
    WITH d AS (
        SELECT source, len(string_split(text, ' ')) AS n FROM documents
    ),
    per_doc AS (
        SELECT source, n,
               (n - 1) // 48 + 1 AS n_chunks,
               (SELECT SUM(LEAST(64, d.n - i * 48))
                  FROM unnest(generate_series(0, (d.n - 1) // 48)) t(i)
               ) AS chunk_tokens
        FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n) AS BIGINT) AS doc_tokens,
           CAST(SUM(chunk_tokens) AS BIGINT) AS chunk_tokens,
           CAST(SUM(chunk_tokens) * 1000000 // SUM(n) AS BIGINT)
               AS expansion_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# robust per-source quality outlier audit (median / MAD)
# ---------------------------------------------------------------------------
def text_quality_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-quality outlier audit, robust form: per source, the median
    token count and the median absolute deviation (MAD), then the count
    of docs beyond ±3.5 MAD — the filter a curation pipeline applies
    before mean/std are trustworthy (medians ignore the junk tail that
    drags a z-score).

    Medians interpolate to halves, so both are kept in milli-units
    (×1000 integers); the outlier test is the pure-integer comparison
    2·|1000·n − med_milli| > 7·mad_milli — no negative division, no
    float compare.

    Scale shape: two partial-aggregated groupBy(source) passes (exact
    percentile per source — at 100 TB swap percentile for
    percentile_approx(…, 10000), same plan shape) with the tiny
    per-source stats broadcast back; docs never shuffle by source twice.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "source", "size(split(text, ' ')) AS n"
    )
    med = d.groupBy("source").agg(
        F.expr("CAST(round(percentile(n, 0.5) * 1000) AS BIGINT)").alias(
            "med_milli"
        )
    )
    dev = d.join(F.broadcast(med), "source").selectExpr(
        "source", "n", "med_milli", "abs(n * 1000 - med_milli) AS adev"
    )
    mad = dev.groupBy("source").agg(
        F.expr("CAST(round(percentile(adev, 0.5)) AS BIGINT)").alias(
            "mad_milli"
        )
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med_milli").alias("med_milli"),
            F.max("mad_milli").alias("mad_milli"),
            F.sum(
                F.expr(
                    "CAST(n * 1000 < med_milli"
                    " AND 2 * (med_milli - n * 1000) > 7 * mad_milli AS INT)"
                )
            ).alias("n_low_outliers"),
            F.sum(
                F.expr(
                    "CAST(n * 1000 > med_milli"
                    " AND 2 * (n * 1000 - med_milli) > 7 * mad_milli AS INT)"
                )
            ).alias("n_high_outliers"),
        )
        .orderBy("source")
    )


QUERIES["text_quality_robust_z"] = text_quality_robust_z

ORACLES["text_quality_robust_z"] = """
    WITH d AS (
        SELECT source, len(string_split(text, ' ')) AS n FROM documents
    ),
    med AS (
        SELECT source,
               CAST(round(median(n) * 1000) AS BIGINT) AS med_milli
        FROM d GROUP BY source
    ),
    dev AS (
        SELECT d.source, d.n, med.med_milli,
               abs(d.n * 1000 - med.med_milli) AS adev
        FROM d JOIN med USING (source)
    ),
    mad AS (
        SELECT source, CAST(round(median(adev)) AS BIGINT) AS mad_milli
        FROM dev GROUP BY source
    )
    SELECT dev.source,
           COUNT(*) AS n_docs,
           MAX(dev.med_milli) AS med_milli,
           MAX(mad.mad_milli) AS mad_milli,
           CAST(SUM(CASE WHEN dev.n * 1000 < dev.med_milli
                    AND 2 * (dev.med_milli - dev.n * 1000) > 7 * mad.mad_milli
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(SUM(CASE WHEN dev.n * 1000 > dev.med_milli
                    AND 2 * (dev.n * 1000 - dev.med_milli) > 7 * mad.mad_milli
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM dev JOIN mad USING (source)
    GROUP BY dev.source
    ORDER BY dev.source
"""


# ---------------------------------------------------------------------------
# cross-source contamination matrix (8-token shingle containment)
# ---------------------------------------------------------------------------
def text_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-contamination matrix: for every source pair, the
    count of shared distinct 8-token shingles plus containment
    (shared / smaller set) and Jaccard, in ppm. This is the audit run
    before mixing corpora — a high-containment pair means one source is
    substantially a re-crawl of the other and its tokens must not be
    double-counted in the mixture budget.

    Shingles present in more than 16 distinct sources are dropped before
    pairing (ubiquitous boilerplate carries no pair signal and is
    exactly what makes source×source joins quadratic); the cap is
    mirrored in the oracle.

    Scale shape: ONE wide shuffle — explode → groupBy(shingle) with a
    partial-aggregated collect_set(source), which dedups map-side (no
    separate distinct pass, no self-join: the first cut of this query
    self-joined the postings and cost 3× the runtime). Pair generation
    is row-local over each shingle's ≤16-source sorted set (≤ C(16,2)
    = 120 pairs after the cap); the pair and size aggregations that
    follow are metadata-scale (O(sources²) and O(sources·shingles)
    rows). A source set gathers at most |sources| elements before the
    cap filter prunes it — bounded by domain cardinality, not corpus
    size. Output is O(sources²) — a matrix, never row-scale.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "source", "split(text, ' ') AS w"
    )
    grp = (
        d.filter(F.expr("size(w) >= 8"))
        .selectExpr(
            "source",
            "explode(transform(sequence(0, size(w) - 8),"
            " i -> array_join(slice(w, i + 1, 8), ' '))) AS shingle",
        )
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.expr("size(srcs) <= 16"))
    )
    sizes = (
        grp.selectExpr("explode(srcs) AS source")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = (
        grp.filter(F.expr("size(srcs) >= 2"))
        .selectExpr(
            "explode(flatten(transform(srcs, (x, i) ->"
            " transform(slice(srcs, i + 2, size(srcs)),"
            " y -> struct(x AS src_a, y AS src_b))))) AS p"
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .selectExpr("src_a", "src_b", "shared")
    )
    return (
        pairs.join(
            F.broadcast(sizes.toDF("src_a", "n_a")), "src_a"
        )
        .join(F.broadcast(sizes.toDF("src_b", "n_b")), "src_b")
        .selectExpr(
            "src_a",
            "src_b",
            "shared",
            "shared * 1000000 DIV least(n_a, n_b) AS containment_ppm",
            "shared * 1000000 DIV (n_a + n_b - shared) AS jaccard_ppm",
        )
        .orderBy("src_a", "src_b")
    )


QUERIES["text_cross_source_overlap"] = text_cross_source_overlap

ORACLES["text_cross_source_overlap"] = """
    WITH d AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(w, i + 1, i + 8), ' ') AS shingle
        FROM d, unnest(generate_series(0, len(w) - 8)) t(i)
        WHERE len(w) >= 8
    ),
    capped AS (
        SELECT * FROM sh WHERE shingle IN (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 16
        )
    ),
    sizes AS (
        SELECT source, COUNT(*) AS n_sh FROM capped GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        FROM capped a JOIN capped b USING (shingle)
        WHERE a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.src_a, p.src_b, p.shared,
           p.shared * 1000000 // LEAST(sa.n_sh, sb.n_sh) AS containment_ppm,
           p.shared * 1000000 // (sa.n_sh + sb.n_sh - p.shared)
               AS jaccard_ppm
    FROM pairs p
    JOIN sizes sa ON sa.source = p.src_a
    JOIN sizes sb ON sb.source = p.src_b
    ORDER BY p.src_a, p.src_b
"""


# ---------------------------------------------------------------------------
# tokenizer coverage curve (top-K n-gram mass)
# ---------------------------------------------------------------------------
def text_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary-size/coverage trade behind tokenizer design: what
    share of all corpus 3-gram OCCURRENCES the top-K most frequent
    3-grams cover, at K ∈ {100, 1000, 10000}. A steep curve (high
    coverage at small K) means a small merge vocabulary already
    compresses well; Zipf-flat tails argue for bigger K.

    Frequency ranks break ties on the gram string, so the top-K set is
    identical in both engines.

    Scale shape: one explode → groupBy(gram) (the wide shuffle), then
    the rank window over the GRAM-frequency table (vocabulary-, not
    corpus-, cardinality — the [hist] global-window class; at web-scale
    vocabularies the two-pass count-of-counts histogram selection
    documented in ev_time_to_convert applies) and a 3-row conditional
    aggregate.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "split(text, ' ') AS w"
    )
    grams = (
        d.filter(F.expr("size(w) >= 3"))
        .selectExpr(
            "explode(transform(sequence(0, size(w) - 3),"
            " i -> array_join(slice(w, i + 1, 3), ' '))) AS gram"
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = W.orderBy(F.desc("n"), "gram")
    ranked = grams.withColumn("rn", F.row_number().over(wr))
    return (
        ranked.selectExpr("explode(array(100, 1000, 10000)) AS k", "rn", "n")
        .groupBy("k")
        .agg(
            F.sum(F.expr("CASE WHEN rn <= k THEN n ELSE 0 END")).alias(
                "covered"
            ),
            F.sum("n").alias("total_occurrences"),
            F.count(F.lit(1)).alias("vocab_size"),
        )
        .selectExpr(
            "k",
            "least(k, vocab_size) AS vocab_used",
            "vocab_size",
            "total_occurrences",
            "covered * 1000000 DIV total_occurrences AS coverage_ppm",
        )
        .orderBy("k")
    )


QUERIES["text_ngram_coverage_curve"] = text_ngram_coverage_curve

ORACLES["text_ngram_coverage_curve"] = """
    WITH d AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT array_to_string(list_slice(w, i + 1, i + 3), ' ') AS gram,
               COUNT(*) AS n
        FROM d, unnest(generate_series(0, len(w) - 3)) t(i)
        WHERE len(w) >= 3
        GROUP BY 1
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, gram) AS rn
        FROM grams
    )
    SELECT k,
           CAST(LEAST(k, COUNT(*)) AS BIGINT) AS vocab_used,
           COUNT(*) AS vocab_size,
           CAST(SUM(n) AS BIGINT) AS total_occurrences,
           CAST(SUM(CASE WHEN rn <= k THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS coverage_ppm
    FROM ranked, unnest([100, 1000, 10000]) t(k)
    GROUP BY k
    ORDER BY k
"""


# ---------------------------------------------------------------------------
# document-length decile bands (distributed ntile over documents)
# ---------------------------------------------------------------------------
def text_length_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count decile bands over the corpus — the length profile a
    packing/curriculum planner reads before choosing sequence lengths:
    per decile of the document-length distribution, how many documents
    and tokens, and the band's token range. Exact deciles via the
    distributed ntile (no single-task sort of the corpus), tie-broken
    on doc_id so assignments are unique and engine-identical.

    Scale shape: one scan computing token counts row-locally, the
    two-shuffle distributed rank, one 10-group aggregate. Token
    counting is length-linear (lengthprobe entry).
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_tok",
    )
    banded = distributed_ntile(
        d, [F.asc("n_tok"), F.asc("doc_id")], 10, "decile"
    )
    return (
        banded.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens_total"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        )
        .orderBy("decile")
    )


QUERIES["text_length_decile_bands"] = text_length_decile_bands

ORACLES["text_length_decile_bands"] = """
    WITH d AS (
        -- CAST to INT: Spark's size() is i32, DuckDB len() is i64
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok
        FROM documents
    ),
    banded AS (
        SELECT n_tok,
               CAST(ntile(10) OVER (ORDER BY n_tok, doc_id) AS INT)
                   AS decile
        FROM d
    )
    SELECT decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           MIN(n_tok) AS min_tok,
           MAX(n_tok) AS max_tok
    FROM banded
    GROUP BY decile
    ORDER BY decile
"""


# ---------------------------------------------------------------------------
# OCR/garbage artifact screen
# ---------------------------------------------------------------------------
def text_ocr_artifact_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garbage-text screen for OCR/extraction artifacts — the row-local
    rule stack a crawl-ingest pipeline runs before any model-based
    quality scoring: per document, the non-alphabetic character share,
    the digit share, and the longest IDENTICAL-token run (OCR loops and
    boilerplate stutters repeat tokens); rolled up per source with
    flagged-document rates. All thresholds are integer
    cross-multiplications (share·len vs count·1e3), so the verdict bit
    is exact in both engines.

    Flag rule: non-alpha share > 300/1e3 OR digit share > 200/1e3 OR a
    token repeated ≥ 4 times consecutively.

    Scale shape: entirely row-local folds over the token array (one
    pass, no per-position substring re-walks — lengthprobe entry), one
    partial-aggregated groupBy(source).
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "text",
        "split(text, ' ') AS w",
        "length(text) AS n_chars_t",
        "length(regexp_replace(text, '[a-zA-Z ]', '')) AS n_nonalpha",
        "length(regexp_replace(text, '[^0-9]', '')) AS n_digit",
    )
    # longest identical-token run: fold (prev, run, best) over tokens —
    # an O(tokens) row-local scan encoded as one aggregate() lambda
    runs = d.selectExpr(
        "doc_id",
        "source",
        "n_chars_t",
        "n_nonalpha",
        "n_digit",
        "aggregate(w, struct(CAST('' AS STRING) AS prev,"
        " CAST(0 AS INT) AS run, CAST(0 AS INT) AS best),"
        " (acc, t) -> struct(t AS prev,"
        "  CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END AS run,"
        "  GREATEST(acc.best,"
        "   CASE WHEN t = acc.prev THEN acc.run + 1 ELSE 1 END) AS best),"
        " acc -> acc.best) AS max_run",
    )
    flagged = runs.selectExpr(
        "source",
        "CAST(n_nonalpha * 1000 > 300 * n_chars_t"
        " OR n_digit * 1000 > 200 * n_chars_t"
        " OR max_run >= 4 AS INT) AS flagged",
        "max_run",
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("flagged").alias("n_flagged"),
            F.max("max_run").alias("worst_token_run"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_flagged",
            "n_flagged * 1000000 DIV n_docs AS flagged_ppm",
            "worst_token_run",
        )
        .orderBy("source")
    )


QUERIES["text_ocr_artifact_screen"] = text_ocr_artifact_screen

def _ocr_oracle() -> str:
    # The identical-token-run scan is a row-local fold in Spark; the
    # DuckDB mirror uses the gaps-and-islands form over the unnested
    # token list (i - row_number per token value = run id).
    return """
    WITH d AS (
        SELECT doc_id, source,
               string_split(text, ' ') AS w,
               length(text) AS n_chars_t,
               length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))
                   AS n_nonalpha,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
        FROM documents
    ),
    toks AS (
        SELECT doc_id, w[i] AS tok, i
        FROM d, unnest(generate_series(1, len(w))) t(i)
    ),
    islands AS (
        SELECT doc_id, tok,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i)
                   AS grp
        FROM toks
    ),
    runs AS (
        SELECT doc_id, CAST(MAX(run_len) AS INT) AS max_run
        FROM (
            SELECT doc_id, COUNT(*) AS run_len
            FROM islands GROUP BY doc_id, tok, grp
        ) GROUP BY doc_id
    ),
    flagged AS (
        SELECT d.source,
               CASE WHEN d.n_nonalpha * 1000 > 300 * d.n_chars_t
                      OR d.n_digit * 1000 > 200 * d.n_chars_t
                      OR r.max_run >= 4 THEN 1 ELSE 0 END AS flagged,
               r.max_run
        FROM d JOIN runs r USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(flagged) AS BIGINT) AS n_flagged,
           CAST(SUM(flagged) * 1000000 // COUNT(*) AS BIGINT)
               AS flagged_ppm,
           MAX(max_run) AS worst_token_run
    FROM flagged
    GROUP BY source
    ORDER BY source
"""


ORACLES["text_ocr_artifact_screen"] = _ocr_oracle()


# ---------------------------------------------------------------------------
# declared-vs-detected language mismatch
# ---------------------------------------------------------------------------
_MISMATCH_STOP = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "los", "que", "es"),
    "zh": ("的", "了", "是", "在", "和"),
}


def text_lang_mismatch_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-language QA: stopword-vote language detection (the
    classic cheap lang-id: count occurrences of each language's
    top stopwords, argmax with a fixed language order on ties /
    'und' when no list scores) against the corpus's DECLARED lang
    column, rolled up per source × declared lang with the mismatch
    rate. The audit that catches mislabeled crawls before they skew a
    language-balanced mixture. (On the synthetic fixture the text is
    English-ish for every declared lang, so non-en rows read as
    mismatches — exactly what the screen is for.)

    Scale shape: row-local token filters (5 fixed IN-lists, one pass
    each over the token array), one groupBy(source, lang). Votes and
    verdicts are exact integers.
    """
    d = load(spark, sf_dir, "documents").selectExpr(
        "source", "lang", "split(text, ' ') AS w"
    )
    votes = d.selectExpr(
        "source",
        "lang",
        *[
            f"size(filter(w, t -> t IN {tuple(toks)!r})) AS v_{lg}".replace(
                "'", "'"
            )
            for lg, toks in _MISMATCH_STOP.items()
        ],
    )
    guess = (
        "CASE WHEN v_en = 0 AND v_de = 0 AND v_fr = 0 AND v_es = 0"
        " AND v_zh = 0 THEN 'und'"
        " WHEN v_en >= v_de AND v_en >= v_fr AND v_en >= v_es"
        " AND v_en >= v_zh THEN 'en'"
        " WHEN v_de >= v_fr AND v_de >= v_es AND v_de >= v_zh THEN 'de'"
        " WHEN v_fr >= v_es AND v_fr >= v_zh THEN 'fr'"
        " WHEN v_es >= v_zh THEN 'es' ELSE 'zh' END"
    )
    return (
        votes.selectExpr(
            "source",
            "lang",
            f"CAST({guess} != lang AS INT) AS mismatch",
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("mismatch").alias("n_mismatch"),
        )
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "n_mismatch",
            "n_mismatch * 1000000 DIV n_docs AS mismatch_ppm",
        )
        .orderBy("source", "lang")
    )


QUERIES["text_lang_mismatch_screen"] = text_lang_mismatch_screen


def _lang_oracle() -> str:
    votes = ",\n               ".join(
        "len(list_filter(w, t -> t IN ({}))) AS v_{}".format(
            ", ".join(f"'{t}'" for t in toks), lg
        )
        for lg, toks in _MISMATCH_STOP.items()
    )
    guess = (
        "CASE WHEN v_en = 0 AND v_de = 0 AND v_fr = 0 AND v_es = 0"
        " AND v_zh = 0 THEN 'und'"
        " WHEN v_en >= v_de AND v_en >= v_fr AND v_en >= v_es"
        " AND v_en >= v_zh THEN 'en'"
        " WHEN v_de >= v_fr AND v_de >= v_es AND v_de >= v_zh THEN 'de'"
        " WHEN v_fr >= v_es AND v_fr >= v_zh THEN 'fr'"
        " WHEN v_es >= v_zh THEN 'es' ELSE 'zh' END"
    )
    return f"""
    WITH d AS (
        SELECT source, lang, string_split(text, ' ') AS w FROM documents
    ),
    votes AS (
        SELECT source, lang,
               {votes}
        FROM d
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {guess} != lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mismatch,
           CAST(SUM(CASE WHEN {guess} != lang THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS mismatch_ppm
    FROM votes
    GROUP BY source, lang
    ORDER BY source, lang
"""


ORACLES["text_lang_mismatch_screen"] = _lang_oracle()


# ---------------------------------------------------------------------------
# token-concentration Gini per source (128-bit exact)
# ---------------------------------------------------------------------------
def text_gini_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document token counts within each source
    — the concentration read before length-capped sampling: G → 0 means
    token mass is spread evenly across docs, G → 1 means a few huge
    docs carry the source (and a naive doc-uniform sample would
    misrepresent its token mass).

    Exact rank formula on the VALUE HISTOGRAM, tie-invariant:
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending xᵢ, where the
    rank block of a repeated value v (count mv, cv smaller rows) sums
    to v·mv·(2cv + mv + 1) — so the window runs over DISTINCT
    (source, n_tok) rows (a per-source value histogram, domain-bounded),
    never over documents.

    128-bit integer arithmetic for the rank-mass sum (Σ i·xᵢ ~ n²·x̄
    overflows int64 past ~10⁹ doc·tokens): Spark DECIMAL(38,0) products
    and sums (ANSI-exact; `div` is integral division → BIGINT) mirrored
    by DuckDB HUGEINT `//` — bit-identical floors in both engines, no
    double anywhere. Scale shape: one row-local token count, one
    (source, n_tok) groupBy, a source-partitioned window over the
    histogram, one |sources|-group aggregate."""
    hist = (
        load(spark, sf_dir, "documents")
        .selectExpr("source", "size(split(text, ' ')) AS n_tok")
        .groupBy("source", "n_tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    w = (
        W.partitionBy("source")
        .orderBy("n_tok")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    terms = hist.withColumn("cum", F.sum("m").over(w)).selectExpr(
        "source",
        "m",
        "CAST(n_tok AS DECIMAL(38,0)) * m AS mass",
        # rank block of value v: ranks cv+1 .. cv+mv, Σ 2·rank·v
        "CAST(n_tok AS DECIMAL(38,0)) * m * (2 * (cum - m) + m + 1)"
        " AS rank_mass_x2",
    )
    return (
        terms.groupBy("source")
        .agg(
            F.expr("CAST(sum(m) AS BIGINT)").alias("n_docs"),
            F.expr("sum(mass)").alias("_s"),
            F.expr("sum(rank_mass_x2)").alias("_d2"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "CAST(_s AS BIGINT) AS tokens_total",
            "(1000000 * (_d2 - (n_docs + 1) * _s)) div (n_docs * _s)"
            " AS gini_ppm",
        )
        .orderBy("source")
    )


QUERIES["text_gini_token_concentration"] = text_gini_token_concentration

ORACLES["text_gini_token_concentration"] = """
    WITH d AS (
        SELECT source, CAST(len(string_split(text, ' ')) AS INT) AS n_tok
        FROM documents
    ),
    hist AS (
        SELECT source, n_tok, count(*) AS m
        FROM d GROUP BY source, n_tok
    ),
    cums AS (
        SELECT source, n_tok, m,
               sum(m) OVER (PARTITION BY source ORDER BY n_tok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist
    ),
    terms AS (
        SELECT source, m,
               CAST(n_tok AS HUGEINT) * m AS mass,
               CAST(n_tok AS HUGEINT) * m * (2 * (cum - m) + m + 1)
                   AS rank_mass_x2
        FROM cums
    )
    SELECT source,
           CAST(sum(m) AS BIGINT) AS n_docs,
           CAST(sum(mass) AS BIGINT) AS tokens_total,
           CAST((1000000 * (sum(rank_mass_x2)
                            - (CAST(sum(m) AS HUGEINT) + 1) * sum(mass)))
                // (CAST(sum(m) AS HUGEINT) * sum(mass)) AS BIGINT)
               AS gini_ppm
    FROM terms
    GROUP BY source
    ORDER BY source
"""
