"""Array / map / struct / JSON function family + ordered string
aggregation — the nested-type surface the reference lacks entirely
(SURVEY.md §1.2: no array/map types exist in KuiBaDB; Spark provides
them natively and the fixtures require them).

Cross-engine notes: Spark array_position == DuckDB list_position
(both 1-based, 0 when missing); map extraction yields a scalar in Spark
vs a 1-element list in DuckDB (`[1]` indexing in the oracle); struct/map
columns are never emitted raw — scalar fields only, so value hashing is
representation-independent. Aggregated lists/strings are always
explicitly ordered (collect_set + array_sort ↔ ORDER BY in string_agg).

Scale notes: all array/map work is per-row expression evaluation after
the scan; collect_set aggregations are bounded by group cardinality
(here: tiny per-group domains); explode is linear fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kuibadb_spark.catalog import load


# --------------------------------------------------------------------------
# array function family over tokenized documents
# --------------------------------------------------------------------------
def coll_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.selectExpr("doc_id", r"split(text, '\\s+') AS toks")
        .selectExpr(
            "doc_id",
            "size(toks) AS n_toks",
            # array-valued results are joined to CSV text at the boundary —
            # the driver comparator cannot sort/hash list cells; the array
            # semantics under test are unchanged (join happens last)
            "array_join(slice(toks, 1, 3), ',') AS first3",
            "array_join(array_sort(array_distinct(toks)), ',') AS vocab",
            "array_contains(toks, 'the') AS has_the",
            "array_position(toks, 'hash') AS hash_pos",
            "array_join(transform(slice(toks, 1, 5), t -> upper(t)), ',')"
            " AS first5_upper",
            "array_join(filter(toks, t -> length(t) > 5), ',') AS long_toks",
            "aggregate(toks, 0, (acc, t) -> acc + length(t)) AS total_chars",
            "element_at(toks, 1) AS head_tok",
            "element_at(toks, -1) AS tail_tok",
            "array_max(transform(toks, t -> length(t))) AS max_len",
            "array_join(flatten(array(slice(toks, 1, 2), slice(toks, 3, 2))),"
            " ',') AS first4",
        )
        .filter(F.col("doc_id") < 100)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# posexplode / unnest-with-ordinality
# --------------------------------------------------------------------------
def coll_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        d.selectExpr("doc_id", r"split(text, '\\s+') AS toks")
        .selectExpr("doc_id", "posexplode(toks) AS (pos, tok)")
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------------
# map functions (scalar outputs only — representation-independent)
# --------------------------------------------------------------------------
def coll_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.selectExpr(
            "event_id",
            "map('type', event_type, 'user', CAST(user_id AS STRING)) AS m",
        )
        .selectExpr(
            "event_id",
            "size(m) AS m_size",
            "element_at(m, 'type') AS m_type",
            "element_at(m, 'user') AS m_user",
            "array_join(array_sort(map_keys(m)), ',') AS keys_sorted",
            "array_contains(map_values(m), 'view') AS has_view_value",
        )
        .filter(F.col("event_id") < 200)
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# struct build/extract + JSON round-trip over events.props
# --------------------------------------------------------------------------
def coll_struct_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.selectExpr(
            "event_id",
            "from_json(props, 'k INT') AS pj",
            "named_struct('t', event_type, 'v', value) AS st",
        )
        .selectExpr(
            "event_id",
            "pj.k AS prop_k",
            "to_json(named_struct('k', pj.k)) AS rt_json",
            "st.t AS struct_type",
            "st.v AS struct_value",
        )
        .filter(F.col("event_id") < 200)
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# ordered string / list aggregation
# --------------------------------------------------------------------------
def coll_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "concat_ws(',', array_sort(collect_set(l_linestatus)))"
            ).alias("statuses"),
            F.expr(
                "concat_ws('|', array_sort(collect_set(CAST(l_linenumber AS STRING))))"
            ).alias("linenos"),
            F.expr("array_join(array_sort(collect_set(l_linestatus)), ',')")
            .alias("status_list"),
        )
        .orderBy("l_returnflag")
    )


QUERIES = {
    "coll_array_ops": coll_array_ops,
    "coll_explode_pos": coll_explode_pos,
    "coll_map_ops": coll_map_ops,
    "coll_struct_json": coll_struct_json,
    "coll_string_agg": coll_string_agg,
}

ORACLES = {
    "coll_array_ops": """
        WITH t AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS toks
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_toks,
               array_to_string(toks[1:3], ',') AS first3,
               array_to_string(list_sort(list_distinct(toks)), ',') AS vocab,
               list_contains(toks, 'the') AS has_the,
               CAST(list_position(toks, 'hash') AS BIGINT) AS hash_pos,
               array_to_string(list_transform(toks[1:5], t -> upper(t)), ',')
                   AS first5_upper,
               coalesce(array_to_string(
                   list_filter(toks, t -> length(t) > 5), ','), '')
                   AS long_toks,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS INTEGER)
                   AS total_chars,
               toks[1] AS head_tok,
               toks[-1] AS tail_tok,
               CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER)
                   AS max_len,
               array_to_string(flatten([toks[1:2], toks[3:4]]), ',') AS first4
        FROM t
        ORDER BY doc_id
    """,
    "coll_explode_pos": """
        WITH t AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS toks
            FROM documents WHERE doc_id < 20
        )
        SELECT doc_id,
               CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
               unnest(toks) AS tok
        FROM t
        ORDER BY doc_id, pos
    """,
    "coll_map_ops": """
        WITH t AS (
            SELECT event_id,
                   map(['type', 'user'],
                       [event_type, CAST(user_id AS VARCHAR)]) AS m
            FROM events WHERE event_id < 200
        )
        SELECT event_id,
               CAST(cardinality(m) AS INTEGER) AS m_size,
               map_extract(m, 'type')[1] AS m_type,
               map_extract(m, 'user')[1] AS m_user,
               array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
               list_contains(map_values(m), 'view') AS has_view_value
        FROM t
        ORDER BY event_id
    """,
    "coll_struct_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
               json_object('k', CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS rt_json,
               event_type AS struct_type,
               value AS struct_value
        FROM events
        WHERE event_id < 200
        ORDER BY event_id
    """,
    "coll_string_agg": """
        SELECT l_returnflag,
               string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
                   AS statuses,
               string_agg(DISTINCT CAST(l_linenumber AS VARCHAR), '|'
                          ORDER BY CAST(l_linenumber AS VARCHAR)) AS linenos,
               array_to_string(list_sort(list_distinct(list(l_linestatus))),
                               ',') AS status_list
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
}


# --------------------------------------------------------------------------
# array set algebra: intersect / union / except / overlap
# --------------------------------------------------------------------------
def coll_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra between each document's first-half and second-half
    vocabularies — array_intersect/union/except/overlap, all row-local
    (canonicalized with array_sort so both engines hash identically)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.selectExpr("doc_id", r"split(text, '\\s+') AS toks")
        .selectExpr(
            "doc_id",
            "array_distinct(slice(toks, 1, size(toks) div 2)) AS va",
            "array_distinct(slice(toks, size(toks) div 2 + 1,"
            " size(toks))) AS vb",
        )
        .selectExpr(
            "doc_id",
            "array_join(array_sort(array_intersect(va, vb)), ',') AS common",
            "size(array_sort(array_union(va, vb))) AS n_union",
            "array_join(array_sort(array_except(va, vb)), ',') AS only_first",
            "arrays_overlap(va, vb) AS overlaps",
        )
        .filter(F.col("doc_id") < 200)
        .orderBy("doc_id")
    )


QUERIES["coll_array_setops"] = coll_array_setops

ORACLES["coll_array_setops"] = r"""
    WITH halves AS (
        SELECT doc_id,
               list_distinct(toks[1 : len(toks) // 2]) AS va,
               list_distinct(toks[len(toks) // 2 + 1 : len(toks)]) AS vb
        FROM (
            SELECT doc_id, string_split_regex(text, '\s+') AS toks
            FROM documents
        )
    )
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_intersect(va, vb)), ','),
                    '') AS common,
           CAST(len(list_sort(list_distinct(list_concat(va, vb)))) AS INTEGER) AS n_union,
           coalesce(array_to_string(
               list_sort(list_filter(va, x -> NOT list_contains(vb, x))), ','),
               '') AS only_first,
           len(list_intersect(va, vb)) > 0 AS overlaps
    FROM halves
    WHERE doc_id < 200
    ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# aggregation INTO maps: per-group key→value map construction
# --------------------------------------------------------------------------
def coll_map_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map column BY aggregation (the inverse of map explosion):
    per order-priority, a status→count map assembled from sorted
    (status, count) entries — map_from_entries over an array_sort'd
    collect_list, so key order (and the hash) is deterministic in both
    engines. The shape behind feature-bag and sparse-vector assembly."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("o_orderpriority")
        .agg(
            F.expr(
                "map_from_entries(array_sort("
                "collect_list(struct(o_orderstatus, n))))"
            ).alias("status_counts"),
            F.sum("n").alias("n_orders"),
        )
        .selectExpr(
            "o_orderpriority",
            "CAST(status_counts AS STRING) AS status_counts_str",
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


QUERIES["coll_map_aggregation"] = coll_map_aggregation

# DuckDB prints maps as {k=v, ...}; Spark CAST(map AS STRING) prints
# {k -> v, ...} — normalize the DuckDB rendering to Spark's
ORACLES["coll_map_aggregation"] = """
    WITH counts AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS n
        FROM orders
        GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
           '{' || string_agg(o_orderstatus || ' -> ' || n, ', '
                             ORDER BY o_orderstatus) || '}'
               AS status_counts_str,
           CAST(sum(n) AS BIGINT) AS n_orders
    FROM counts
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# higher-order array lambdas: filter / exists / forall / aggregate / zip_with
# --------------------------------------------------------------------------
def coll_lambda_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda family over token arrays. Every expression is row-local
    whole-stage codegen (no UDF, no shuffle); zip_with pairs each token
    with its 1-based position for a position-weighted length sum."""
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("toks", F.expr("split(text, ' ')"))
        .select(
            "doc_id",
            F.expr("size(filter(toks, t -> length(t) > 4))").alias("n_long"),
            F.expr("exists(toks, t -> length(t) >= 8)").alias("has_verylong"),
            F.expr("forall(toks, t -> length(t) <= 10)").alias("all_short"),
            F.expr("aggregate(toks, 0, (acc, t) -> acc + length(t))").alias(
                "total_len"
            ),
            F.expr(
                "aggregate(zip_with(toks, sequence(1, size(toks)),"
                " (t, i) -> i * length(t)), 0L, (acc, x) -> acc + x)"
            ).alias("pos_weighted_len"),
        )
        .orderBy("doc_id")
    )


QUERIES["coll_lambda_ops"] = coll_lambda_ops

ORACLES["coll_lambda_ops"] = """
        SELECT doc_id,
               CAST(len(list_filter(toks, t -> length(t) > 4)) AS INTEGER)
                   AS n_long,
               len(list_filter(toks, t -> length(t) >= 8)) > 0
                   AS has_verylong,
               len(list_filter(toks, t -> length(t) > 10)) = 0
                   AS all_short,
               CAST(list_sum(list_transform(toks, t -> length(t)))
                    AS INTEGER) AS total_len,
               CAST(list_sum(list_transform(toks, (t, i) -> i * length(t)))
                    AS BIGINT) AS pos_weighted_len
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ORDER BY doc_id
    """
