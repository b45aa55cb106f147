"""Physical-plan regression tests: the scale properties we rely on —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for O(1) dims, partial+final aggregation — must stay in the plan.
"""

from __future__ import annotations

import contextlib
import io

from kuibadb_spark.operators.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
    q6_forecast_revenue,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _scan_count(p: str) -> int:
    """Unique scan nodes — formatted explain prints each node twice
    (tree line + numbered details section)."""
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))


def test_q6_filters_pushed_to_scan(spark):
    p = _plan(q6_forecast_revenue(spark, SF))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p


def test_q6_column_pruning(spark):
    p = _plan(q6_forecast_revenue(spark, SF))
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_q5_broadcasts_dimensions(spark):
    p = _plan(q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q1_partial_aggregation(spark):
    p = _plan(q1_pricing_summary(spark, SF))
    # partial (map-side) + final HashAggregate pair around the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime bloom-filter join pruning: a selective dim filter injects
    a bloom_filter_agg on the dim side and a might_contain condition on
    the FACT side's scan — at 100 TB this skips fact rows whose join key
    can't match, before the shuffle. (Off by default in OSS Spark; we
    pin that enabling it produces the filter so the conf is a knob, not
    a hope.)"""
    from kuibadb_spark.catalog import load
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, SF, "lineitem")
        orders = load(spark, SF, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("s"))
        )
        p = _plan(j)
        assert "bloom_filter_agg" in p
        assert "might_contain" in p
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark shingle set must reach the corpus side as a
    broadcast (benchmarks are MB-scale; the corpus is the 100 TB side) —
    a shuffle join here would shuffle every corpus shingle."""
    from kuibadb_spark.operators.text import text_decontaminate

    p = _plan(text_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p


def test_pagerank_reuses_edge_exchange_at_runtime(spark):
    """All pagerank rounds hang off ONE explicit hash(src) exchange over
    the symmetrized edge list; AQE must dedupe every other consumer into
    a ReusedExchange at runtime — this is what makes a cold (cache-less)
    run pay the expensive near-dup pair pipeline once, not once per
    round. (The pre-execution plan shows no reuse — AQE applies it when
    stages materialize — so assert on the final adaptive plan.) Clear
    the cache first: other suites persist the near-dup edge pipeline,
    and CacheManager would splice InMemoryRelation into this plan,
    leaving no exchange to reuse."""
    from kuibadb_spark.operators.graph import graph_pagerank

    spark.catalog.clearCache()
    df = graph_pagerank(spark, SF)
    df.collect()
    p = _plan(df)
    assert "isFinalPlan=true" in p
    assert "ReusedExchange" in p


def test_search_scans_corpus_once(spark):
    """text_search_conjunctive: df comes from a window over the postings
    exchange, not a separate groupBy subtree — the old shape re-ran the
    scan+explode pipeline once per consumer (6 scans). Budget: ≤2 scans
    (postings + the n_docs count)."""
    from kuibadb_spark.operators.text import text_search_conjunctive

    p = _plan(text_search_conjunctive(spark, SF))
    assert _scan_count(p) <= 2, p


def test_pq_broadcasts_codebooks(spark):
    """sim_ann_pq: the m×k codebook and the query distance table reach
    the corpus side as broadcasts — the corpus is never shuffled for
    either join."""
    from kuibadb_spark.operators.similarity import sim_ann_pq

    p = _plan(sim_ann_pq(spark, SF))
    assert "BroadcastHashJoin" in p


def test_dsir_broadcasts_count_tables(spark):
    """text_dsir_importance: the 1024-bucket target/background count
    tables broadcast; the corpus-side rows never exceed (doc_id, int)."""
    from kuibadb_spark.operators.text import text_dsir_importance

    p = _plan(text_dsir_importance(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2


def test_dup_corpus_single_scan(spark):
    """_dup_corpus emits base + conditional copies from one pass — the
    3-branch UNION ALL shape scanned documents three times."""
    from kuibadb_spark.operators.dedup import _dup_corpus

    p = _plan(_dup_corpus(spark, SF))
    assert _scan_count(p) == 1, p


def test_cc_iteration_cache_hygiene(spark):
    """dedup_connected_components: superseded label tables must be
    unpersisted as the loop advances — the leak shape held up to 20
    cached label DataFrames at once (round-1 verdict). Budget after
    convergence: the two shared edge tables + ≤1 live label table
    (localCheckpointed rounds show as cached RDDs too, so allow one
    extra in-flight)."""
    from kuibadb_spark.operators.dedup import dedup_connected_components

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    dedup_connected_components(spark, SF).collect()
    after = sc._jsc.getPersistentRDDs().size()
    assert after - before <= 4, (before, after)


def test_streak_scan_equals_recursion(spark):
    """w_price_streaks_scan (one-pass islands) and rec_price_streaks
    (WITH RECURSIVE linear recurrence) are two plans for one computation
    — they must agree row-for-row."""
    from kuibadb_spark.operators.recursive import rec_price_streaks
    from kuibadb_spark.operators.windows import w_price_streaks_scan

    a = sorted(tuple(r) for r in w_price_streaks_scan(spark, SF).collect())
    b = sorted(tuple(r) for r in rec_price_streaks(spark, SF).collect())
    assert a == b and len(a) > 0


def test_registry_orders_unverified_first():
    """The driver verifies the first 50 registry keys each round; keys
    already green in a CORRECTNESS artifact must sort to the back, and
    attempted-but-red keys to the very front (their fixes need
    confirmation most)."""
    from kuibadb_spark import registry

    keys = list(registry.all_queries())
    verified = registry.driver_verified()
    failed = registry.driver_failed()
    reverify = registry._REVERIFY
    assert len(keys) == len(set(keys))
    # stale-green keys (semantics changed after grading) count as
    # front-of-window alongside the never-verified ones
    n_front = len(keys) - len((verified - reverify) & set(keys))
    front, back = keys[:n_front], keys[n_front:]
    assert not (set(front) & (verified - reverify))
    assert set(back) <= verified - reverify
    for k in keys[: len(failed & set(keys))]:
        assert k in failed
    # reverify keys come right after failures, before new ground — a
    # reverify key graded RED in a later round belongs to the failed
    # segment, mirroring all_queries' "not already ordered" guard
    # (round-9 ADVICE)
    n_failed = len(failed & set(keys))
    rv_in = [k for k in keys if k in reverify and k not in failed]
    assert keys[n_failed:n_failed + len(rv_in)] == rv_in


def test_registry_newest_verdict_decides(tmp_path, monkeypatch):
    """A key green in an early artifact and red in a later one counts as
    failed and returns to the front of the window; a key red first and
    green later counts as verified."""
    import json

    from kuibadb_spark import registry

    keys = list(registry._merged())
    regressed, recovered = keys[-1], keys[-2]
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({regressed: green, recovered: red})
    )
    (tmp_path / "CORRECTNESS_r12.json").write_text(
        json.dumps({regressed: red, recovered: green})
    )
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    assert regressed in registry.driver_failed()
    assert regressed not in registry.driver_verified()
    assert recovered in registry.driver_verified()
    assert recovered not in registry.driver_failed()
    assert next(iter(registry.all_queries())) == regressed


def test_concurrent_sessions_no_theta_join(spark):
    """ev_concurrent_sessions: the interval overlap must reach the
    planner as a bucket equi-join — a BroadcastNestedLoop or cartesian
    means the banded rewrite regressed to the oracle's theta join."""
    from kuibadb_spark.operators.events import ev_concurrent_sessions

    p = _plan(ev_concurrent_sessions(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_line_dedup_single_scan(spark):
    """text_line_dedup: chunking is row-local and the count+mark join
    hangs off the chunk exchange — documents must be scanned once."""
    from kuibadb_spark.operators.text import text_line_dedup

    p = _plan(text_line_dedup(spark, SF))
    assert _scan_count(p) <= 2, p


def test_url_normalize_single_scan_no_join(spark):
    """dedup_url_normalize: pure row-local canonicalization + one
    partial-aggregated groupBy — one scan, no join at all."""
    from kuibadb_spark.operators.dedup import dedup_url_normalize

    p = _plan(dedup_url_normalize(spark, SF))
    assert _scan_count(p) == 1, p
    assert "Join" not in p
    assert "partial_count" in p or p.count("HashAggregate") >= 2


def test_rrf_broadcasts_query_vector(spark):
    """sim_rrf_fusion: the 1-row query embedding reaches the corpus as
    a broadcast; no cartesian beyond that deliberate 1-row crossJoin."""
    from kuibadb_spark.operators.similarity import sim_rrf_fusion

    p = _plan(sim_rrf_fusion(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning: a selective filter on the
    build side must inject a might_contain probe into the big side's
    scan (the shuffle-join analog of broadcast pruning — at 100 TB this
    is what keeps a selective dim filter from paying a full fact
    shuffle). Thresholds lowered for local data; confs restored."""
    saved = {}
    lowered = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in lowered.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        l = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            "o_totalprice > 450000"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy().count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_embedding_cosine_uses_cogrouped_pandas_verify(spark):
    """The ×10 fix (round 3): the all-pairs-within-label cosine verify
    must run as a cogrouped Arrow/pandas blocked-BLAS stage, not as an
    interpreted higher-order dot in a join condition/projection
    (measured 176 s → 2.0 s at ×10)."""
    from kuibadb_spark.operators.dedup import dedup_embedding_cosine

    p = _plan(dedup_embedding_cosine(spark, SF))
    assert "FlatMapCoGroupsInPandas" in p
    assert "zip_with" not in p


def test_fuzzy_lev_inside_generator_with_wide_stage(spark):
    """The ×10 fix (round 3): levenshtein must be computed once INSIDE
    the pair-expansion lambda (no Filter/Project split re-evaluating it
    per pair), behind a round-robin exchange that widens the verify
    stage past AQE's compressed-bytes coalescing (345 s → 7.7 s)."""
    from kuibadb_spark.operators.dedup import dedup_fuzzy_levenshtein

    p = _plan(dedup_fuzzy_levenshtein(spark, SF))
    # the banded 3-arg form lives inside the generator's pair lambda —
    # every levenshtein occurrence is in an explode(...) argument line
    lev_lines = [ln for ln in p.splitlines() if "levenshtein" in ln]
    assert lev_lines, "levenshtein vanished from the plan"
    assert all("explode(" in ln for ln in lev_lines)
    assert all("Some(15)" in ln for ln in lev_lines)  # banded form
    assert "RoundRobinPartitioning" in p


def test_link_prediction_edge_join_stage_width(spark):
    """The ×10 fix (round 3): the hour-bucket self-join must sit on an
    explicit-count REPARTITION_BY_COL exchange (exempt from AQE
    compressed-bytes coalescing), not the distinct's own coalescable
    ENSURE_REQUIREMENTS exchange (225 s → 83 s at ×10)."""
    from kuibadb_spark.operators.graph import graph_link_prediction

    p = _plan(graph_link_prediction(spark, SF))
    assert "REPARTITION_BY_COL" in p or "REPARTITION_BY_NUM" in p
