"""OCR screen, stickiness, hash split, reciprocity and language
mismatch operators: plan guards + semantic invariants
(value parity is the auto-parameterized oracle suite's job)."""

from __future__ import annotations

import pytest

from kuibadb_spark.operators import events, graph, sample, text
from kuibadb_spark.registry import all_queries

KEYS = (
    "ev_dau_wau_stickiness",
    "graph_reciprocity",
    "sample_boundary_hash_split",
    "text_lang_mismatch_screen",
    "text_ocr_artifact_screen",
)
QUERIES = all_queries()


@pytest.mark.parametrize("name", KEYS)
def test_no_cartesian_no_bnlj(spark, sf_dir, name):
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_ocr_screen_bounds(spark, sf_dir):
    """Every source reports; rates are in [0, 1e6]; the fixture's
    'batch batch batch' stutter guarantees a worst run ≥ 3."""
    rows = text.text_ocr_artifact_screen(spark, sf_dir).collect()
    assert len(rows) == 20
    assert max(r["worst_token_run"] for r in rows) >= 3
    for r in rows:
        assert 0 <= r["n_flagged"] <= r["n_docs"], r
        assert 0 <= r["flagged_ppm"] <= 1_000_000, r


def test_stickiness_bounds(spark, sf_dir):
    """DAU never exceeds its week's WAU and every day belongs to
    exactly one week bucket."""
    rows = events.ev_dau_wau_stickiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["dau"] <= r["wau"], r
        assert 0 < r["stickiness_ppm"] <= 1_000_000, r
    assert len({r["d"] for r in rows}) == len(rows)


def test_hash_split_shares(spark, sf_dir):
    """Per-source split shares sum to ~1e6 ppm (integer-div slack) and
    the md5 bucketing lands near 80/10/10 corpus-wide."""
    rows = sample.sample_boundary_hash_split(spark, sf_dir).collect()
    by_src: dict = {}
    tot: dict = {"train": 0, "val": 0, "test": 0}
    for r in rows:
        by_src.setdefault(r["source"], 0)
        by_src[r["source"]] += r["share_ppm"]
        tot[r["split"]] += r["n_docs"]
    for src, share in by_src.items():
        assert 1_000_000 - 3 <= share <= 1_000_000, (src, share)
    n = sum(tot.values())
    assert 0.70 * n <= tot["train"] <= 0.90 * n, tot
    assert tot["val"] > 0 and tot["test"] > 0, tot


def test_reciprocity_bounds(spark, sf_dir):
    [r] = graph.graph_reciprocity(spark, sf_dir).collect()
    assert 0 < r["n_reciprocal"] <= r["n_edges"], r
    assert 0 < r["reciprocity_ppm"] <= 1_000_000, r


def test_lang_mismatch_direction(spark, sf_dir):
    """The synthetic corpus is English-ish for every declared lang, so
    declared-en rows must mismatch LESS than declared-non-en rows."""
    rows = text.text_lang_mismatch_screen(spark, sf_dir).collect()
    en = [r for r in rows if r["lang"] == "en"]
    non = [r for r in rows if r["lang"] != "en"]
    assert en and non
    en_rate = sum(r["n_mismatch"] for r in en) / sum(r["n_docs"] for r in en)
    non_rate = sum(r["n_mismatch"] for r in non) / sum(
        r["n_docs"] for r in non
    )
    assert en_rate < non_rate
    for r in rows:
        assert 0 <= r["mismatch_ppm"] <= 1_000_000, r
