"""Bot decile screen, n-gram coverage and dedup-aware mixture
operators: plan guards + semantic invariants
(value parity is the auto-parameterized oracle suite's job)."""

from __future__ import annotations

import pytest

from kuibadb_spark.operators import events, sample, text
from kuibadb_spark.registry import all_queries

KEYS = (
    "ev_bot_decile_screen",
    "sample_dedup_aware_mixture",
    "text_ngram_coverage_curve",
)
QUERIES = all_queries()


@pytest.mark.parametrize("name", KEYS)
def test_no_cartesian(spark, sf_dir, name):
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    # whitelisted bounded BNLJs: 1-row totals (mixture), ≤32-row
    # distributed-ntile prefix cross (bot screen, plans/ranks.py)
    if name not in ("sample_dedup_aware_mixture", "ev_bot_decile_screen"):
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bot_screen_decile_partition(spark, sf_dir):
    """Deciles partition the user population near-evenly and the
    suspect verdict is exactly the (1,1) cell of the decile grid."""
    rows = events.ev_bot_decile_screen(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    for d in range(1, 11):
        in_d = sum(1 for r in rows if r["rate_decile"] == d)
        assert abs(in_d - n / 10) <= 1, (d, in_d, n)
    for r in rows:
        assert r["bot_suspect"] == int(
            r["rate_decile"] == 1 and r["regularity_decile"] == 1
        ), r


def test_coverage_curve_monotone(spark, sf_dir):
    """Coverage is non-decreasing in K and reaches 1e6 ppm when K
    exceeds the vocabulary."""
    rows = sorted(
        text.text_ngram_coverage_curve(spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    assert len(rows) == 3
    cov = [r["coverage_ppm"] for r in rows]
    assert cov == sorted(cov)
    for r in rows:
        assert 0 < r["coverage_ppm"] <= 1_000_000
        if r["k"] >= r["vocab_size"]:
            assert r["coverage_ppm"] >= 1_000_000 - 1


def test_dedup_mixture_shift_conserves(spark, sf_dir):
    """Share shifts are zero-sum up to integer-div slack, mirror
    sources lose their entire share, and the shifted share flows to
    their base sources (which gain)."""
    rows = sample.sample_dedup_aware_mixture(spark, sf_dir).collect()
    mirrors = [r for r in rows if r["source"].endswith("_mirror")]
    bases = [r for r in rows if not r["source"].endswith("_mirror")]
    assert mirrors and bases
    shift_total = sum(r["share_shift_ppm"] for r in rows)
    assert abs(shift_total) <= len(rows)  # ppm truncation slack
    for r in mirrors:
        assert r["unique_tokens"] == 0
        assert r["dedup_share_ppm"] == 0
        assert r["share_shift_ppm"] == -r["raw_share_ppm"]
    assert all(r["share_shift_ppm"] >= 0 for r in bases)
