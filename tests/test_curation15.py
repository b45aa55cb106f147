"""Chunking, robust-z, contamination-matrix, energy-profile and
token-savings operators: scale-shape and invariant pins.

Value-level parity with DuckDB is covered by the auto-parameterized
oracle suite (test_oracle_parity.py picks the five keys up from the
registry); these tests pin what parity cannot: the physical-plan shape
(no cartesian/nested-loop fallbacks) and semantic invariants of the
accounting math.
"""

from __future__ import annotations

import pytest

from kuibadb_spark.operators import dedup, similarity, text
from kuibadb_spark.registry import all_queries

KEYS = (
    "dedup_tokens_saved",
    "sim_dim_energy_profile",
    "text_chunk_overlap",
    "text_cross_source_overlap",
    "text_quality_robust_z",
)
QUERIES = all_queries()


@pytest.mark.parametrize("name", KEYS)
def test_no_cartesian_or_bnlj(spark, sf_dir, name):
    """Every plan in this batch must be equi-join/aggregate shaped — the
    contamination matrix in particular must pair through the df-capped
    shingle key, never via a nested-loop source×source product."""
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_chunk_overlap_expansion_bounds(spark, sf_dir):
    """Overlap chunking can only add tokens: 1e6 <= expansion_ppm, and
    it is bounded by the 64/48 window/stride ratio (<= 4/3 + short-doc
    slack)."""
    rows = text.text_chunk_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["expansion_ppm"] >= 1_000_000, r
        assert r["expansion_ppm"] <= 1_400_000, r
        assert r["chunk_tokens"] >= r["doc_tokens"], r


def test_tokens_saved_mirror_sources_fully_dropped(spark, sf_dir):
    """Every *_mirror pseudo-source is an exact re-crawl: its keeper is
    always the base doc (smaller doc_id), so savings must be exactly
    1e6 ppm there and 0 for the base sources (fixture has no natural
    exact dupes)."""
    rows = dedup.dedup_tokens_saved(spark, sf_dir).collect()
    mirrors = [r for r in rows if r["source"].endswith("_mirror")]
    bases = [r for r in rows if not r["source"].endswith("_mirror")]
    assert mirrors and bases
    for r in mirrors:
        assert r["savings_ppm"] == 1_000_000, r
        assert r["n_dropped"] == r["n_docs"], r
    for r in bases:
        assert r["savings_ppm"] == 0, r


def test_energy_profile_monotone_in_k(spark, sf_dir):
    """Prefix energy is non-decreasing in k for every label's mean —
    a violated monotonicity means the slice/fold math broke."""
    rows = similarity.sim_dim_energy_profile(spark, sf_dir).collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (r["k"], r["mean_energy_ppm"])
        )
    assert by_label
    for label, ks in by_label.items():
        ks.sort()
        means = [m for _, m in ks]
        assert means == sorted(means), (label, ks)
        assert all(0 <= m <= 1_000_000 for m in means), (label, ks)


def test_cross_source_overlap_is_symmetric_metadata_scale(spark, sf_dir):
    """The matrix is strictly upper-triangular (src_a < src_b), ppm
    fields within [0, 1e6], and output cardinality is bounded by
    C(n_sources_max, 2) — metadata scale, never row scale."""
    rows = text.text_cross_source_overlap(spark, sf_dir).collect()
    assert rows
    assert len(rows) <= 20 * 19 // 2
    for r in rows:
        assert r["src_a"] < r["src_b"], r
        assert 0 < r["containment_ppm"] <= 1_000_000, r
        assert 0 < r["jaccard_ppm"] <= r["containment_ppm"], r
