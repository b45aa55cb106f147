"""Inter-arrival spectrum + per-source quality quota."""

from __future__ import annotations

from kuibadb_spark.operators import events, sample


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_interarrival_spectrum_shape(spark, sf_dir):
    """Buckets are a valid log2 spectrum: shares sum to ~1e6 per type,
    bucket b covers gaps in [2^(b-1), 2^b) seconds, and the bounded
    bucket range holds (30-day fixture span → bucket ≤ 22)."""
    rows = events.ev_interarrival_spectrum(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        assert 0 <= r["bucket"] <= 22, r
        assert r["n_gaps"] > 0
        by_type.setdefault(r["event_type"], 0)
        by_type[r["event_type"]] += r["share_ppm"]
    for t, tot in by_type.items():
        # integer-floor ppm shares: sum ≤ 1e6, deficit < n_buckets
        assert 1_000_000 - 23 <= tot <= 1_000_000, (t, tot)


def test_interarrival_no_global_window(spark, sf_dir):
    """The lag window is user-partitioned and the share window runs
    over the (type, bucket) frame — no partition-less window over the
    event rows may appear."""
    p = _plan(events.ev_interarrival_spectrum(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_quota_per_source_bounds(spark, sf_dir):
    """Exactly ≤5 docs per source, ranks contiguous from 1, scores
    non-increasing within a source, diversity in (0, 1e6]."""
    rows = sample.sample_quota_per_source(spark, sf_dir).collect()
    assert rows
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
        assert 0 < r["diversity_ppm"] <= 1_000_000, r
    assert len(per_src) == 20  # src0..src19 (doc_id % 20 contract)
    for src, rs in per_src.items():
        assert len(rs) <= 5
        ranks = [r["rank_in_source"] for r in rs]
        assert ranks == list(range(1, len(rs) + 1)), (src, ranks)
        scores = [r["diversity_ppm"] for r in rs]
        assert scores == sorted(scores, reverse=True), (src, scores)


def test_quota_plan_group_limits(spark, sf_dir):
    """The rank ≤ 5 filter must collapse to WindowGroupLimit (partial
    per-partition top-k before the source exchange) — the bounded-
    headline pattern; a plain Window+Filter would shuffle every doc."""
    p = _plan(sample.sample_quota_per_source(spark, sf_dir))
    assert "WindowGroupLimit" in p, p
