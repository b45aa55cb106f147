"""Decile-band, assortativity, holdout-contamination and cluster
spectrum operators: plan guards + semantic invariants
(value parity is the auto-parameterized oracle suite's job)."""

from __future__ import annotations

import pytest

from kuibadb_spark.operators import dedup, graph, sample, text, windows
from kuibadb_spark.registry import all_queries

KEYS = (
    "dedup_cluster_size_spectrum",
    "graph_degree_assortativity",
    "sample_holdout_contamination",
    "text_length_decile_bands",
    "w_decile_bands_orders",
)
QUERIES = all_queries()

# distributed_ntile's ≤32-row prefix cross is a whitelisted BNLJ
# (tools/plan_audit.py BNLJ_OK; build side bounded by cluster shape)
_NTILE_BNLJ = {"w_decile_bands_orders", "text_length_decile_bands"}


@pytest.mark.parametrize("name", KEYS)
def test_no_cartesian_no_global_window(spark, sf_dir, name):
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    if name not in _NTILE_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_decile_bands_partition_and_order(spark, sf_dir):
    """Bands partition the order book near-evenly, cover all 10
    deciles, and band value ranges are non-overlapping and ordered."""
    rows = sorted(
        windows.w_decile_bands_orders(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n = sum(r["n_orders"] for r in rows)
    for r in rows:
        assert abs(r["n_orders"] - n / 10) <= 1, r
        assert r["min_cents"] <= r["max_cents"], r
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_cents"] <= hi["min_cents"], (lo, hi)


def test_length_bands_monotone(spark, sf_dir):
    """Token ranges ascend with the decile and totals reconcile."""
    rows = sorted(
        text.text_length_decile_bands(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for r in rows:
        assert r["n_docs"] * r["min_tok"] <= r["tokens_total"], r
        assert r["tokens_total"] <= r["n_docs"] * r["max_tok"], r
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_tok"] <= hi["min_tok"], (lo, hi)


def test_assortativity_in_range(spark, sf_dir):
    """A Pearson correlation lives in [-1e6, 1e6] ppm; moments are
    positive on the non-empty fixture graph."""
    [r] = graph.graph_degree_assortativity(spark, sf_dir).collect()
    assert r["n_edges"] > 0
    assert 0 < r["mean_src_deg_milli"] <= 10_000
    assert 0 < r["mean_dst_deg_milli"] <= 10_000
    assert -1_000_000 <= r["assortativity_ppm"] <= 1_000_000


def test_holdout_contamination_bounds(spark, sf_dir):
    """Every fixture source contributes holdout docs (the %7 split is
    coprime with the %20 source assignment); rates live in [0, 1e6]
    and contaminated counts never exceed doc counts."""
    rows = sample.sample_holdout_contamination(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 < r["n_holdout_docs"], r
        assert 0 <= r["n_contaminated"] <= r["n_holdout_docs"], r
        assert 0 <= r["contaminated_ppm"] <= 1_000_000, r
        assert 0 <= r["leak_ppm"] <= 1_000_000, r


def test_cluster_spectrum_reconciles(spark, sf_dir):
    """Bands 1/2/3-4 must all appear (the two mirror tiers construct
    them), docs ≥ clusters per band, and the mirrored corpus total
    reconciles: base + base/10 + base/50 documents."""
    rows = dedup.dedup_cluster_size_spectrum(spark, sf_dir).collect()
    bands = {r["band"]: r for r in rows}
    assert {"1_unique", "2_pair", "3_4"} <= set(bands)
    for r in rows:
        assert r["n_docs"] >= r["n_clusters"], r
        assert 0 <= r["dup_overhead_ppm"] < 1_000_000, r
    assert bands["1_unique"]["dup_overhead_ppm"] == 0
    from kuibadb_spark.catalog import load

    d = load(spark, sf_dir, "documents")
    base = d.count()
    m1 = d.filter("doc_id % 10 = 0").count()
    m2 = d.filter("doc_id % 50 = 0").count()
    assert sum(r["n_docs"] for r in rows) == base + m1 + m2
