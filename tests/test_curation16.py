"""Epoch schedule, arrival dispersion, centroid confusion and shingle
spectrum operators: plan-shape guards and the invariants
the fixture cannot exercise (value parity is covered by the
auto-parameterized oracle suite).
"""

from __future__ import annotations

import pytest

from kuibadb_spark.operators import dedup, events, sample, similarity
from kuibadb_spark.operators.sample import _epoch_schedule
from kuibadb_spark.registry import all_queries

KEYS = (
    "dedup_shingle_df_spectrum",
    "ev_arrival_dispersion",
    "sample_epoch_schedule",
    "sim_centroid_confusion",
)
QUERIES = all_queries()


@pytest.mark.parametrize("name", KEYS)
def test_no_cartesian(spark, sf_dir, name):
    """Cartesian products are banned outright; sample_epoch_schedule's
    1-row-totals broadcast is the only (whitelisted) BNLJ here."""
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, name
    if name != "sample_epoch_schedule":
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_epoch_cap_binds_on_skewed_corpus(spark):
    """A tiny source among huge ones gets a sqrt-boosted allocation far
    above 4 epochs of its own tokens — the cap must clamp epochs_milli
    to exactly 4000, mark capped=1, and serve exactly 4x its tokens.
    The fixture's near-uniform sources never reach the cap, so this is
    the only place the branch is exercised."""
    src = spark.createDataFrame(
        [("big%d" % i, 1_000_000) for i in range(8)] + [("tiny", 100)],
        "source STRING, tokens LONG",
    )
    rows = {r["source"]: r for r in _epoch_schedule(src).collect()}
    t = rows["tiny"]
    assert t["capped"] == 1
    assert t["epochs_milli"] == 4000
    assert t["served_tokens"] == 400
    for i in range(8):
        b = rows["big%d" % i]
        assert b["capped"] == 0
        assert b["epochs_milli"] < 1000  # budget is half the corpus
        assert b["served_tokens"] == b["tokens"] * b["epochs_milli"] // 1000


def test_epoch_schedule_budget_conservation(spark, sf_dir):
    """Served tokens never exceed targets, and the total target is the
    half-corpus budget up to per-source integer-div truncation."""
    rows = sample.sample_epoch_schedule(spark, sf_dir).collect()
    assert rows
    corpus = sum(r["tokens"] for r in rows)
    target_total = sum(r["target_tokens"] for r in rows)
    assert corpus // 2 - len(rows) <= target_total <= corpus // 2
    for r in rows:
        assert r["served_tokens"] <= r["target_tokens"] + 1, r


def test_dispersion_poisson_scale(spark, sf_dir):
    """Dispersion is ≥ −1 milli (the decomposed form lands within ±1
    milli of the true non-negative value: the first term's floor slips
    < 1 milli down, the subtracted term's floor < 1 milli up) and the
    synthetic near-uniform arrival stream must read as
    UNDER-dispersed (well below Poisson's 1000 milli) — a bursty flag
    here would mean the formula broke."""
    rows = events.ev_arrival_dispersion(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1 <= r["dispersion_milli"] < 1_000, r
        assert r["bursty"] == 0, r


def test_centroid_confusion_bounds(spark, sf_dir):
    """Cosines live in [-1e6, 1e6] ppm and the matrix is strictly
    upper-triangular over all label pairs."""
    rows = similarity.sim_centroid_confusion(spark, sf_dir).collect()
    labels = set()
    for r in rows:
        assert r["label_a"] < r["label_b"], r
        assert -1_000_000 <= r["cos_ppm"] <= 1_000_000, r
        labels.update((r["label_a"], r["label_b"]))
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2


def test_shingle_spectrum_mass_adds_up(spark, sf_dir):
    """Band posting-shares must sum to ~1e6 ppm (integer-div slack
    ≤ one ppm per band) and band counts reconcile with postings."""
    rows = dedup.dedup_shingle_df_spectrum(spark, sf_dir).collect()
    assert rows
    share = sum(r["postings_share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000
    for r in rows:
        assert r["postings"] >= r["n_shingles"], r
