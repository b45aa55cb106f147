"""Whole-registry physical-plan audit: flag scale-killer join shapes.

    python tools/plan_audit.py [sf_dir]

Builds every registry query's plan (no execution) and fails if any plan
contains:
- CartesianProduct                       — always a bug at 100 TB
- BroadcastNestedLoopJoin OUTSIDE the whitelist below — BNLJ is legit
  only when the build side is provably tiny (a 1-row scalar aggregate, a
  bounded centroid/merge table, or an intentionally-cross tiny grid)

Whitelisted BNLJ sites (audited by hand; each build side is bounded by a
CONSTANT regardless of corpus size):
- 1-row scalar broadcast (corpus count / total / threshold): tfidf,
  pmi, length_band, search, bpe_apply (merge count), drift_chi2 (half
  totals), q11 (total value), q22 (avg balance), temperature_mixture
  (1-row weight total), ivf_pq_hybrid (8-row coarse-cell seed
  broadcast), lsh_eval + ann_recall
  (1-row metric crosses), gap_fill (per-series bounds),
  agg_hll_set_ops (1-row exact stats × 1-row sketch estimates),
  profile_benford_digits (9-digit histogram × 1-row total), pagerank
  (n_nodes), kmeans (K centroids), ivf/knn/mips/rrf/topk (≤10-row query
  vector broadcast with an inequality condition — the brute-force or
  probe side of an ANN evaluation at fixed query-set size)
- join_cross_grid — the deliberate tiny cross-join demo (25×7 grid)

A NEW query acquiring a BNLJ must either justify itself here or
restructure to an equi-join.

Round-5 addition: the audit also flags GLOBAL (partition-less) Window
nodes with no limit below them — `Window.orderBy(...)` without a
partitionBy moves EVERY input row to one task to sort it, the top-k
anti-pattern of DESIGN.md #29. A global window is legitimate only when
its input is bounded by something other than data volume; every such
site is whitelisted in GLOBAL_WINDOW_OK with its boundedness argument.
A NEW query acquiring one must either justify itself there or
restructure (partitioned window + per-partition prefix carry, the
ev_peak_concurrency two-level scan; or value-block histograms, the
ev_lorenz_deciles form; or orderBy().limit(k) = TakeOrderedAndProject).
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kuibadb_spark import registry  # noqa: E402
from kuibadb_spark.session import get_spark  # noqa: E402

BNLJ_OK = {
    "agg_hll_set_ops",
    "profile_benford_digits",
    "dedup_lsh_eval",
    "graph_pagerank",
    "join_cross_grid",
    "profile_drift_chi2",
    "q11_important_stock",
    "sample_temperature_mixture",
    "q22_sales_opportunity",
    "sim_ann_ivf",
    "sim_ann_recall_eval",
    "sim_ivf_pq_hybrid",
    "sim_kmeans_lloyd",
    "sim_knn_classify",
    "sim_mips_maxdot",
    "sim_rrf_fusion",
    "sim_topk_bruteforce",
    "text_bpe_apply_merges",
    "text_cooccurrence_pmi",
    "text_length_band_filter",
    "text_search_conjunctive",
    "text_tfidf_top_terms",
    "ts_gap_fill_interpolate",
    "ts_gap_fill_locf",
    # round-3 additions, audited at round-4 start — every build side is
    # a constant-bounded broadcast:
    "agg_histogram_quantiles",   # 1-row global stats + 5-row quantile targets
    "agg_hll_sliding_distinct",  # 1-row global stats cross
                                 # (aggregates.agg_hll_sliding_distinct)
    "dedup_bloom_prefilter",     # 1-row probe-count cross
                                 # (dedup.dedup_bloom_prefilter)
    "ev_association_rules",      # 1-row basket-count cross
                                 # (events.ev_association_rules)
    "ev_diff_in_diff",           # 1-row period-split cross
                                 # (events.ev_diff_in_diff)
    "ev_survival_km",            # 1-row observation-horizon cross
                                 # (events.ev_survival_km)
    "ts_autocorrelation",        # fixed lag-list cross, |lags|=7
                                 # (temporal.ts_autocorrelation)
    "ts_changepoint_cusum",      # 1-row global mean cross
                                 # (temporal.ts_changepoint_cusum)
    "w_pareto_abc",              # 1-row revenue-total cross + ≤32-row
                                 # distributed-prefix-sum cross (r9)
    # round-4 additions:
    "sim_triplet_mining",        # 20-row anchor broadcast with != condition
                                 # (the sim_topk_bruteforce class)
    "dedup_minhash_band_sweep",  # 1-row metric crosses per band config
                                 # (n_candidates x n_hit x n_truth scalars)
    # round-8: distributed_ntile prefix cross (plans/ranks.py) — the
    # build side is the per-range count table, ≤32 rows by construction
    # (a constant of cluster shape, never of data volume)
    "rfm_segmentation",
    "ev_bot_decile_screen",
    "w_decile_bands_orders",
    "text_length_decile_bands",
    "text_tfidf_cosine_pairs",   # 1-row corpus-count cross for idf
                                 # (the text_tfidf_top_terms class)
    "ev_retention_halflife",     # 1-row cohort-size cross for the rates
    "sample_epoch_schedule",     # 1-row corpus-total/weight-sum cross
                                 # over the sources-row table
    "sample_dedup_aware_mixture",  # same 1-row totals cross
    # round-10 additions:
    "sample_curriculum_order",   # ≤32-row distributed-ntile prefix cross
                                 # (plans/ranks.py class)
    "graph_source_modularity",   # 1-row edge-count m cross
                                 # (graph.graph_source_modularity)
}

# Global (partition-less) windows whose INPUT is bounded by something
# other than data volume — audited by hand round 5 (the winscan sweep).
# Four bounding classes:
#   [hist]  value-block histogram: window over DISTINCT metric values,
#           never rows (the profile_outlier_iqr rewrite's design)
#   [time]  calendar-bounded: one row per day/hour bucket of the span
#   [dom]   small fixed domain: event types / strata / states / fixed
#           query set / quantile targets
#   [ent]   RETIRED (rounds 8-9): entity-scale windows now run through
#           plans/ranks.py (distributed_ntile / distributed_prefix_sum);
#           do not reintroduce the class — zero entries is the invariant
GLOBAL_WINDOW_OK = {
    "agg_histogram_quantiles":   "[hist] cumulative brackets over distinct values",
    "ev_cumulative_unique_users": "[time] daily first-seen timeline",
    "ev_error_budget_burn":      "[time] daily burn series",
    "ev_holm_bonferroni":        "[dom] one row per tested hypothesis (event type)",
    "ev_lorenz_deciles":         "[hist] activity-value blocks, never users",
    "ev_markov_stationary":      "[dom] state space = event types",
    "ev_peak_concurrency":       "[time] cross-bucket carry over per-hour totals (720 rows at sf0.1)",
    "stream_peak_concurrency":   "[time] same two-level scan, streaming twin",
    "ev_stratified_ate":         "[dom] one row per stratum",
    "ev_survival_km":            "[hist] KM product over distinct durations",
    "ev_time_to_convert":        "[hist] delay distribution over distinct bucketed delays",
    "ev_wilson_lower_bound":     "[dom] one row per event type",
    "sample_stratified_neyman":  "[dom] one row per stratum",
    "sim_rrf_fusion":            "[dom] fixed query set × k candidates",
    "ts_changepoint_cusum":      "[time] daily series scan",
    "ts_lttb_downsample":        "[time] fixed bucket count",
    "ts_seasonal_decompose":     "[time] daily series",
    "dedup_shingle_df_spectrum": "[hist] share-of-total over ≤6 df bands",
    "text_ngram_coverage_curve": "[hist] rank over the gram-frequency table (vocabulary cardinality)",
    # round 8 retired the [ent] entries rfm_segmentation and
    # ev_bot_decile_screen: their ntiles now run through
    # plans/ranks.py's distributed form (no global window at all;
    # the bounded prefix cross is whitelisted in BNLJ_OK instead)
}

_BOUND_BELOW = re.compile(
    r"TakeOrderedAndProject|GlobalLimit|CollectLimit|LocalLimit|WindowGroupLimit"
)


def _tree_nodes(txt: str) -> list[tuple[int, str, int]]:
    """(indent, node_name, node_id) for each line of the plan tree —
    a node can appear several times when exchanges are reused."""
    out = []
    for line in txt.splitlines():
        m = re.search(r"([A-Za-z][A-Za-z0-9]*) \((\d+)\)\s*$", line)
        if not m:
            continue
        indent = max(line.find("+-"), line.find(":-"))
        if indent < 0:
            indent = len(line) - len(line.lstrip())
        out.append((indent, m.group(1), int(m.group(2))))
    return out


def _global_window_ids(txt: str) -> set[int]:
    """Window node ids whose windowspecdefinition has NO partition
    columns (the first spec argument already carries a sort direction).
    WindowGroupLimit blocks (partitioned top-k, the GOOD pattern) are
    excluded."""
    ids: set[int] = set()
    blocks = re.split(r"\n\((\d+)\) ", txt)
    for i in range(1, len(blocks) - 1, 2):
        nid, body = int(blocks[i]), blocks[i + 1]
        if not re.match(r"Window\b(?!GroupLimit)", body):
            continue
        m = re.search(r"windowspecdefinition\(([^,)]+)", body)
        if m is None or re.search(r"\b(ASC|DESC)\b", m.group(1) + " "):
            ids.add(nid)
    return ids


def _unbounded_global_windows(txt: str) -> list[int]:
    """Global windows with no limit anywhere below them in the tree."""
    gids = _global_window_ids(txt)
    if not gids:
        return []
    nodes = _tree_nodes(txt)
    bad = []
    for gid in gids:
        bounded = False
        for k, (ind0, _, nid) in enumerate(nodes):
            if nid != gid:
                continue
            for j in range(k + 1, len(nodes)):
                if nodes[j][0] <= ind0:
                    break
                if _BOUND_BELOW.search(nodes[j][1]):
                    bounded = True
                    break
            if bounded:
                break
        if not bounded:
            bad.append(gid)
    return bad


def main(sf_dir: str | None = None) -> int:
    if sf_dir is None:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    qs = registry.all_queries()
    bad = []
    for n in sorted(qs):
        try:
            df = qs[n](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as e:
            bad.append((n, f"plan error: {e}"))
            continue
        if "CartesianProduct" in txt:
            bad.append((n, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in txt and n not in BNLJ_OK:
            bad.append((n, "unwhitelisted BroadcastNestedLoopJoin"))
        if n not in GLOBAL_WINDOW_OK:
            glb = _unbounded_global_windows(txt)
            if glb:
                bad.append(
                    (n, f"unwhitelisted global window (nodes {glb})")
                )
    for n, why in bad:
        print(f"FAIL {n}: {why}")
    print(f"plan audit: {len(qs)} queries, {len(bad)} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
