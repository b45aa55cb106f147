"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"value_with_build": ..., "sf": ..., "queries_n": ..., "detail": ...}.
Per-query timings live in detail files next to this file — the driver
parses only a 2000-char stdout tail, so the printed line is kept small
by contract (round-6 VERDICT #2: the inline per-query map outgrew the
tail and the round recorded no bench value). Every run writes
BENCH_DETAIL_c{cpus}.json; BENCH_DETAIL.json, the file the driver reads,
is rewritten unless it already holds a run of the same git SHA at more
cores.

Each query is forced with a noop-format write (full computation, no
driver-side collect) after a warmup of the session on a trivial action.
This module is also the measurement core of the scale guards
(tools/sf1bench.py, tools/sf100bench.py, tools/scaling.py): time_keys
is the one timing loop, baseline the one reader of the bench side of
their ratios, write_detail the one artifact writer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from kuibadb_spark import registry
from kuibadb_spark.session import default_parallelism, get_spark

# Headline set: one per operator family (kept in sync as suites grow).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "w_ranking_parts",
    "agg_cube",
    "ev_session_windows",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "q9_product_profit",
    "asof_purchase_last_view",
    "text_quality",
    "sim_lsh_hyperplane",
    "dedup_simhash",
    "graph_pagerank",
    "text_search_conjunctive",
    # round 2: one headliner per previously-unbenched family so
    # round-over-round regressions are visible where new work lands
    "sim_ann_pq",               # product-quantized ANN
    "text_dsir_importance",     # DSIR importance weighting
    "rec_part_hierarchy_depth", # recursive CTE family (log-depth — the
                                # recursion shape a BSP engine is good
                                # at; rec_price_streaks' 24-step linear
                                # recurrence costs depth × BSP overhead
                                # by design, see its docstring)
    "ts_interval_merge",        # temporal island detection
    "coll_lambda_ops",          # higher-order collection lambdas
    "scalar_string_ops",        # scalar function matrix
    "ev_pattern_conversions",   # sessionized row-pattern matching
    "udf_apply_in_pandas",      # Arrow-batched applyInPandas path
    "ev_concurrent_sessions",   # banded interval-overlap self-join
    "text_line_dedup",          # cross-doc boilerplate chunk removal
    # round 3: families landing in the r3/r4 grading windows, so their
    # regressions are visible where grading happens
    "coll_array_ops",           # array function matrix (post-stringify)
    "stream_session_windows",   # Structured Streaming incremental path
    "text_pack_sequences",      # sequence packing (training-data prep)
    "mm_dedup_binary",          # content-digest binary dedup
    "sim_ann_recall_eval",      # ANN tuning harness (round-3 addition)
    "text_unigram_surprisal",   # unigram-LM perplexity filter (round 3)
    "ev_peak_concurrency",      # linear-output overlap scale path (r3)
    # round 3b: the three ops whose ×10 stage-width cliffs were fixed —
    # benched so a regression of the fix is visible immediately
    "dedup_embedding_cosine",   # cogrouped blocked-BLAS verify
    "dedup_fuzzy_levenshtein",  # widened in-lambda banded lev verify
    "graph_link_prediction",    # widened hour-bucket edge join
    # round 4: representatives of the families graded in the r4 window,
    # so the newly green keys get regression guards the same round
    "dedup_connected_components",  # iterative label propagation
    "mm_ahash_near_dup",        # 60-bit aHash band-LSH near-dup
    "agg_approx_sketches",      # HLL/CMS error-bound reshape (first grade)
    "pipeline_attrition_funnel",  # multi-stage pipeline family
    "text_decontaminate",       # eval-set n-gram decontamination
    "sim_semdedup_clusters",    # round-4 SemDeDup (cogroup blocked-matmul)
    "text_substring_dedup",     # round-4 exact-substring dedup (linear)
    # round-4 in-round additions: one guard per new family
    "profile_corr_matrix",      # single-pass exact-moment Pearson matrix
    "dedup_minhash_band_sweep",  # 3-config LSH S-curve vs exact truth
    "text_tfidf_cosine_pairs",  # sparse lexical similarity join (df cap)
    "ev_markov_stationary",     # exact-ppm power iteration
    # round 5: representatives of newly-green families — four from the
    # r5 grading window (the first 50 previously-ungraded keys) plus
    # two graded green in r4 — guarded the round they go green, the
    # r3/r4 discipline
    "graph_kcore",              # iterative k-core peel (localCheckpoint)
    "ev_survival_km",           # Kaplan-Meier survival curve
    "agg_kmv_distinct_sketch",  # KMV bottom-k distinct sketch
    "ts_changepoint_cusum",     # CUSUM changepoint scan
    "dedup_bbit_minhash",       # b-bit minhash compaction
    "sim_ann_multiprobe",       # multiprobe LSH ANN
    # round 6: representatives of the r6 grading window (the remaining
    # round-6 families), guarded the round they grade — same
    # discipline as r3-r5
    "graph_label_propagation",  # synchronous LPA community detection
    "mm_phash_dct",             # 8x8 DCT perceptual hash
    "mm_cdc_chunking",          # content-defined chunking (Rabin
                                # fingerprint boundary — round-6 swap)
    "sample_importance_resampling",  # systematic importance resampling
    "ev_markov_absorption",     # absorbing-chain conversion attribution
    # (rec_price_streaks deliberately NOT benched: it is the declared
    # sequential-recurrence surface — ~7.5 s at sf0.1 BY DESIGN, see its
    # docstring — and the recursive family regression guard is
    # rec_part_hierarchy_depth, the log-depth shape a BSP engine is
    # actually good at)
    # round 7: the round-7 additions, guarded the round they land
    "text_chunk_overlap",       # RAG sliding-window chunking ledger
    "text_quality_robust_z",    # median/MAD robust outlier audit
    "text_cross_source_overlap",  # df-capped source contamination matrix
    "sim_dim_energy_profile",   # matryoshka prefix-energy audit
    "dedup_tokens_saved",       # exact-dedup token-savings ledger
    # round 7 batches 2-3
    "sample_epoch_schedule",    # data-constrained repeat schedule
    "dedup_shingle_df_spectrum",  # df-cap justification spectrum
    "sim_centroid_confusion",   # label-centroid cosine matrix
    "ev_arrival_dispersion",    # Poisson burstiness screen
    "ev_bot_decile_screen",     # decile-based bot screen
    "text_ngram_coverage_curve",  # tokenizer coverage curve
    "sample_dedup_aware_mixture",  # dedup-aware mixture shares
    # round 8: the round-8 additions, guarded the round they land
    "w_decile_bands_orders",    # fact-scale distributed decile bands
    "text_length_decile_bands",  # corpus length profile (distributed ntile)
    "graph_degree_assortativity",  # exact-moment degree Pearson
    "sample_holdout_contamination",  # train/holdout 5-gram leakage audit
    "dedup_cluster_size_spectrum",  # exact-dup cluster-size bands
    # round 8 batch 2
    "text_ocr_artifact_screen",   # OCR/garbage rule screen
    "ev_dau_wau_stickiness",      # DAU/WAU engagement ratio
    "sample_boundary_hash_split",  # md5-bucket 80/10/10 split audit
    "graph_reciprocity",          # kNN edge reciprocity share
    "text_lang_mismatch_screen",  # declared-vs-detected lang QA
    # round 9: guards for the two plan-shape conversions of the round
    # (ev_concurrent_sessions' bounded top-k form is already guarded
    # above; the Fano keys changed formula, not shape)
    "w_pareto_abc",               # distributed prefix-sum cumulative share
    # round 9 batch 2, guarded the round they land
    "ev_interarrival_spectrum",   # log2 gap spectrum (lag + narrow agg)
    "sample_quota_per_source",    # per-source top-5 quality quota
    # round 10, guarded the round they land
    "sample_curriculum_order",    # 5-phase distributed-ntile curriculum
    "graph_source_modularity",    # source-partition near-dup modularity
    "text_gini_token_concentration",  # 128-bit exact per-source Gini
]


def headline_keys() -> list[str]:
    """The HEADLINE keys the registry defines, in HEADLINE order."""
    queries = registry.all_queries()
    return [n for n in HEADLINE if n in queries]


def time_keys(
    spark, names: list[str], sf_dir: str, max_runs: int = 4
) -> tuple[dict[str, float], dict[str, float]]:
    """The bench measurement protocol, shared by bench.py and the scale
    guards. Returns (steady-state seconds per key, construction seconds
    per key whose construction took ≥1 s)."""
    queries = registry.all_queries()
    # Warm up the whole execution path — parquet reader, shuffle, codegen,
    # noop sink — so per-query timings measure the queries, not session
    # bring-up (the reference's thread-per-connection model has the same
    # one-time costs at process start).
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.groupBy("r_name").count().write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    for name in names:
        # Construction is timed separately: queries that checkpoint
        # intermediates eagerly (iterative peels, shared sketch frames)
        # do real cluster work HERE, once — folding it into the
        # steady-state re-run timings would double-count it per rep,
        # hiding it entirely would under-report the operator. Queries
        # with lazy construction build in ~0 s and are omitted below.
        tb = time.perf_counter()
        df = queries[name](spark, sf_dir)
        build_s = time.perf_counter() - tb
        # ≥1 s: below that it's first-touch parquet schema listing, not
        # eager computation (measured 0.3-0.7 s per cold table)
        if build_s >= 1.0:
            builds[name] = round(build_s, 3)
        # steady-state: best-of-N with cache cleared between runs — run 1
        # pays codegen JIT; clearCache drops any persist() a query did
        # internally so later runs re-execute the whole plan. N is
        # adaptive: while the two best runs disagree by >30% (codegen /
        # GC jitter dominates sub-second queries), run again up to
        # max_runs — keeps round-over-round comparisons from reading
        # noise as a regression without paying 4x on the stable heavy
        # queries.
        runs: list[float] = []
        while len(runs) < max_runs:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 2:
                a, b = sorted(runs)[:2]
                if b <= a * 1.3:
                    break
        timings[name] = round(min(runs), 3)
        spark.catalog.clearCache()
        # stderr: stdout carries only the one summary line
        print(f"{name:34s} {timings[name]:8.2f}", file=sys.stderr, flush=True)
    return timings, builds


def _git_sha() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=_REPO_ROOT, capture_output=True, text=True,
        )
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _read_detail(dirpath, name: str) -> dict:
    try:
        with open(os.path.join(dirpath, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def write_detail(dirpath, name: str, payload: dict) -> dict:
    """Write one bench artifact, stamped with what produced it: git SHA,
    host `nproc`, the cores used (SPARK_GRAFT_CPUS) and a UTC time. The
    payload names its own `fixture`. Returns the stamped payload."""
    stamped = {
        **payload,
        "sha": _git_sha(),
        "nproc": os.cpu_count(),
        "cpus": default_parallelism(),
        "utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }
    with open(os.path.join(dirpath, name), "w") as f:
        json.dump(stamped, f, indent=1, sort_keys=True)
    return stamped


def baseline(
    cpus: int, dirpath=_REPO_ROOT
) -> tuple[dict[str, float], dict]:
    """Build+query seconds per key from the bench run at `cpus` cores
    (BENCH_DETAIL_c{cpus}.json, else BENCH_DETAIL.json), plus the file
    read and its SHA and core count — the scale guards' ratio basis."""
    for name in (f"BENCH_DETAIL_c{cpus}.json", "BENCH_DETAIL.json"):
        d = _read_detail(dirpath, name)
        if d:
            break
    else:
        return {}, {"file": None, "sha": None, "cpus": None}
    build = d.get("build", {})
    totals = {n: t + build.get(n, 0.0) for n, t in d["queries"].items()}
    return totals, {"file": name, "sha": d.get("sha"), "cpus": d.get("cpus")}


def publish(
    dirpath, timings: dict[str, float], builds: dict[str, float], sf_dir: str
) -> str:
    """Write the bench detail files and return the one summary line."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # the conservative builds-included total (round-5 judge ask #5:
        # `value` stays the steady-state re-execution total comparable
        # across rounds; this one field keeps trend lines honest when
        # eager construction is non-trivial)
        "value_with_build": round(
            sum(timings.values()) + sum(builds.values()), 3
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries_n": len(timings),
        "detail": "BENCH_DETAIL.json",
    }
    # Per-query timings + one-time eager-construction costs go to a file:
    # the driver json-parses only a 2000-char stdout TAIL, and round 6's
    # 62-query inline map outgrew it — BENCH_r06.json recorded
    # "parsed": null, i.e. no bench value at all (round-6 VERDICT #2).
    # The final printed line must stay a few hundred bytes forever.
    detail = {
        **summary, "queries": timings, "build": builds, "fixture": sf_dir
    }
    # The driver benches at two core counts back to back and reads only
    # the fixed name, so the fixed name keeps the highest-core run of a
    # checkout (PERF_r10/r11 came back empty when the 8-core run
    # clobbered the 32-core map); every run keeps its own cpu-keyed twin.
    cpus = default_parallelism()
    stamped = write_detail(dirpath, f"BENCH_DETAIL_c{cpus}.json", detail)
    prev = _read_detail(dirpath, "BENCH_DETAIL.json")
    if not (prev.get("sha") == stamped["sha"] and prev.get("cpus", 0) > cpus):
        write_detail(dirpath, "BENCH_DETAIL.json", detail)
    line = json.dumps(summary)
    assert len(line) < 1500, f"bench summary line too long ({len(line)})"
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("kuibadb-bench")
    timings, builds = time_keys(spark, headline_keys(), sf_dir)
    print(publish(_REPO_ROOT, timings, builds, sf_dir))


if __name__ == "__main__":
    main()
