"""pipeline_ops: registry operators called directly, bypassing Engine.sql
and the manifest.

Each key is constructed once (``registry.all_queries()[k](spark, dir)``,
timed on its own: eager keys do real work there) and run once collected
before timing; the timed operations are steady noop runs of the built
DataFrames, every key once per round in a seeded order. The collected
results are checked with ``parity.compare`` against the key's DuckDB
oracle.
"""

from __future__ import annotations

import statistics
import time
from types import SimpleNamespace

from common import log, noop, rounds

# One key per family for the shuffle-heavy near-dup join (dedup), the
# Arrow boundary (applyInPandas), an eager localCheckpoint build
# (graph_kcore), event sessionisation, text scoring and the streaming
# path. A run must stay near a minute including several timed rounds:
# every key costs its build, a collected first run and one steady run
# per round. Nine keys (adding sim_topk_bruteforce, mm_ahash_near_dup
# and agg_approx_sketches) took 70 s with a single round on 4 vCPUs, and
# graph_pagerank alone adds about 11 s a run.
KEYS = (
    "dedup_minhash_lsh",
    "text_quality",
    "graph_kcore",
    "ev_session_windows",
    "udf_apply_in_pandas",
    "stream_session_windows",
)


def family(key: str) -> str:
    return key.split("_", 1)[0]


class PipelineOps:
    name = "pipeline_ops"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng
        self.frames: dict = {}
        self.build_s: dict[str, float] = {}
        self.collected: dict[str, tuple] = {}

    def setup(self) -> None:
        from kuibadb_spark import registry

        ctx = self.ctx
        ctx.make_tables()
        queries = registry.all_queries()
        for key in KEYS:
            try:
                t0 = time.perf_counter()
                df = queries[key](ctx.spark, ctx.data_dir)
                self.build_s[key] = time.perf_counter() - t0
                self.frames[key] = df
                self.collected[key] = (df.schema, df.collect())
            except Exception as e:  # noqa: BLE001 — counted, run continues
                ctx.run.attempted += 1
                ctx.run.fail(f"build {key}: {e!r}"[:500])
        ctx.phase("build+warm-up")

    def measure(self, seconds: float) -> None:
        spark, run = self.ctx.spark, self.ctx.run
        for _ in rounds(seconds):
            for key in self.rng.permutation(sorted(self.frames)):
                # drop any persist() a key made, so each run recomputes
                spark.catalog.clearCache()
                run.attempt(key, lambda k=key: noop(self.frames[k]))

    def check(self) -> None:
        from kuibadb_spark import registry
        from kuibadb_spark.parity import compare

        spark, run = self.ctx.spark, self.ctx.run
        oracles = registry.all_oracles()
        for key, (schema, rows) in self.collected.items():
            if key not in oracles:
                continue
            run.attempted += 1
            # compare() reads only .columns and .collect() of the frame;
            # the rows collected at warm-up stand in, with no Spark job
            rep = compare(spark, key, self.ctx.check_dir,
                          lambda _s, _d, sc=schema, r=rows: SimpleNamespace(
                              columns=sc.names, collect=lambda: r),
                          oracles[key])
            if not rep["match"]:
                run.fail(f"pipeline check {key}: {rep}"[:800])
            elif rep["spark_rows"] == 0:
                run.fail(f"pipeline check {key}: empty result")
        log(f"pipeline_ops: checked {len(self.collected)} keys against DuckDB")

    def layer_metrics(self) -> dict:
        steady = self.ctx.run.by_kind()
        out = {"op_build_s": sum(self.build_s.values())}
        for key in KEYS:
            fam = family(key)
            out.setdefault(f"operators.{fam}.build_s", 0.0)
            out.setdefault(f"operators.{fam}.steady_s", 0.0)
            out[f"operators.{fam}.build_s"] += self.build_s.get(key, 0.0)
            if key in steady:
                out[f"operators.{fam}.steady_s"] += statistics.median(steady[key])
        return out
