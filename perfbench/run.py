#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

Workloads (inputs all derived from ``--seed``; see each module):

- ``pipeline_ops``  registry operators run directly on a seeded subsample
- ``ingest_dml``    COPY / DML / transactions / snapshot and time-travel
                    reads / OPTIMIZE / VACUUM through the engine
- ``olap_sql``      seed-parameterised SELECTs through ``Engine.sql``;
                    not in BENCHMARK.json, whose run budget holds two
                    workloads, but run the same way by hand

Each run is a closed loop: one client, one Spark session at
``local[nproc]``, the next operation issued when the previous one has
finished. Measuring goes on in whole rounds (every template, key or
statement kind once): the whole number of rounds nearest to
``--seconds``, at least one.

End-to-end metrics (``--trace 0``), reported for every workload:

- ``setup_s``        process start to warm-up done: Spark session, input
                     generation, table load, one untimed pass over every
                     template / key / statement kind, and the wait for the
                     JIT compilers that pass kept busy to go idle
- ``query_p50_s``    median operation latency, taken over the operation
                     kinds' medians; an operation is one statement
                     (olap_sql, ingest_dml) or one noop run of a built
                     registry key (pipeline_ops)
- ``query_tail_s``   the highest percentile with ten samples beyond it,
                     never below p75 (the percentile and the sample count
                     are in the results file)
- ``queries_per_s``  operations completed per second of measuring
- ``op_steady_s``    sum over operation kinds of each kind's median, so
                     the figure does not depend on how many of each ran
- ``peak_rss_mb``    peak resident memory of the Python + JVM process tree

``--trace 1`` is a separate run that reports the per-layer metrics
instead: spans around the program's public functions, Spark's event log
grouped by a job group per operation, the workload's own counters
(write amplification, COPY rate, DML and read latencies), and the
tracing overhead: the traced rounds' ``op_steady_s`` against as many
rounds run next in the same process with the wrappers and job groups off.

Outputs are checked against DuckDB outside the timed regions; a mismatch
or an exception counts as a failed operation and makes the exit code 1.
The last stdout line is the JSON result; the full record (environment,
per-kind medians, errors, spans) goes to
``perfbench/results/<code id>/<run id>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale factor of the generated tables: the fixtures' sf0.001 sizes
# (6 k lineitem rows), where Spark's per-job floor dominates every
# operation. Runs must stay near a minute; at sf0.1 a pipeline_ops run
# of twelve keys and a single round took 147 s and 5.6 GB on 4 vCPUs.
SF = 0.001
DRIVER_MEM = "2g"   # single-JVM local mode: the driver heap is the executor heap


def code_id() -> str:
    """The git SHA when the tree is a git checkout (with ``-dirty`` when
    the program or the benchmark has uncommitted changes), else a hash
    of the program's source files."""
    try:
        git = ["git", "-C", ROOT]
        sha = subprocess.run(git + ["rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip()
        if sha:
            dirty = subprocess.run(
                git + ["status", "--porcelain", "--", "kuibadb_spark",
                       "perfbench/*.py", "BENCHMARK.json"],
                capture_output=True, text=True, timeout=10).stdout.strip()
            return sha[:12] + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "kuibadb_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "tree-" + h.hexdigest()[:12]


def environment() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    from common import nproc

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "code": code_id(), "nproc": nproc(), "mem_gb": round(mem_kb / 2**20, 1),
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__,
        "driver_mem": DRIVER_MEM,
    }


class Ctx:
    """What a workload needs: the session, the operation record, the
    seeded RNG and this run's directories."""

    def __init__(self, spark, run, seed: int, run_dir: str):
        import numpy as np

        self.spark = spark
        self.run = run
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.check_dir = os.path.join(run_dir, "check")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.tables = None

        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Mark the end of a set-up phase (kept in the results file)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    def make_tables(self) -> None:
        from datagen import base_tables, subsample, write_tables

        self.tables = subsample(base_tables(SF), self.seed)
        write_tables(self.tables, self.data_dir, self.check_dir)
        self.phase("inputs")


def workload_class(name: str):
    if name == "olap_sql":
        from olap import OlapSql
        return OlapSql
    if name == "pipeline_ops":
        from pipeline import PipelineOps
        return PipelineOps
    from ingest import IngestDml
    return IngestDml


READ_KINDS = {
    # operations whose Engine.sql call returns a lazy DataFrame
    "olap_sql": None,  # every template
    "pipeline_ops": (),
    "ingest_dml": ("read", "time_travel"),
}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_sql", "pipeline_ops", "ingest_dml"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kuibadb_spark", "engine.py")):
        print("perfbench: the kuibadb_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from common import RssSampler, Run, jit_quiet, log, nproc, start_session

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(HERE, ".runs", run_id)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Python workers import kuibadb_spark (applyInPandas UDFs)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    sys.path.insert(0, ROOT)
    env = environment()
    log(f"{run_id} {json.dumps(env)}")

    record: dict = {"run": run_id, "args": vars(args), "env": env}
    try:
        with RssSampler() as rss:
            spark = start_session(
                run_dir, os.path.join(run_dir, "events") if args.trace else None)
            record["session_s"] = time.perf_counter() - T_START
            tracer = None
            if args.trace:
                from tracing import Tracer
                tracer = Tracer(spark)
                tracer.install()
            run = Run(spark, tracer)
            ctx = Ctx(spark, run, args.seed, run_dir)
            wl = workload_class(args.workload)(ctx)
            wl.setup()
            ctx.phases["jit-quiet"] = jit_quiet(spark)
            setup_s = time.perf_counter() - T_START
            record["setup_phases"] = ctx.phases
            log(f"setup done in {setup_s:.2f} s: session {record['session_s']:.2f} s,"
                + ", ".join(f" {k} {v:.2f} s" for k, v in ctx.phases.items()))
            t0 = time.perf_counter()
            wl.measure(args.seconds)
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.uninstall()
                # the same measuring again with the wrappers and job groups
                # off: the base of the tracing overhead (the event log
                # stays on)
                ctx.run = Run(spark)
                wl.measure(args.seconds)
                base = ctx.run
                ctx.run = run
                run.attempted += base.attempted
                run.failed += base.failed
                run.errors += base.errors
                record["overhead_base_op_steady_s"] = base.summary(1.0)["op_steady_s"]
            wl.check()
            summary = run.summary(wall)
            layer = wl.layer_metrics()
            stop_session(spark)
        e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak_kb / 1024.0,
               **summary}
        layer["failed_ratio"] = run.failed / max(1, run.attempted)
        results_dir = os.path.join(HERE, "results", env["code"])
        os.makedirs(results_dir, exist_ok=True)
        if tracer is not None:
            from tracing import event_metrics
            layer.update(tracer.span_metrics(
                READ_KINDS[args.workload] or set(tracer.op_kinds)))
            layer.update(event_metrics(
                os.path.join(run_dir, "events"), tracer.op_kinds,
                [dt for _, dt in run.ops], nproc()))
            layer["trace.overhead_ratio"] = (
                e2e["op_steady_s"] / record["overhead_base_op_steady_s"] - 1.0)
            record["spans"] = tracer.spans_json()
        record.update({
            "end_to_end": e2e, "per_layer": layer, "wall_s": wall,
            "per_kind_median_s": {k: statistics.median(v)
                                  for k, v in run.by_kind().items()},
            "attempted": run.attempted, "failed": run.failed,
            "errors": run.errors, "ops": run.ops,
        })
        with open(os.path.join(results_dir, run_id + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec[section]}
    log(f"{run.attempted} attempted, {run.failed} failed, {summary['n_ops']}"
        f" timed ops, tail p{summary['query_tail_pct']} with"
        f" {summary['query_tail_beyond']} beyond")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
