"""Traced runs: spans around the program's public functions, one Spark
job group per timed operation, and the uncompressed Spark event log
parsed after the session stops.

Spans are recorded only inside timed operations and kept in memory;
``Tracer.spans_json`` writes them out when the run ends. A layer's self
time is its spans' durations minus the time their child spans cover.

``engine.py`` binds ``translate`` (as ``_pg_translate``), ``parse_typed``,
``check_not_null`` and ``check_constraint`` by name at import, but
reaches ``manifest.*`` and ``zonemap.*`` through the module, and imports
``auto_copy_parallel`` and ``check_not_null`` from ``sources.copy`` at
call time — so each name is patched where it is looked up.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import ExitStack, contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.op: int | None = None
        self.op_kinds: list[str] = []
        self.views: dict[int, int] = {}   # span index of engine.sql -> views
        self.copy_parallel: list[int] = []
        self._local = threading.local()
        self._patches: list[tuple] = []

    # -- operations ------------------------------------------------------------
    def begin_op(self, kind: str) -> None:
        self.op = len(self.op_kinds)
        self.op_kinds.append(kind)
        self.spark.sparkContext.setJobGroup(f"op-{self.op}", kind)

    def end_op(self) -> None:
        self.op = None
        self.spark.sparkContext.setJobGroup("untimed", "untimed")

    # -- spans -----------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None,
                           stack[-1] if stack else None, self.op])
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def _wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer.op is None:
                return orig(*args, **kwargs)
            with tracer.span(name):
                res = orig(*args, **kwargs)
            if on_result is not None:
                on_result(res)
            return res

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def _wrap_lock(self, mf) -> None:
        """commit_lock is a context manager: its span covers only the wait
        to acquire the lock, not the critical section."""
        orig = mf.commit_lock
        tracer = self

        @contextmanager
        def traced_lock(table_dir):
            if tracer.op is None:
                with orig(table_dir):
                    yield
                return
            held = ExitStack()
            with tracer.span("manifest.lock_wait"):
                held.enter_context(orig(table_dir))
            with held:
                yield

        self._patches.append((mf, "commit_lock", orig))
        mf.commit_lock = traced_lock

    def install(self) -> None:
        from kuibadb_spark import engine
        from kuibadb_spark.plans import manifest, zonemap
        from kuibadb_spark.sources import copy

        for meth in ("sql", "table", "insert", "delete", "update", "merge",
                     "commit", "compact", "gc", "copy_from"):
            self._wrap(engine.Engine, meth, f"engine.{meth}")
        self._wrap(engine, "_pg_translate", "pg_ops.translate")
        for fn in ("parse_typed", "check_not_null", "check_constraint"):
            self._wrap(engine, fn, f"copy.{fn}")
        self._wrap(copy, "check_not_null", "copy.check_not_null")
        self._wrap(copy, "auto_copy_parallel", "copy.auto_copy_parallel",
                   lambda n: self.copy_parallel.append(n or 1))
        for fn in ("read_manifest", "read_manifest_version", "commit_files",
                   "replace_files", "prepare_publish", "finish_publish",
                   "trim_versions"):
            self._wrap(manifest, fn, f"manifest.{fn}")
        self._wrap_lock(manifest)
        for fn in ("collect_file_stats", "prune"):
            self._wrap(zonemap, fn, f"zonemap.{fn}")

        # the session's concrete DataFrame class overrides the method
        DataFrame = type(self.spark.range(1))
        orig_view = DataFrame.createOrReplaceTempView
        tracer = self

        @functools.wraps(orig_view)
        def counted_view(df, name):
            stack = tracer._stack()
            for i in reversed(stack):
                if tracer.spans[i][0] == "engine.sql":
                    tracer.views[i] = tracer.views.get(i, 0) + 1
                    break
            return orig_view(df, name)

        self._patches.append((DataFrame, "createOrReplaceTempView", orig_view))
        DataFrame.createOrReplaceTempView = counted_view

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- per-layer metrics from spans ----------------------------------------
    def span_metrics(self, read_kinds) -> dict:
        def durs(name, kinds=None):
            return [s[2] - s[1] for s in self.spans
                    if s[0] == name and s[2] is not None
                    and (kinds is None or self.op_kinds[s[4]] in kinds)]

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        n_ops = max(1, len(self.op_kinds))
        out = {}
        reads = [k for k in set(self.op_kinds) if k in read_kinds]
        out["engine.sql_return_s"] = med(durs("engine.sql", reads))
        sql_idx = [i for i, s in enumerate(self.spans)
                   if s[0] == "engine.sql" and self.op_kinds[s[4]] in reads]
        out["engine.views_registered"] = (
            sum(self.views.get(i, 0) for i in sql_idx) / len(sql_idx)
            if sql_idx else 0.0)
        for m in ("insert", "delete", "update", "merge", "commit"):
            out[f"engine.{m}_s"] = med(durs(f"engine.{m}"))
        out["engine.compact_s"] = med(durs("engine.compact"))
        out["engine.gc_s"] = med(durs("engine.gc"))
        out["pg_ops.translate_s"] = med(durs("pg_ops.translate"))
        mreads = (durs("manifest.read_manifest")
                  + durs("manifest.read_manifest_version"))
        out["manifest.reads"] = len(mreads) / n_ops
        out["manifest.read_s"] = sum(mreads) / n_ops
        pub = [s for s in self.spans if s[2] is not None and s[0] in (
            "manifest.commit_files", "manifest.replace_files",
            "manifest.prepare_publish", "manifest.finish_publish")]
        publishing_ops = {s[4] for s in pub}
        out["manifest.publish_s"] = (sum(s[2] - s[1] for s in pub)
                                     / len(publishing_ops)
                                     if publishing_ops else 0.0)
        out["manifest.lock_wait_s"] = med(durs("manifest.lock_wait"))
        out["zonemap.collect_stats_s"] = med(durs("zonemap.collect_file_stats"))
        copy_ops = [i for i, k in enumerate(self.op_kinds) if k == "copy"]
        checks = [s[2] - s[1] for s in self.spans if s[2] is not None
                  and s[0] in ("copy.check_not_null", "copy.check_constraint")
                  and self.op_kinds[s[4]] == "copy"]
        out["copy.check_s"] = sum(checks) / len(copy_ops) if copy_ops else 0.0
        out["copy.parallel"] = (sum(self.copy_parallel) / len(self.copy_parallel)
                                if self.copy_parallel else 0.0)
        out.update(self._self_times(n_ops))
        return out

    def _self_times(self, n_ops: int) -> dict:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        layers = ("engine", "pg_ops", "manifest", "zonemap", "copy")
        total = dict.fromkeys(layers, 0.0)
        for i, s in enumerate(self.spans):
            layer = s[0].split(".", 1)[0]
            if s[2] is not None and layer in total:
                total[layer] += (s[2] - s[1]) - child[i]
        return {f"{k}.self_s": v / n_ops for k, v in total.items()}

    def spans_json(self) -> list[dict]:
        return [{"name": s[0], "start": s[1], "end": s[2], "parent": s[3],
                 "op": s[4]} for s in self.spans]


# -- Spark event log ----------------------------------------------------------
_PY_TIME = "time to run Python workers"


def _acc(task: dict, name: str) -> float | None:
    for a in task.get("Task Info", {}).get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return None
    return None


def event_metrics(log_dir: str, op_kinds: list[str], op_walls: list[float],
                  cpus: int) -> dict:
    """Per-operation Spark metrics from the event log, grouped by the
    ``op-<n>`` job group each timed operation ran under."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True) if os.path.isfile(f))
    stage_op: dict[int, int] = {}
    jobs: dict[int, int] = {}
    stages: dict[int, set] = {}
    agg = {k: 0.0 for k in ("tasks", "cpu_ns", "shuffle_write", "shuffle_read",
                            "scan", "output", "spill", "gc_ms", "failed",
                            "py_time", "py_tasks")}
    copy_jobs = 0
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if group.startswith("op-"):
                        op = int(group[3:])
                        jobs[op] = jobs.get(op, 0) + 1
                        if op_kinds[op] == "copy":
                            copy_jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    stages.setdefault(op, set()).add(ev.get("Stage ID"))
                    agg["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        agg["failed"] += 1
                    tm = ev.get("Task Metrics") or {}
                    agg["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    agg["gc_ms"] += tm.get("JVM GC Time", 0)
                    agg["spill"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                    sr = tm.get("Shuffle Read Metrics", {})
                    agg["shuffle_read"] += (sr.get("Local Bytes Read", 0)
                                            + sr.get("Remote Bytes Read", 0))
                    agg["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    agg["scan"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    agg["output"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    py = _acc(ev, _PY_TIME)
                    if py is not None:
                        agg["py_time"] += py
                        agg["py_tasks"] += 1
    n = max(1, len(op_kinds))
    n_copy = sum(1 for k in op_kinds if k == "copy")
    wall = sum(op_walls)
    return {
        "spark.jobs": sum(jobs.values()) / n,
        "spark.stages": sum(len(s) for s in stages.values()) / n,
        "spark.tasks": agg["tasks"] / n,
        "spark.cpu_util": agg["cpu_ns"] / 1e9 / (wall * cpus) if wall else 0.0,
        "spark.shuffle_write_bytes": agg["shuffle_write"] / n,
        "spark.shuffle_read_bytes": agg["shuffle_read"] / n,
        "spark.scan_bytes": agg["scan"] / n,
        "spark.output_bytes": agg["output"] / n,
        "spark.spill_bytes": agg["spill"] / n,
        "spark.gc_s": agg["gc_ms"] / 1000.0 / n,
        "spark.failed_tasks": agg["failed"],
        # the SQL timing metric is in milliseconds
        "arrow.python_s": agg["py_time"] / 1000.0 / n,
        "arrow.batches": agg["py_tasks"] / n,
        "copy.jobs": copy_jobs / n_copy if n_copy else 0.0,
    }
