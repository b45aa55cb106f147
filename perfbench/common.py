"""Shared machinery: the Spark session, the timed-operation record,
percentiles, and the process-tree memory sampler."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f} s] {msg}", flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, trace_dir: str | None):
    """The engine's own session (kuibadb_spark.session.builder) with this
    run's scratch locations pinned inside ``run_dir``; with ``trace_dir``
    Spark also writes its uncompressed event log there."""
    from kuibadb_spark.session import builder

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(trace_dir),
            "spark.eventLog.compress": "false",
        })
    spark = builder("perfbench", conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jit_quiet(spark, idle: float = 1.0, cap: float = 20.0) -> float:
    """Wait until the JVM's JIT compilers have been idle for ``idle``
    seconds (at most ``cap``): the warm-up queues compilations that would
    otherwise compete with the first timed operations. Returns the wait."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    t0 = time.perf_counter()
    last, quiet_since = bean.getTotalCompilationTime(), t0
    while time.perf_counter() - t0 < cap:
        time.sleep(0.25)
        now = bean.getTotalCompilationTime()
        if now != last:
            last, quiet_since = now, time.perf_counter()
        elif time.perf_counter() - quiet_since >= idle:
            break
    return time.perf_counter() - t0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it): the highest whole
    percentile with at least ten samples beyond it, but never below p75
    — a run of fewer than 40 operations has fewer than ten samples past
    p75, and then p75 stands in."""
    n = len(values)
    q = int(math.floor(100.0 * (1.0 - 10.0 / n))) if n > 10 else 0
    q = min(99, max(75, q))
    value = percentile(values, q)
    return value, q, sum(1 for v in values if v > value)


def rounds(seconds: float):
    """Count measuring rounds: the whole number of rounds whose total
    time is nearest to ``seconds``, and at least one."""
    t0 = time.perf_counter()
    n = 0
    while True:
        yield n
        n += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds - elapsed / n / 2:
            return


class Run:
    """Times the workload's operations and counts their outcomes.

    An operation is one statement, one registry-key run or one read; it
    is timed from the call into the program until its result is fully
    computed. ``tracer`` (trace mode only) also opens a span and a Spark
    job group per operation so layer costs can be attributed to it."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, kind: str):
        if self.tracer is not None:
            self.tracer.begin_op(kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.end_op()
        self.ops.append((kind, dt))

    def attempt(self, kind: str, fn) -> bool:
        """Run ``fn`` as one timed operation; an exception counts as a
        failed operation and is reported, never raised."""
        self.attempted += 1
        try:
            with self.op(kind):
                fn()
            return True
        except Exception:  # noqa: BLE001 — the loop must keep measuring
            self.fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return False

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        log(f"FAILED {msg}")

    def by_kind(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for kind, dt in self.ops:
            out.setdefault(kind, []).append(dt)
        return out

    def summary(self, wall: float) -> dict:
        """The end-to-end timing metrics over all operations."""
        times = [dt for _, dt in self.ops]
        t_val, t_pct, t_beyond = tail(times)
        kinds = [statistics.median(v) for v in self.by_kind().values()]
        return {
            # every kind runs equally often, so this is the median
            # operation, without jumping between the samples of the two
            # kinds either side of the middle
            "query_p50_s": statistics.median(kinds),
            "query_tail_s": t_val,
            "query_tail_pct": t_pct,
            "query_tail_beyond": t_beyond,
            "queries_per_s": len(times) / wall,
            "op_steady_s": sum(kinds),
            "n_ops": len(times),
        }


def noop(df) -> None:
    """Force a DataFrame through Spark's no-op sink: full computation,
    nothing collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 0.2 s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        tree = {os.getpid()}
        grew = True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            grew = bool(kids)
            tree |= kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)
