"""The bench artifact contract (bench.py): which detail file the driver
reads, when it is rewritten, which run the scale guards compare
against, and the shared timing loop. Every case writes under tmp_path.
"""

from __future__ import annotations

import json

import bench


def _timings(scale: float) -> tuple[dict[str, float], dict[str, float]]:
    return (
        {n: round(scale * (i + 1), 3) for i, n in enumerate(bench.HEADLINE)},
        {"graph_kcore": round(scale * 4.0, 3)},
    )


def _publish(tmp_path, monkeypatch, cpus: int, sha: str) -> str:
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.setattr(bench, "_git_sha", lambda: sha)
    return bench.publish(tmp_path, *_timings(cpus / 8), "/data/sf0.1")


def _read(tmp_path, name: str) -> dict:
    return json.loads((tmp_path / name).read_text())


def test_lower_core_run_keeps_fixed_name(tmp_path, monkeypatch):
    _publish(tmp_path, monkeypatch, 32, "abc")
    _publish(tmp_path, monkeypatch, 8, "abc")
    fixed = _read(tmp_path, "BENCH_DETAIL.json")
    assert fixed["cpus"] == 32 and fixed["sha"] == "abc"
    c8 = _read(tmp_path, "BENCH_DETAIL_c8.json")
    assert c8["cpus"] == 8
    assert c8["fixture"] == "/data/sf0.1"
    assert {"nproc", "utc"} <= c8.keys()


def test_new_sha_replaces_fixed_name(tmp_path, monkeypatch):
    _publish(tmp_path, monkeypatch, 32, "abc")
    _publish(tmp_path, monkeypatch, 8, "def")
    fixed = _read(tmp_path, "BENCH_DETAIL.json")
    assert fixed["cpus"] == 8 and fixed["sha"] == "def"


def test_baseline_reads_matched_cores(tmp_path, monkeypatch):
    _publish(tmp_path, monkeypatch, 32, "abc")
    _publish(tmp_path, monkeypatch, 8, "abc")
    assert _read(tmp_path, "BENCH_DETAIL.json")["cpus"] == 32
    totals, source = bench.baseline(8, tmp_path)
    assert source == {"file": "BENCH_DETAIL_c8.json", "sha": "abc", "cpus": 8}
    timings, builds = _timings(1.0)
    assert totals["q1_pricing_summary"] == timings["q1_pricing_summary"]
    kcore = timings["graph_kcore"] + builds["graph_kcore"]
    assert totals["graph_kcore"] == kcore
    # no twin at this core count: the fixed name is the fallback
    assert bench.baseline(4, tmp_path)[1]["file"] == "BENCH_DETAIL.json"


def test_summary_line_names_fixed_detail(tmp_path, monkeypatch):
    line = _publish(tmp_path, monkeypatch, 32, "abc")
    assert len(line) < 1500
    summary = json.loads(line)
    assert summary["detail"] == "BENCH_DETAIL.json"
    assert summary["queries_n"] == len(bench.HEADLINE)


def test_time_keys_times_each_key(spark, sf_dir):
    names = ["q6_forecast_revenue", "q1_pricing_summary"]
    timings, builds = bench.time_keys(spark, names, sf_dir, max_runs=1)
    assert set(timings) == set(names)
    assert all(t > 0 for t in timings.values())
    assert set(builds) <= set(names)
