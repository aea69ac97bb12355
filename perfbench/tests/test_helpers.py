"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import host  # noqa: E402
import run  # noqa: E402
from stats import (  # noqa: E402
    check_metric_name,
    check_unit,
    median,
    parse_sql_metric,
    percentile,
    quartile_spread,
    tail_ok,
)

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


# -- percentiles and sample counts ----------------------------------------------


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 20) == 1.0
    assert percentile(values, 21) == 2.0
    assert percentile(values, 100) == 5.0
    assert median([2.0, 1.0]) == 1.0  # a measured sample, not the mean


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


@pytest.mark.parametrize(
    "n,q,ok",
    [
        (20, 50, True),    # rank 10, 10 beyond
        (19, 50, False),   # rank 10, 9 beyond
        (200, 95, True),   # rank 190, 10 beyond
        (199, 95, False),  # rank 190, 9 beyond
        (20, 95, False),   # one pass of the query mix
    ],
)
def test_tail_needs_ten_samples_beyond(n, q, ok):
    assert tail_ok(n, q) is ok


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # quantiles(n=4) exclusive method: 11.75, 14.5, 17.25
    assert quartile_spread(values) == pytest.approx((17.25 - 11.75) / 14.5)


# -- SQL metric strings -----------------------------------------------------------


@pytest.mark.parametrize(
    "text,value",
    [
        ("12,345", 12345.0),
        ("0", 0.0),
        ("24 ms", 0.024),
        ("8.1 s", 8.1),
        ("1.5 m", 90.0),
        ("0.0 B", 0.0),
        ("4.2 MiB", 4.2 * 2**20),
        ("1883.4 KiB", 1883.4 * 2**10),
        ("total (min, med, max (stageId: taskId))\n8.1 s (2.0 s, 2.2 s, 2.6 s "
         "(stage 0.0: task 0))", 8.1),
        ("total (min, med, max (stageId: taskId))\n7.4 MiB (1883.4 KiB, 1888.8 KiB, "
         "1892.2 KiB (stage 0.0: task 0))", 7.4 * 2**20),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "fast", "8.1 parsecs", "1 2 3"])
def test_parse_sql_metric_rejects_garbage(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


# -- metric names -------------------------------------------------------------------


@pytest.mark.parametrize("name", ["job_s", "query.knn_geo.exec_s", "spark.scan.bytes",
                                  "0pass", "a-b", "x" * 64])
def test_valid_metric_names(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_job", ".x", "job s", "job/s", "x" * 65, None])
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "count", "%", "MB", "ratio"])
def test_valid_units(unit):
    assert check_unit(unit) == unit


@pytest.mark.parametrize("unit", ["", "per second", "x" * 17])
def test_invalid_units(unit):
    with pytest.raises(ValueError):
        check_unit(unit)


def test_code_metric_names_are_valid_and_unique():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        check_metric_name(name)
    for unit, better in [*run.END_TO_END.values(), *run.PER_LAYER.values()]:
        check_unit(unit)
        assert better in ("lower", "higher")
    assert len(run.PER_LAYER) <= 128


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    assert e2e["setup_s"] == ("s", "lower")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == run.PER_LAYER


# -- /proc RSS sampler ----------------------------------------------------------------


def _fake_proc(tmp_path, procs):
    """procs: {pid: (ppid, rss_pages)}"""
    for pid, (ppid, pages) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # the command name may hold spaces and parentheses
        (d / "stat").write_text(f"{pid} (py (worker) x) S {ppid} 1 1 0 -1\n")
        (d / "statm").write_text(f"{pages * 3} {pages} 0 0 0 0 0\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_tree_rss_sums_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, 100),   # root
        11: (10, 20),   # child (the JVM)
        12: (11, 3),    # grandchild (a Python worker)
        13: (1, 999),   # unrelated
    })
    assert sorted(host.tree_pids(10, proc)) == [10, 11, 12]
    assert host.tree_rss_bytes(10, proc) == 123 * host._PAGE


def test_tree_rss_skips_processes_that_exit(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, 5), 11: (10, 7)})
    os.remove(os.path.join(proc, "11", "statm"))
    assert host.tree_rss_bytes(10, proc) == 5 * host._PAGE


def test_sampler_sees_a_child_process():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time; b = bytearray(64 << 20); b[::4096] = b'x' * (len(b) // 4096);"
         " time.sleep(30)"],
    )
    try:
        deadline = time.monotonic() + 20
        alone = host.tree_rss_bytes(child.pid)
        while alone < 64 << 20 and time.monotonic() < deadline:
            time.sleep(0.05)
            alone = host.tree_rss_bytes(child.pid)
        with host.RssSampler(interval_s=0.01) as rss:
            time.sleep(0.1)
        assert rss.samples >= 2
        assert rss.peak_bytes >= alone >= 64 << 20  # the child is in our tree
    finally:
        child.kill()
        child.wait(timeout=10)


def test_fingerprint_mismatch():
    a = {"nproc": 4, "mem_total_kb": 1, "python": "3.11", "spark": "4.1", "java": "17"}
    assert host.fingerprint_mismatch(a, dict(a)) == []
    assert host.fingerprint_mismatch(a, {**a, "nproc": 32}) == ["nproc"]


def test_usable_cores_follows_affinity():
    assert host.usable_cores() == len(os.sched_getaffinity(0)) >= 1
