"""Tests of the benchmark harness itself, at tiny scale (sf0.001 tables).

    python3 -m pytest perfbench/test_perfbench.py -q

Each harness run starts its own Spark session, so the module makes two
runs and shares them between the tests (about a minute and a half in all).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def _run(tmp_dir, *args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seed", str(SEED),
         "--seconds", "6", "--scale", "tiny", "--out-dir", str(tmp_dir), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _parse(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    table = {}
    for line in lines:
        m = re.match(r"# (\S+)\s+(-?[\d.]+) (\S+)\s+n=(\d+)$", line)
        if m:
            table[m.group(1)] = (float(m.group(2)), m.group(3), int(m.group(4)))
    return json.loads(lines[-1]), table


@pytest.fixture(scope="module")
def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def traced_select(tmp_path_factory):
    """spatial_select, traced, with one wrong answer injected."""
    out = tmp_path_factory.mktemp("traced")
    result, table = _parse(_run(out, "--workload", "spatial_select", "--trace", "1",
                                "--inject-wrong", "1"))
    with open(out / f"trace-spatial_select-seed{SEED}.json") as f:
        return result, table, json.load(f)


@pytest.fixture(scope="module")
def untraced_join(tmp_path_factory):
    return _parse(_run(tmp_path_factory.mktemp("plain"), "--workload", "spatial_join"))


def _assert_emitted(result, table, specs):
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
        assert table[m["name"]][1] == m["unit"]  # printed with unit and sample count


def test_every_end_to_end_metric_is_emitted(untraced_join, bench_spec):
    result, table = untraced_join
    _assert_emitted(result, table, bench_spec["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert table["pass_s"][2] >= 2


def test_every_per_layer_metric_is_emitted(traced_select, bench_spec):
    result, table, sidecar = traced_select
    _assert_emitted(result, table, bench_spec["per_layer"])
    m = result["metrics"]
    for kind in ("range", "circle", "knn"):
        assert table[f"{kind}.indexed.build_ms"][2] > 0
        assert m[f"{kind}.scan.jobs"]["value"] >= 1
    assert m["layouts.disk_bytes_per_input_byte"]["value"] > 0
    assert sidecar["spans"] and {"name", "start", "end", "pass_no"} <= set(sidecar["spans"][0])
    assert set(sidecar["end_to_end"]) == {m["name"] for m in bench_spec["end_to_end"]}


def test_injected_wrong_answer_is_counted(traced_select):
    result, _, sidecar = traced_select
    assert result["failed"] == 1 and not result["correct"]
    assert result["metrics"]["error_rate"]["value"] == pytest.approx(1 / result["attempted"])
    assert any(e.startswith("wrong answer") for e in sidecar["errors"])


def test_percentile_has_ten_samples_beyond_it(traced_select):
    _, _, sidecar = traced_select
    lat = [s["build_ms"] + s["exec_ms"] for s in sidecar["spans"]
           if s["pass_no"] >= 1 and s["name"].endswith(".indexed")]
    p75 = sidecar["end_to_end"]["read_p75_ms"]
    assert sum(x > p75 for x in lat) >= 10


def test_join_latency_moves_with_any_op():
    sys.path.insert(0, ROOT)
    from perfbench.run import end_to_end

    class Join:
        name = "spatial_join"

    def spans(slow_ms, fast_ms):
        return [{"name": name, "pass_no": p, "build_ms": ms, "exec_ms": 0.0}
                for p in (1, 2) for name, ms in (("slow", slow_ms), ("fast", fast_ms))]

    base = end_to_end(Join, spans(4000.0, 100.0), [4.1, 4.1], 1.0, 1.0)
    faster = end_to_end(Join, spans(4000.0, 50.0), [4.05, 4.05], 1.0, 1.0)
    for name in ("read_p50_ms", "read_p75_ms"):
        assert faster[name][0] == pytest.approx(base[name][0] / 2 ** 0.5)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path / "out", "--workload", "spatial_select", cwd=tmp_path)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
