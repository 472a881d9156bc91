"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke test runs every workload once (one untraced and one traced
pass, sf0.001 inputs, in its own process each) and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")
sys.path.insert(0, ROOT)

from perfbench import layers, run, trace  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_the_code():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: layers.PER_LAYER_UNITS[k] for k in layers.RESULT_LAYER_METRICS}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_compare_refuses_different_core_counts(tmp_path, capsys):
    def write(name, nproc):
        d = {"env": {"nproc": nproc, "SPARK_GRAFT_CPUS": str(nproc)},
             "metrics": {"wall_s": 2.0}}
        p = tmp_path / name
        p.write_text(json.dumps(d) + "\n")
        return str(p)

    assert layers.compare(write("a", 4), write("b", 32)) == 3
    assert "refusing" in capsys.readouterr().out
    assert layers.compare(write("c", 4), write("d", 4)) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 5.0},
        # overlapping children (helper threads) are counted once
        {"id": 3, "name": "b", "parent": 1, "start": 4.0, "end": 6.0},
        {"id": 4, "name": "materialize.cache", "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "name": "materialize.persist", "parent": 4, "start": 2.0, "end": 3.0},
    ]
    self_s = trace.self_times(spans)
    assert self_s["op"] == pytest.approx(5.0)
    assert self_s["a"] == pytest.approx(3.0)
    # cache() calling persist() is one cut
    assert [s["id"] for s in trace.outermost(spans, "materialize.")] == [4]


def test_critical_path_follows_the_longest_upstream_chain():
    upstream = {"x": [], "y": [], "t": ["x", "y"], "m": ["t"]}
    dur = {"x": 1.0, "y": 3.0, "t": 2.0, "m": 1.0}
    assert layers._critical_path(upstream, dur) == pytest.approx(6.0)


def test_generated_inputs_depend_only_on_the_seed(tmp_path):
    from perfbench import gen

    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        d.mkdir()
        gen.star_schema(str(d), seed, 0.2)
        gen.change_batches(str(d), seed, 2, 20, 300, 30)
    for name in sorted(os.listdir(a)):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()


def test_smoke_runs_every_workload_and_names_every_metric():
    spec = _spec()
    proc = subprocess.run([sys.executable, RUN, "--smoke", "--seed", "3"],
                          capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    per_workload = {ln["workload"]: ln for ln in lines if "workload" in ln}
    assert set(per_workload) == set(run.WORKLOADS)
    for name, line in per_workload.items():
        assert line["correct"], (name, line)
        assert line["attempted"] >= 1
        for m in spec["end_to_end"] + spec["per_layer"]:
            got = line["metrics"][m["name"]]
            assert got["unit"] == m["unit"], (name, m["name"])
            assert isinstance(got["value"], (int, float)), (name, m["name"])
        # the untraced and the traced pass both ran
        assert line["metrics"]["trace.overhead_s"]["value"] != 0.0, name
    final = lines[-1]
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] and final["failed"] == 0
