"""BENCHMARK.json declares exactly the metrics run.py prints, and the
benchmark refuses to run where the program is absent."""

import json
import os
import shutil
import subprocess
import sys

from perfbench import gen, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_match_the_printed_ones():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: unit for name, (unit, _moves, _w) in run.PER_LAYER.items()
    }
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert all(w["why"] == gen.REASONS[w["name"]] for w in spec["workloads"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_layer_metric_maps_to_a_declared_end_to_end_metric():
    names = {n for n, _u in run.END_TO_END}
    for _unit, moves, workloads in run.PER_LAYER.values():
        assert {m.strip() for m in moves.split(",")} <= names
        assert set(workloads) <= set(run.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "short_html", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_baseline_records_every_metric_of_every_workload():
    with open(os.path.join(ROOT, "perfbench", "baseline.json")) as f:
        base = json.load(f)
    assert base["host"]["nproc"] == run.MASTER_CPUS
    assert set(base["workloads"]) == set(run.WORKLOADS)
    for rec in base["workloads"].values():
        assert set(rec["end_to_end"]) == {n for n, _u in run.END_TO_END}
        assert set(rec["per_layer_seed999"]) == set(run.PER_LAYER)
        assert rec["failed_docs"] == 0 and rec["attempted_docs"] > 0
