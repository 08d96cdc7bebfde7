"""Checks of the benchmark's own contract, cheap enough to run often.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke run drives every workload once at a tiny scale in one Spark
session, plus one traced pass; it takes one to two minutes, most of it
the engine's fixed per-run cost.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_smoke_runs_every_workload():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--smoke"], cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stdout + p.stderr[-3000:]
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    assert lines[-1] == {"smoke_ok": True}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ran = {(x["workload"], x["trace"]) for x in lines[:-1] if x["ok"]}
    assert {(w["name"], 0) for w in spec["workloads"]} <= ran
    assert any(trace == 1 for _w, trace in ran)


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, exit non-zero quickly
    and print no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "dup_heavy", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
