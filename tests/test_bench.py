"""bench.py contract smoke: one JSON line with the driver-required keys."""

import json
import os
import subprocess
import sys

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_bench_json_contract():
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": "8",
        "BENCH_SCALING": "0",
    })
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, timeout=540, cwd=REPO)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON line in bench output:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    d = json.loads(lines[-1])
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in d, f"missing {key}"
    assert d["unit"] == "sec"
    assert d["value"] > 0
    assert d["sf"] == 0.001
    assert "dedup_pipeline" in d["queries"]
    assert d["dedup_docs_per_hour"] > 0
    assert d["summary"]["valid_docs"] > 0
    # round-4 verdict #9: incremental-update field — the batch touches its
    # neighbourhood, not the corpus
    inc = d["incremental"]
    assert inc["update_sec"] > 0 and inc["batch_docs"] > 0
    assert 0 < inc["touched_docs"] < d["summary"]["valid_docs"]
    assert inc["store_shards"] >= 1
    # round-6 continuation: ExactSubstr block present and self-consistent
    es = d["exactsubstr"]
    assert es["sec"] > 0 and es["docs"] > 0
    assert 0 <= es["tokens_dropped"] <= es["tokens"]
    assert 0 <= es["docs_killed"] <= es["docs"]
