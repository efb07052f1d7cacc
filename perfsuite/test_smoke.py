"""Smoke test: every workload on tiny inputs, in one traced run each (a
cold pass, then untraced and traced warm passes). Checks that every metric
named in BENCHMARK.json is printed and that every output check ran on
every pass and passed.

    python3 -m pytest -q perfsuite/test_smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {"setup_s", "cold_s", "warm_s", "cpu_s", "peak_rss_mb", "error_rate"}
CHECKS = {
    "sentiment_pipeline": {
        "clean_rows", "label_counts", "clean_digest", "confusion_sum_lr",
        "metrics_json_lr", "model_saved_lr", "comparison", "charts", "metrics_stable",
    },
    "registry_loops_kernels": {"kcore_parts", "bpe_merges", "semdedup", "minhash_signatures"},
}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_workload_is_smoked():
    assert {w["name"] for w in _bench()["workloads"]} == set(CHECKS)


@pytest.mark.parametrize("workload", sorted(CHECKS))
def test_workload(workload):
    bench = _bench()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert {m["name"] for m in bench["end_to_end"]} <= E2E == set(detail["end_to_end"])
    assert detail["end_to_end"]["error_rate"] == 0

    # cold, then untraced and traced warm passes (ABBA); metrics_stable
    # starts on pass two
    passes = 1 + detail["warm_passes"] * 2
    assert set(detail["checks"]) == CHECKS[workload]
    for name, (passed, ran) in detail["checks"].items():
        assert ran == passes - (name == "metrics_stable"), name
        assert passed == ran, name
