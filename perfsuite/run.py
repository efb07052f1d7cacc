"""Benchmark runner: one workload, one fresh Spark process, one JSON result.

    python3 perfsuite/run.py --workload sentiment_pipeline --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The runner generates the seeded inputs and
their expected outputs, starts ``child.py`` in a new session with a pinned
environment, waits for it, reaps every process of that session, checks the
outputs, and prints two JSON lines: a detail record (all six end-to-end
metrics including ``error_rate``, pass counts, input sizes, host load) and,
last, the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 1`` the metrics are the per-layer ones of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procstat
import tables
import tweets

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "sentiment_analysis_bigdata_spark"
# The whole run, child included: DEADLINE_S at the benchmark's own
# run_seconds, and more for larger --seconds (BASE_S for set-up and the
# cold pass, PER_PASS_S per warm pass, traced or not).
DEADLINE_S = 170.0
BASE_S, PER_PASS_S = 60.0, 25.0

# Fixed step order per workload; the seed changes only the data.
WORKLOADS: dict[str, dict] = {
    "sentiment_pipeline": {"kind": "sentiment"},
    "registry_loops_kernels": {
        "kind": "registry",
        "queries": ["kcore_parts", "bpe_merges", "semdedup", "minhash_signatures"],
    },
}
ALL_QUERIES = [q for w in WORKLOADS.values() for q in w.get("queries", [])]

# --seconds buys one warm pass per PASS_S seconds (at least one). A fixed
# count, not a timer, so every run measures the same pass indices of the
# JIT's warm-up curve whatever the host's speed.
PASS_S = 8.0
DRIVER_HEAP = "2g"
UNSET = (
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_LAZY_BARRIER_LEVEL",
    "SPARK_GRAFT_STATE_STORE",
    "SPARK_GRAFT_SKIP_GOLDEN",
    "SPARK_GRAFT_SF_DIR",
)


def child_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    return env


def prepare(workload: str, seed: int, work: str, tiny: bool) -> dict:
    """Seeded inputs and the outputs the engine must reproduce from them."""
    import oracles  # reads tools/check_correctness.py, checked for in main()

    spec = WORKLOADS[workload]
    inputs = os.path.join(work, "input")
    if spec["kind"] == "sentiment":
        path = os.path.join(inputs, "tweets.csv")
        expected = tweets.write_corpus(path, seed, tweets.TINY_ROWS if tiny else tweets.ROWS)
        return {"tweets_csv": path, "expected": expected, "input": {"raw_rows": expected["raw_rows"]}}
    tdir = os.path.join(inputs, "tables")
    rows = tables.write_tables(tdir, seed, tables.TINY_SIZES if tiny else tables.SIZES)
    expected = oracles.expected_outputs(tdir, spec["queries"], os.path.join(work, "duckdb"))
    return {"tables_dir": tdir, "queries": spec["queries"], "expected": expected, "input": rows}


def reap(sid: int, timeout: float = 15.0) -> None:
    """Kill every process left in session ``sid`` and wait until all are gone."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = procstat.session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the smoke test")
    args = ap.parse_args()
    started = time.monotonic()

    for need in (ENGINE, os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    host_start = procstat.host_state()
    work = os.path.join(ROOT, ".perfsuite_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = prepare(args.workload, args.seed, work, args.tiny)
    warm = max(1, math.ceil(args.seconds / PASS_S - 1e-9))
    # a traced run makes untraced/traced pairs, at least two (one ABBA block)
    passes = 2 * max(2, warm) if args.trace else warm
    deadline = max(DEADLINE_S, BASE_S + PER_PASS_S * passes)
    spec.update(
        workload=args.workload,
        repo=ROOT,
        work=work,
        warm_passes=warm,
        trace=bool(args.trace),
        all_queries=ALL_QUERIES,
    )
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), spec_path, result_path],
        cwd=ROOT,
        env=child_env(work),
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(10.0, deadline - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        reap(proc.pid)
        proc.wait()
    host_end = procstat.host_state()
    if code != 0 or not os.path.exists(result_path):
        print(f"measured process failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    failed = res["steps_failed"] + sum(run - ok for ok, run in res["checks"].values())
    attempted = res["steps_attempted"]
    e2e = {
        "setup_s": res["session.start_s"] + res["session.warmup_s"],
        "cold_s": res["cold_s"],
        "warm_s": statistics.median(res["warm"]),
        "cpu_s": statistics.median(res["cpu"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "error_rate": failed / attempted,
    }
    if args.trace:
        values = dict(res["layers"], **{k: res[k] for k in ("session.start_s", "session.warmup_s")})
    else:
        values = e2e
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
        "warm_passes": len(res["warm"]),
        "warm_samples_s": res["warm"],
        "input": spec["input"],
        "step_times_s": res["step_times"],
        "checks": res["checks"],
        "failures": [f[:400] for f in res["failures"][:10]],
        "host": {"start": host_start, "end": host_end},
        "wall_s": time.monotonic() - started,
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
