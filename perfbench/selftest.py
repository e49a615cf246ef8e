#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at the tiny scale (sf0.001, a
few thousand events), once untraced and once traced.

    python3 perfbench/selftest.py

Fails when a run exits non-zero, an output check fails, a metric that
BENCHMARK.json names is missing or has another unit, a workload's named
metric is missing, or a traced run leaves its own layer's metrics at 0.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
COMMON = ["setup_s", "error_rate", "peak_rss_mb"]
NAMED = {
    "ingest": ["events_per_s", "enqueue_p50_us", "enqueue_p99_us", "stream_events_per_s",
               "stream_batch_p50_ms", "stream_batch_p90_ms"],
    "iterative": ["query_s"],
    "analytics": ["query_s"],
    "lake": ["commit_p50_ms", "commit_p90_ms", "read_p50_ms", "read_p90_ms", "mutate_p50_ms"],
}
# per-layer metrics a traced run of the workload must report as non-zero
OWN_LAYERS = {
    "ingest": ("queue.", "stream."),
    "iterative": ("ops.",),
    "analytics": ("ops.build_s", "ops.build_jobs", "ops.plan_s", "ops.exec_s"),
    "lake": ("lake.",),
}


def run(workload, trace):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny"], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return [f"exit {p.returncode}: {p.stderr.strip()[-500:]}"], None, None
    return [], json.loads(lines[-2]), json.loads(lines[-1])


def check(workload, trace, spec):
    errors, info, res = run(workload, trace)
    if res is None:
        return errors
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"correct={res.get('correct')} failed={res.get('failed')} "
                      f"attempted={res.get('attempted')} {info.get('failed_checks')}")
    want = spec["end_to_end"] if trace == 0 else spec["per_layer"]
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        errors.append(f"metric names differ from BENCHMARK.json: "
                      f"{sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        v = got.get(m["name"])
        if not isinstance(v, dict) or v.get("unit") != m["unit"] or \
                not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
            errors.append(f"{m['name']}: {v}")
    if trace == 0:
        for name in COMMON + NAMED[workload]:
            n = info["named"].get(name)
            if not n or not n.get("unit") or not isinstance(n.get("value"), (int, float)):
                errors.append(f"named metric {name}: {n}")
    else:
        for name, v in got.items():
            if name.startswith(OWN_LAYERS[workload]) and v.get("value") == 0:
                errors.append(f"{name} is 0 on {workload}")
    return errors


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = 0
    for workload in NAMED:
        for trace in (0, 1):
            errors = check(workload, trace, spec)
            print(f"{'FAIL' if errors else 'ok  '} {workload} trace={trace}")
            for e in errors:
                print(f"     {e}")
            failures += bool(errors)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
