#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (each closed-loop, one client thread, Spark on local[nproc]):
  ingest     the ingestion facade: a producer thread through EventQueue,
             then a Trigger.AvailableNow stream through StreamingQueueSink
  iterative  5 multi-job contract keys, one per hand-rolled fixpoint loop
  lake       appends, grouped reads, upserts, deletes, compaction and expiry
             on a SnapshotLake table
  analytics  6 single-pass contract keys at sf0.1: the control for a change
             to iterative code. It is not in BENCHMARK.json: a fourth
             workload's 22 runs do not fit the benchmark's time budget.

Run from the repository root. The first run builds the benchmark program in
perfbench/ against the repository's sources with sbt; later runs reuse the build until a
source file changes. Fixture tables are read from $GRAFT_TESTDATA (default
~/testdata), one directory per scale factor.

The last line of stdout is the result: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, every per-layer metric with --trace 1).
The line before it holds the workload's named metrics, the run environment
and the noise markers. The full artifact, with every output check, is written
to .bench_out/. Exits 1 when an output check fails, 2 when the run cannot be
made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
LAUNCH = BENCH / "target" / "launch"
WORKLOADS = ("ingest", "iterative", "lake", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in r.rglob("*") if p.is_file()]
    for r in (ROOT / "project", BENCH / "project"):
        files += [p for p in r.glob("*") if p.is_file()]
    return sorted(files)


def tree_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compiles the benchmark unless the last build saw the same sources."""
    stamp = LAUNCH / "stamp"
    if stamp.exists() and stamp.read_text() == digest and (LAUNCH / "classpath").exists():
        return
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    tmp = ROOT / ".bench_work" / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    out = run_bounded(cmd, BENCH, env, BUILD_TIMEOUT_S, ROOT / ".bench_out" / "build.log")
    if out != 0 or not (LAUNCH / "classpath").exists():
        fail(f"build failed (exit {out}); see .bench_out/build.log")
    stamp.write_text(digest)


def run_bounded(cmd, cwd, env, timeout, log):
    """Runs cmd with output to log; kills its whole process group on timeout."""
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def heap():
    """The test command's SPARK_DRIVER_MEM formula: half of RAM, clamped to 2..8 GiB."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_rev():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(main_args, work):
    opts = [o for o in (LAUNCH / "jvm-options").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java"] + opts + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-XX:-UsePerfData",
             "-cp", (LAUNCH / "classpath").read_text().strip(), "perfbench.Main"]
            + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input sizes")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from a checkout of the repository: its build.sbt and src/ are missing")
    data = Path(os.environ.get("GRAFT_TESTDATA") or Path.home() / "testdata")
    if not data.is_dir():
        fail(f"fixture directory {data} not found (set GRAFT_TESTDATA)")

    digest = tree_digest()
    build(digest)

    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    artifact = out_dir / f"{tag}.json"
    artifact.unlink(missing_ok=True)
    work = ROOT / ".bench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    rev = git_rev()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--cpus", str(cpus),
            "--data", str(data), "--work", str(work), "--out", str(artifact),
            "--spans", str(out_dir / f"{tag}.spans.jsonl"),
            "--expected", str(BENCH / "expected.json"),
            "--source", (f"git:{rev} " if rev else "") + f"tree:{digest[:16]}"]
    try:
        code = run_bounded(java_cmd(args, work), ROOT, dict(os.environ), RUN_TIMEOUT_S,
                           out_dir / f"{tag}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not artifact.exists():
        fail(f"the run produced no result (exit {code}); see .bench_out/{tag}.log")
    res = json.loads(artifact.read_text())
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"workload": a.workload, "named": res["named"], "env": res["env"],
                      "noise": res["noise"],
                      "failed_checks": [c for c in res["checks"] if not c["ok"]]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
