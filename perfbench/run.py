#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload per invocation.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark harness from source (perfbench/build.py,
cached under .bench_build/), runs the workload in one JVM at local[nproc],
checks its outputs, and prints one JSON object as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see perfbench/README.md).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

WORKLOADS = ("monthly_load", "bi_reporting", "stream_ingest")
JVM_TIMEOUT_S = 170
CHECK_TIMEOUT_S = 120


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def data_dir():
    """sf0.1 fixture directory: SPARK_GRAFT_SF_DIR (the engine's own
    convention), else testdata/sf0.1 under the home directory."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.exists(os.path.join(d, "orders.parquet")):
        raise SystemExit(f"fixture directory {d} has no orders.parquet")
    return d


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except OSError:
        return ""


def run_jvm(root, classpath, tmp, args, timeout):
    cmd = ["java"] + build.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                       classpath,
                                       "graftbench.PerfBench"] + args
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def oracle_check(root, dump, sf):
    """Hash-compare the BI dump with its DuckDB oracles via tools/check.py.
    Returns (ok, failed) query counts."""
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), dump, sf],
        cwd=root, capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
    for line in out.stdout.splitlines():
        if line.startswith("FAIL"):
            log(f"oracle: {line}")
    m = re.search(r"(\d+) ok, (\d+) failed", out.stdout)
    if not m:
        log(f"tools/check.py gave no summary: {out.stderr[-500:]}")
        return 0, 1
    return int(m.group(1)), int(m.group(2))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    sf = data_dir()
    work = os.path.join(build.out_dir(root), "runs",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    try:
        t0 = time.time()
        rc = run_jvm(root, classpath, tmp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--data", sf, "--scratch", work,
            "--result", result_file,
            "--records", os.path.join(build.out_dir(root), "records"),
            "--source-digest", build.source_digest(root),
            "--commit", git_commit(root) or "none"], JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result_file):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result_file) as f:
            res = json.load(f)
        dump = res.pop("oracle_dump", None)
        if dump:
            ok, bad = oracle_check(root, dump, sf)
            log(f"oracle check: {ok} ok, {bad} failed")
            if bad or ok != res.pop("oracle_expected"):
                res["correct"] = False
                res["failed"] += max(bad, 1)
        res.pop("oracle_expected", None)
        log(f"run took {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
