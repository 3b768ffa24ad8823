"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run gets a private directory under
``.bench_build/perfbench/`` (Spark local dirs, temp files, the native
kernel build, the shard cache, inputs, indexes), removed at the end. The
run itself happens in a child process (``harness.py``) in its own
process group, so the JVM and the Python workers it starts are stopped
with it. Host calibration probes (``bench.host_calibration``) are taken
before and after the child, outside every timed region.

Standard output: one JSON line with the full run report, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 145


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return json.load(fh)


CALIBRATION_TIMEOUT_S = 10


def calibration() -> dict | None:
    """Host weather probes from the repository's bench harness, run in a
    fresh process group: ``bench.host_calibration`` forks a worker pool
    after its own BLAS call, and a forked worker can hang on an inherited
    BLAS lock. A probe that hangs or fails is recorded as None."""
    code = ("import json, bench; "
            "print(json.dumps(bench.host_calibration()))")
    proc = subprocess.Popen([sys.executable, "-c", code], cwd=CHECKOUT,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CALIBRATION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        stop_group(proc)
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None


def stop_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's group and wait until the
    group is empty. By then the child has written its result, failed or
    run out of time, so the JVM and the Python workers it leaves behind
    hold nothing to save, and a graceful stop would only add seconds."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    else:
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the leader, or the group never empties
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    root = os.path.join(CHECKOUT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "scan_cache", "spark-local"):
        os.makedirs(os.path.join(root, sub))
    env = dict(
        os.environ,
        TMPDIR=os.path.join(root, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
        RDS_SCAN_CACHE_DIR=os.path.join(root, "scan_cache"),
        # the Python workers import the engine and the benchmark by name
        PYTHONPATH=os.pathsep.join(
            [CHECKOUT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    out = os.path.join(root, "result.json")
    try:
        calib_pre = calibration()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "harness.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--root", root, "--out", out],
            env=env, cwd=root, stdout=sys.stderr, start_new_session=True,
        )
        # a stop request for this process also stops the child's group
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: sys.exit(1))
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {CHILD_TIMEOUT_S} s, stopped", file=sys.stderr)
            rc = None
        finally:
            stop_group(proc)
        if rc != 0 or not os.path.exists(out):
            print(f"benchmark run failed (exit {rc})", file=sys.stderr)
            return 1
        calib_post = calibration()
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["e2e"]
    if args.trace:
        # a layer the workload never enters reads 0
        values = {m["name"]: 0.0 for m in spec[key]} | values
    metrics = {}
    for m in spec[key]:
        if m["name"] not in values:
            print(f"metric {m['name']} missing", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    report = dict(res["report"], e2e=res["e2e"], layers=res["layers"],
                  failures=res["failures"], host_calibration_pre=calib_pre,
                  host_calibration_post=calib_post)
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
