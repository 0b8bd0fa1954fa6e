#!/usr/bin/env python3
"""Benchmark entry point: migrate and curate workloads.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 1 --trace 0

Builds the program and the harness (perfbench/build.py), then runs the
harness JVM (perfbench.Bench) from the checkout root. All inputs are
generated from --seed inside the harness; every scratch directory lives
under .bench_work/ and is removed on exit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

Extra flags (not used by the standard runs): --scale F (TPC-H scale
factor, default 0.002), --plant-fault (corrupt one output after the job,
so the checks must fail), --pin SEEDS (print pinned curate outputs for a
comma-separated seed list, see perfbench/expected.json).
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("migrate", "curate")
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.002)
    ap.add_argument("--plant-fault", action="store_true")
    ap.add_argument("--pin", default="")
    a = ap.parse_args()

    root = build.root_dir()
    jars, archive = build.build()
    build.prefetch(jars + ([archive] if archive else []))
    work = os.path.join(root, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    build.make_work(work)
    cmd = build.java_cmd(
        jars, work, ["-XX:SharedArchiveFile=" + archive] if archive else [],
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--scale", repr(a.scale), "--work", work,
         "--traces", os.path.join(root, ".bench_traces")]
        + (["--plant-fault"] if a.plant_fault else [])
        + (["--pin", a.pin] if a.pin else []))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=None if a.pin else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: harness exceeded %ds\n" % JVM_TIMEOUT_S)
        return 3
    finally:
        build.remove_work(work)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.stderr.write("perfbench: harness exited %d\n" % proc.returncode)
        return 1
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    print(json.dumps(json.loads(lines[-1])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
