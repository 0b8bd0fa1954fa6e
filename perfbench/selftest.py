#!/usr/bin/env python3
"""Self-test of the benchmark's checks, at the small sf0.001 scale.

    python3 perfbench/selftest.py

1. Each workload, plain: the result is correct, nothing failed, every
   end-to-end metric is present (and every per-layer metric in a traced
   run).
2. Each workload with --plant-fault (one target row corrupted after the
   job; for curate, an eval-set document leaked into the output): the
   checks must catch it, so failed > 0 and ok_rate < 1.
3. A directory holding only BENCHMARK.json and the benchmark's files:
   the benchmark must exit non-zero without printing a result.

Exits non-zero if any expectation fails.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.001"


def bench(args, cwd=ROOT):
    r = subprocess.run(["python3", "perfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=400)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return r.returncode, result


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    failures = []

    def expect(what, ok):
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        base = ["--workload", w, "--seed", "1", "--seconds", "1", "--scale", SCALE]
        code, res = bench(base + ["--trace", "0"])
        expect("%s: plain run correct, 0 failed, all end-to-end metrics" % w,
               code == 0 and res is not None and res["correct"] and res["failed"] == 0
               and res["attempted"] > 0 and set(res["metrics"]) == e2e
               and res["metrics"]["ok_rate"]["value"] == 1.0)
        code, res = bench(base + ["--trace", "1"])
        expect("%s: traced run correct, all per-layer metrics" % w,
               code == 0 and res is not None and res["correct"]
               and set(res["metrics"]) == layers)
        code, res = bench(base + ["--trace", "0", "--plant-fault"])
        expect("%s: planted fault caught (failed > 0, ok_rate < 1)" % w,
               code == 0 and res is not None and not res["correct"] and res["failed"] > 0
               and res["metrics"]["ok_rate"]["value"] < 1.0)

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
    code, res = bench(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                       "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(bare))
    except OSError:
        pass
    expect("bare directory: non-zero exit, no result", code != 0 and res is None)

    print("%d expectation(s) failed" % len(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
