#!/usr/bin/env python3
"""Self-test of the graft benchmark on the bundled sf0.001 dataset.

Usage (from the root of a checkout):

    python3 perfbench/selftest.py

Checks, each through perfbench/run.py:
  1. every workload (including analytics_concurrent, the 4-client one)
     completes with zero failures and prints every end-to-end metric of
     BENCHMARK.json with its unit;
  2. a traced run prints every per-layer metric with its unit;
  3. a corrupted pinned hash is reported as a failure (correct=false).
Takes about five minutes; exits non-zero on the first broken check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["catalogue_enrich", "corpus_heavy", "analytics_concurrent"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--data", "sf0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace} {extra}: exit code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(result, declared, what):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        sys.exit(f"FAIL {what}: metrics {sorted(got.items())} != declared {sorted(want.items())}")
    bad = [k for k, v in result["metrics"].items() if not isinstance(v["value"], (int, float))]
    if bad:
        sys.exit(f"FAIL {what}: non-numeric values for {bad}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in WORKLOADS:
        r = run(w, 0)
        if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
            sys.exit(f"FAIL {w}: {r['failed']} of {r['attempted']} executions failed")
        expect_metrics(r, bench["end_to_end"], w)
        print(f"ok   {w}: {r['attempted']} executions, 0 failed, end-to-end metrics complete")
    r = run("catalogue_enrich", 1)
    if not r["correct"]:
        sys.exit("FAIL traced run reported failures")
    expect_metrics(r, bench["per_layer"], "traced catalogue_enrich")
    print("ok   traced run: per-layer metrics complete")
    r = run("catalogue_enrich", 0, "--corrupt", "word_count")
    if r["correct"] or r["failed"] < 1:
        sys.exit("FAIL a corrupted pinned hash was not reported")
    print(f"ok   corrupted pin reported: {r['failed']} failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
