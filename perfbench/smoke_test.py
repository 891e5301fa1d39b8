#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke_test.py

Run from the repository root. For every workload it runs one untraced and
one traced smoke run and checks that exactly the metrics BENCHMARK.json
names are printed, each with its unit, that the result is correct and that
nothing failed.
It then runs one workload with every expected digest falsified and checks
that the mismatches are reported as failures. Exits non-zero on the first
violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(label, result, expected):
    got = result["metrics"]
    if set(got) != {m["name"] for m in expected}:
        sys.exit(f"FAIL {label}: metric names {sorted(got)} != {sorted(m['name'] for m in expected)}")
    for m in expected:
        v = got[m["name"]]
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            sys.exit(f"FAIL {label}: {m['name']} printed as {v}, want a number in {m['unit']}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, names in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            label = f"{w} trace={trace}"
            r = run(w, trace)
            check_metrics(label, r, names)
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                sys.exit(f"FAIL {label}: correct={r['correct']} attempted={r['attempted']} "
                         f"failed={r['failed']}")
            print(f"ok   {label}: {len(names)} metrics, {r['attempted']} ops verified")
    w = bench["workloads"][0]["name"]
    r = run(w, 0, "--corrupt-expected")
    if r["correct"] or r["failed"] == 0:
        sys.exit(f"FAIL {w}: a corrupted expected digest was not reported ({r})")
    print(f"ok   {w} corrupted digests: {r['failed']} of {r['attempted']} ops reported failed")


if __name__ == "__main__":
    main()
