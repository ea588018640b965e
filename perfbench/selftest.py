#!/usr/bin/env python3
"""Self-test of the benchmark: short runs at sf0.001.

    python3 perfbench/selftest.py

For every workload of BENCHMARK.json it runs a few seconds untraced and
traced, and checks that each run passes its gates and prints exactly the
metrics BENCHMARK.json names, each with its unit. It then plants a wrong
expected result in each workload (one library-path reply in serve_hot,
one acknowledged count in ingest_mixed, one expected hash in suite) and
checks that each of those runs fails. Exits non-zero when any check
fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "3",
           "--trace", str(trace), "--sf", "0.001", "--min-reads", "1",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            rc, res = run(w, trace)
            tag = f"{w} trace={trace}"
            if rc != 0 or res is None or res["correct"] is not True:
                problems.append(f"{tag}: exit {rc}, result {res}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expect[trace]:
                missing = sorted(set(expect[trace]) - set(got))
                extra = sorted(set(got) - set(expect[trace]))
                wrong = sorted(k for k in got.keys() & expect[trace].keys()
                               if got[k] != expect[trace][k])
                problems.append(f"{tag}: missing {missing}, unexpected "
                                f"{extra}, wrong units {wrong}")
            print(f"ok  {tag}: {len(got)} metrics, "
                  f"{res['attempted']} operations", flush=True)
    for w in workloads:
        rc, res = run(w, 0, "--plant-mismatch")
        if rc == 0 or res is None or res["correct"] is not False:
            problems.append(f"{w}: a planted mismatch did not fail the run "
                            f"(exit {rc}, result {res})")
        else:
            print(f"ok  {w}: planted mismatch fails the run (exit {rc})",
                  flush=True)
    for p in problems:
        print(f"FAIL {p}", flush=True)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
