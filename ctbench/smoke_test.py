#!/usr/bin/env python3
"""The benchmark's own test: every workload at a tiny size, untraced and
traced, must pass every correctness gate and print exactly the metrics
BENCHMARK.json names, with their units. A checkout holding only
BENCHMARK.json and ctbench/ must make the benchmark exit non-zero without
a result.

    python3 ctbench/smoke_test.py      # from the repository root
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    cmd = [sys.executable, "ctbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(ROOT, w, trace)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append("%s trace=%d: exit %d\n%s" % (w, trace, r.returncode, r.stderr[-2000:]))
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append("%s trace=%d: result keys %s" % (w, trace, sorted(res)))
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append("%s trace=%d: gates failed %d of %d\n%s"
                                % (w, trace, res["failed"], res["attempted"], r.stderr[-2000:]))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append("%s trace=%d: metrics differ: missing %s, extra %s, units %s"
                                % (w, trace, sorted(set(want) - set(got)), sorted(set(got) - set(want)),
                                   sorted(k for k in want if k in got and got[k] != want[k])))
            bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append("%s trace=%d: non-numeric values %s" % (w, trace, bad))
            print("ok  %-8s trace=%d  %d metrics, %d checks" % (w, trace, len(got), res["attempted"]))

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "ctbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
    r = run(bare, "serve", 0)
    shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or r.stdout.strip().startswith("{"):
        problems.append("a checkout without the repository's sources did not fail")
    else:
        print("ok  bare checkout exits %d without a result" % r.returncode)

    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
