#!/usr/bin/env python3
"""Self-test of the benchmark command, at tiny input sizes.

    python3 perfbench/selftest.py        # from the root of a checkout

1. Each workload in BENCHMARK.json, untraced: exit 0, correct, and every
   end_to_end metric of BENCHMARK.json printed with its unit.
2. One traced run: every per_layer metric printed with its unit.
3. A forced failing operation (--fail-op q3 on batch_daily): the run exits
   non-zero, reports correct=false and failed >= 1, and the iteration that
   held the failure is left out of the timed samples.

Tiny sizes change what is measured; these runs check the command, not
performance. Exit code 0 when every assertion holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.05", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    return bool(cond)


def printed(result, specs):
    got = (result or {}).get("metrics", {})
    return [s["name"] for s in specs
            if s["name"] not in got or got[s["name"]]["unit"] != s["unit"]
            or not isinstance(got[s["name"]]["value"], (int, float))]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in bench["workloads"]:
        code, res, err = run(w["name"], 0)
        ok &= expect(code == 0 and res and res["correct"],
                     f"{w['name']}: untraced run exits 0 and is correct")
        missing = printed(res, bench["end_to_end"])
        ok &= expect(not missing, f"{w['name']}: every end_to_end metric "
                     f"printed with its unit {missing or ''}")
        if code != 0:
            sys.stderr.write(err[-3000:])
    code, res, err = run(bench["workloads"][0]["name"], 1)
    missing = printed(res, bench["per_layer"])
    ok &= expect(code == 0 and not missing, "traced run prints every "
                 f"per_layer metric with its unit {missing or ''}")
    if code != 0:
        sys.stderr.write(err[-3000:])
    code, res, _ = run("batch_daily", 0, "--fail-op", "q3")
    ok &= expect(code != 0 and res and not res["correct"]
                 and res["failed"] >= 1 and res["attempted"] > res["failed"],
                 "forced failure: non-zero exit, correct=false, counted in "
                 f"failed/attempted ({res and res['failed']}/"
                 f"{res and res['attempted']})")
    with open(os.path.join(ROOT, ".bench_out",
                           "batch_daily-seed7-trace0.json")) as f:
        jvm = json.load(f)["jvm"]
    ok &= expect(len(jvm["wall_samples"]) == jvm["iterations"] - 1,
                 "forced failure: its iteration is not among the timed "
                 f"samples ({len(jvm['wall_samples'])} of "
                 f"{jvm['iterations']} iterations timed)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
