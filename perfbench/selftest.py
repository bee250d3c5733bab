#!/usr/bin/env python3
"""Self-test of the benchmark, at toy sizes.

Usage, from the root of a checkout:  python3 perfbench/selftest.py

Checks that:
  - every workload passes its output checks untraced and traced, and prints
    every metric BENCHMARK.json names, with its unit;
  - a corrupted reference fingerprint is reported as a failed, incorrect run;
  - without the library's sources (a directory holding only BENCHMARK.json
    and perfbench/) the benchmark exits non-zero and prints no result.
Exits non-zero on the first problem.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p


def expect(cond, what, detail=""):
    if not cond:
        sys.exit(f"selftest FAILED: {what}\n{detail}")
    print(f"ok: {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [w["name"] for w in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, p = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"])
            expect(code == 0 and res is not None, f"{w} trace={trace} exits 0 with a result", p.stderr[-2000:])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace} result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} passes its output checks")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {key} metric with its unit")

    code, res, _ = run(["--workload", "curate", "--seed", "7", "--seconds", "1", "--trace", "0", "--tiny",
                        "--corrupt-fingerprint"])
    expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           "a corrupted fingerprint is reported as a failure")

    bare = os.path.join(HERE, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("target", "work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, _, p = run(["--workload", "pit_job", "--seed", "7", "--seconds", "1", "--trace", "0"], cwd=bare)
        expect(code != 0 and not p.stdout.strip(), "without the library's sources it exits non-zero, printing nothing")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
