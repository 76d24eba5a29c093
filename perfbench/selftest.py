#!/usr/bin/env python3
"""Self-test of the benchmark, at the smallest size (two small batches).

Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that:
- every workload, untraced and traced, passes its output checks and prints
  every metric of BENCHMARK.json with the unit BENCHMARK.json gives;
- a deliberately wrong expected count fails the output check (exit 1,
  "correct": false);
- in a directory holding only BENCHMARK.json and the benchmark, the
  benchmark exits non-zero without printing a result.
Exits 0 when all hold.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(os.path.relpath(BENCH, ROOT), "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(["--workload", w, "--seed", "7", "--seconds", "1",
                                "--trace", str(trace), "--tiny"])
            tag = f"{w} trace={trace}"
            expect(rc == 0 and res is not None and res["correct"],
                   f"{tag}: runs and passes its output checks" + ("" if rc == 0 else f"\n{err[-2000:]}"))
            if res is None:
                continue
            expect(res["failed"] == 0 and res["attempted"] >= 2, f"{tag}: no failed batch")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{tag}: prints {m['name']} in {m['unit']}")

    w = spec["workloads"][0]["name"]
    rc, res, _ = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0",
                      "--tiny", "--corrupt-expected"])
    expect(rc == 1 and res is not None and res["correct"] is False,
           "a wrong expected count fails the output check")

    bare = os.path.join(BENCH, "target", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, os.path.basename(BENCH)),
                    ignore=shutil.ignore_patterns("target"))
    rc, res, _ = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "without the program's sources: exits non-zero, prints no result")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
