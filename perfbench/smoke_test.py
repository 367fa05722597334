#!/usr/bin/env python3
"""Smoke test of the benchmark itself (about five minutes).

    python3 perfbench/smoke_test.py

Runs every workload of run.py at its small size, untraced and traced,
and checks that the last line is the result object with every metric
BENCHMARK.json declares, each with its declared unit; that a wrong
expected output digest is counted as a failed operation with a nonzero
exit; and that a directory holding only BENCHMARK.json and the benchmark
files exits nonzero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the workload list lives there)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
failures = []


def bench(workload, trace, *extra, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "small", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except ValueError:
        last = None
    return p, last


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


for w in sorted(run.SIZES):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p, res = bench(w, trace)
        tag = f"{w} trace={trace}"
        expect(p.returncode == 0 and res is not None and res.get("correct") is True,
               f"{tag}: exits 0 with a correct result (rc={p.returncode})")
        if res is None:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            continue
        expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
               f"{tag}: result has exactly correct/attempted/failed/metrics")
        expect(res["attempted"] >= 1 and res["failed"] == 0, f"{tag}: attempted >= 1, none failed")
        for m in SPEC[key]:
            got = res["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"]
                   and isinstance(got["value"], (int, float)),
                   f"{tag}: {m['name']} printed in {m['unit']}")

p, res = bench("crawl_warc", 0, "--expect-digest", "1")
expect(p.returncode != 0, "wrong expected digest: nonzero exit")
expect(res is not None and res["correct"] is False and res["failed"] >= 1
       and res["failed"] == res["attempted"],
       "wrong expected digest: every timed operation counted as failed")

bare = os.path.join(run.WORK, "smoke-bare")
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                ignore=shutil.ignore_patterns(".work", "target", "project/project", "__pycache__"))
p, res = bench("crawl_warc", 0, cwd=bare)
expect(p.returncode != 0 and res is None, "bare directory: nonzero exit, no result printed")
shutil.rmtree(bare, ignore_errors=True)

print(f"\n{len(failures)} failure(s)")
sys.exit(1 if failures else 0)
