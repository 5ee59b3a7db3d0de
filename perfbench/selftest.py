#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes.

    python3 perfbench/selftest.py

Run from the repo root. For each workload of BENCHMARK.json it asserts
that:
  * the run exits 0, every output check passes, and every end-to-end
    metric of BENCHMARK.json prints with its unit;
  * the traced run prints every per-layer metric with its unit;
  * a run with one deliberately wrong expected value per output check
    (--corrupt) exits non-zero, reports correct: false, and counts a
    failure for each of its checks.
Last, one run measures for SLOW_SECONDS, longer than a run takes today,
and must still print its metrics: a slower program reports its
regression instead of timing out.
Each run starts a fresh JVM, so the whole test takes about 10 minutes.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
SLOW_SECONDS = 160
# output checks that --corrupt plants a wrong value for
CORRUPTED = {"sync_incremental": 1,  # Drift.diff counts
             "query_mix": 2}  # DuckDB oracle, one-shot dedup of the stream
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, corrupt=False, seconds=1):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "3", "--seconds", str(seconds),
                              "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def expect_metrics(result, specs):
    got = result["metrics"]
    for m in specs:
        assert m["name"] in got, f"metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"unit of {m['name']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"value of {m['name']}"


def main():
    workloads = [w["name"] for w in BENCH["workloads"]]
    failures = []
    for w in workloads:
        for trace, specs in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            rc, res, err = run(w, trace)
            try:
                assert rc == 0, f"exit code {rc}: {err[-2000:]}"
                assert res["correct"] and res["failed"] == 0, "output checks failed"
                assert res["attempted"] >= 1
                expect_metrics(res, specs)
                print(f"PASS {w} trace={trace}")
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
        rc, res, err = run(w, corrupt=True)
        if rc != 0 and res is not None and not res["correct"] and res["failed"] >= CORRUPTED[w]:
            print(f"PASS {w} rejects a wrong expected value")
        else:
            failures.append(f"{w}: a wrong expected value was not detected")
            print(f"FAIL {w}: a wrong expected value was not detected")
    rc, res, err = run("query_mix", seconds=SLOW_SECONDS)
    try:
        assert rc == 0, f"exit code {rc}: {err[-2000:]}"
        expect_metrics(res, BENCH["end_to_end"])
        print(f"PASS a {SLOW_SECONDS} s run prints its metrics")
    except (AssertionError, TypeError) as e:
        failures.append(f"{SLOW_SECONDS} s run: {e}")
        print(f"FAIL {SLOW_SECONDS} s run: {e}")
    print(f"== {len(failures)} failures ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
