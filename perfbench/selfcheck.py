#!/usr/bin/env python3
"""Harness self-check at tiny scale.

    python3 perfbench/selfcheck.py [--seconds 20]

Runs every workload at the `tiny` scale, untraced and traced, and checks:
  - the run is correct and every metric is emitted by name with its unit;
  - per op, the union of Spark job intervals fits in the op's wall time and
    `exec.driver_gap_s` is not negative;
  - Memo builds happen on every curate_fresh op and never in the
    analytics_warm timed window;
  - lake_churn completes at least three compact + vacuum cycles, and its live
    file count and bytes stored per live byte stop growing across them.
Exits non-zero and names each failed check.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def one(workload, trace, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", str(seconds), "--trace", str(trace),
                        "--scale", "tiny"], capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return None, None, p.stderr[-3000:]
    return json.loads(lines[-2])["detail"], json.loads(lines[-1]), None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()
    spec = bench_spec()
    failures = []

    def check(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in run.WORKLOADS:
        for trace in (0, 1):
            detail, final, err = one(w, trace, a.seconds)
            tag = f"{w} trace={trace}"
            if final is None:
                check(False, f"{tag}: run failed\n{err}")
                continue
            check(final["correct"] and final["failed"] == 0 and final["attempted"] > 0,
                  f"{tag}: correct, {final['attempted']} attempted, {final['failed']} failed")
            want = spec["per_layer"] if trace else spec["end_to_end"]
            got = final["metrics"]
            check(all(m["name"] in got and got[m["name"]]["unit"] == m["unit"] for m in want) and
                  len(got) == len(want), f"{tag}: every metric emitted with its unit")
            if not trace:
                continue
            sc = detail["selfcheck"]
            check(sc["job_union_within_op"], f"{tag}: job-interval union <= op wall time")
            check(sc["driver_gap_nonnegative"], f"{tag}: exec.driver_gap_s >= 0")
            if w == "curate_fresh":
                check(sc["memo_builds_every_op"], f"{tag}: memo.builds > 0 on every op")
            if w == "analytics_warm":
                check(sc["memo_builds_zero_in_window"], f"{tag}: memo.builds = 0 in the window")
            if w == "lake_churn":
                check(sc["maintenance_cycles"] >= 3,
                      f"{tag}: {sc['maintenance_cycles']} compact + vacuum cycles (>= 3)")
                check(sc["live_files_level"],
                      f"{tag}: lake.live_files levels off {sc['live_files_by_cycle']}")
                check(sc["bytes_ratio_level"],
                      f"{tag}: bytes_stored_per_live_byte levels off {sc['bytes_ratio_by_cycle']}")
    print(f"\n{len(failures)} check(s) failed" if failures else "\nall checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
