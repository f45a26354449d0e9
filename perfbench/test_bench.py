#!/usr/bin/env python3
"""The benchmark's own test. Run from the repository root:

    python3 perfbench/test_bench.py

1. Runs with --inject-fault corrupt one output of each kind: a KPI result
   row (kpi_10k), a fact row loaded twice (etl_daily_10k), and a live-state
   row stored twice (the GPS feed of a traced kpi_10k run). Each must end
   with exit code 1, "correct": false, and a failed check of that kind.
2. In a directory holding only BENCHMARK.json and the benchmark's files,
   the command must fail fast with a non-zero exit code and print no
   result line.
"""
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace=0, extra=()):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    t = time.time()
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return p, time.time() - t


def json_lines(stdout):
    return [json.loads(line) for line in stdout.strip().splitlines() if line.startswith("{")]


# (workload, trace, prefix of the check the injected fault must fail)
FAULTS = [("kpi_10k", 0, "kpi."), ("etl_daily_10k", 0, "etl."), ("kpi_10k", 1, "rt.state")]


def main():
    failures = []
    for w, trace, prefix in FAULTS:
        p, secs = run(ROOT, w, trace, ["--inject-fault"])
        lines = json_lines(p.stdout)
        res = lines[-1] if lines else None
        failed = [c["name"] for c in lines[-2]["failed_checks"]] if len(lines) > 1 else []
        ok = p.returncode == 1 and res is not None and res["correct"] is False and \
            any(n.startswith(prefix) for n in failed)
        print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace}: injected fault -> exit "
              f"{p.returncode}, failed checks {failed} ({secs:.0f} s)")
        if not ok:
            failures.append(w)
            sys.stderr.write(p.stderr[-2000:])

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p, secs = run(bare, FAULTS[0][0])
    printed = bool(json_lines(p.stdout))
    ok = p.returncode != 0 and not printed and secs < 180
    print(f"{'ok  ' if ok else 'FAIL'} bare directory -> exit {p.returncode}, "
          f"result printed: {printed} ({secs:.1f} s)")
    if not ok:
        failures.append("bare")
    shutil.rmtree(bare, ignore_errors=True)

    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
