#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py [workload ...]

For each workload, runs one short measurement with --corrupt 1, which
tampers with one recorded output before the checks, and asserts that the
run reports correct=false with at least one failed operation and exits
non-zero. It also asserts that the benchmark refuses to run, without
printing a result, in a directory holding only BENCHMARK.json and
perfbench/. Run from the root of a graft checkout.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def corrupted_run_is_caught(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt", "1"],
                       capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    res = json.loads(last) if last.startswith("{") else {}
    ok = p.returncode != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
    print(f"{'ok ' if ok else 'BAD'} {workload}: corrupted output -> exit {p.returncode}, "
          f"correct={res.get('correct')}, failed={res.get('failed')}")
    if not ok:
        sys.stderr.write(p.stderr[-2000:])
    return ok


def refuses_without_sources():
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".selftest-") as d:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        if os.path.isfile("BENCHMARK.json"):
            shutil.copy("BENCHMARK.json", d)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
    ok = p.returncode != 0 and not p.stdout.strip()
    print(f"{'ok ' if ok else 'BAD'} bare directory: exit {p.returncode}, "
          f"stdout {'empty' if not p.stdout.strip() else 'not empty'}")
    return ok


def main():
    workloads = sys.argv[1:] or list(WORKLOADS)
    results = [refuses_without_sources()] + [corrupted_run_is_caught(w) for w in workloads]
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
