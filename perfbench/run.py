#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (see
build.py), then runs the workload in one JVM. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["migrate", "curate_corpus"]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        return 2

    try:
        p = build.run_jvm(cp, build.archive_flag(),
                          ["graft.perfbench.Main", "--root", build.ROOT,
                           "--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", a.trace],
                          timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        sys.stderr.write(f"[perfbench] run exceeded {e.timeout}s; killed\n")
        return 3

    lines = p.stdout.rstrip("\n").split("\n") if p.stdout.strip() else []
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    shown = [l for l in lines[:-1] if l.startswith("[perfbench]")]
    if not (p.returncode == 0 and isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}):
        sys.stderr.write("\n".join(shown + [p.stderr[-6000:]]) + "\n")
        sys.stderr.write(f"[perfbench] run failed (exit {p.returncode})\n")
        return 1
    print("\n".join(shown))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
