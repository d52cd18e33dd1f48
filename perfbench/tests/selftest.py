#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/tests/selftest.py

Builds like run.py, then checks that the input generator is
byte-deterministic per seed and that every output check fails on a
deliberately corrupted output (one row dropped, one vector bit flipped,
one planted duplicate kept). Exits non-zero on any failure.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402


def main():
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"[selftest] build failed: {e}\n")
        return 2
    p = build.run_jvm(cp, build.archive_flag(), ["graft.perfbench.SelfTest", build.ROOT],
                      timeout=600, capture=False)
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
