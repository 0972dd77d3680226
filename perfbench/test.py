#!/usr/bin/env python3
"""Run the benchmark's own tests (perfbench/src/test), from the repository root:

    python3 perfbench/test.py

They test the checks the workloads rely on: the serial-apply model, the
statement replayer, the corpus property checks and the Bloom model.
Exits non-zero when a test fails.
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    run_dir = os.path.join(run.CACHE, "runs", "test-%d" % os.getpid())
    try:
        return run.run_java("perfbench.SelfTest", [], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
