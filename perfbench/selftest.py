#!/usr/bin/env python3
"""Build the benchmark and run the checks of its own helpers
(percentiles, interval union, span self time, result digests, and the
metric names declared in BENCHMARK.json):

    python3 perfbench/selftest.py
"""
import sys

import run

if __name__ == "__main__":
    cp = run.build()
    tests = run.compile_scala("bench-test-classes", "perfbench/test", cp)
    sys.exit(run.java(f"{tests}:{cp}", "perfbench.HelpersTest", []))
