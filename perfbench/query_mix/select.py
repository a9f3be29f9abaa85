#!/usr/bin/env python3
"""Print the frozen query_mix list from a `graft.Bench` result file.

    python3 perfbench/query_mix/select.py bench_result.json > perfbench/query_mix/queries.txt

Rule: rank every query by its time in the file (slowest first, name as
tie-break); take the 10 heaviest, then 40 spaced evenly by rank over the
rest (rank i*(n-1)/39, rounded, for i = 0..39).
"""
import json
import os
import sys

HEAVY, SPREAD = 10, 40


def select(times):
    ranked = sorted(times.items(), key=lambda kv: (-kv[1], kv[0]))
    rest = ranked[HEAVY:]
    picks = [rest[round(i * (len(rest) - 1) / (SPREAD - 1))] for i in range(SPREAD)]
    return ranked[:HEAVY] + picks


def main(path):
    with open(path) as f:
        result = json.load(f)
    print(f"# frozen query_mix list, selected by perfbench/query_mix/select.py from {path}")
    print(f"# ({len(result['queries'])} queries at {os.path.basename(result['sf'])}, stamped {result['ts']})")
    for name, secs in select(result["queries"]):
        print(f"{name}  # {secs:.3f} s")


if __name__ == "__main__":
    main(sys.argv[1])
