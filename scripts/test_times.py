#!/usr/bin/env python3
"""Print each test suite's wall time from sbt's JUnit XML reports,
slowest first, with the total.

Usage: python3 scripts/test_times.py [reports_dir]   (default target/test-reports)

sbt writes one TEST-<suite>.xml per suite after `sbt test` or
`sbt testOnly ...`; each <testsuite> element carries the suite's
wall time (`time`, seconds) and its test, failure and error counts.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports_dir):
    """(name, seconds, tests, failed) per report, slowest first."""
    rows = []
    for path in glob.glob(os.path.join(reports_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        for ts in [root] if root.tag == "testsuite" else root.iter("testsuite"):
            failed = int(ts.get("failures", 0)) + int(ts.get("errors", 0))
            rows.append((ts.get("name"), float(ts.get("time", 0)),
                         int(ts.get("tests", 0)), failed))
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def main(argv):
    reports_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    rows = suites(reports_dir)
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {reports_dir}")
    width = max(len(r[0]) for r in rows)
    print(f"{'suite':<{width}}  {'seconds':>8}  {'tests':>5}  {'failed':>6}")
    for name, secs, tests, failed in rows:
        print(f"{name:<{width}}  {secs:8.1f}  {tests:5d}  {failed:6d}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):8.1f}  "
          f"{sum(r[2] for r in rows):5d}  {sum(r[3] for r in rows):6d}")


if __name__ == "__main__":
    main(sys.argv)
