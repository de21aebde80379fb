#!/usr/bin/env python3
"""Print a per-suite table of test seconds and test counts from the JUnit
XML reports sbt writes after a test run.

Usage:
  python3 tools/suite_times.py [REPORT_DIR] [--top N]

REPORT_DIR defaults to target/test-reports. Rows sort by seconds,
largest first; --top keeps the first N rows (the total row always
covers every suite). The table is markdown, ready to paste.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    """(name, seconds, tests, failed) per TEST-*.xml in report_dir."""
    rows = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        s = ET.parse(path).getroot()
        failed = int(s.get("failures", 0)) + int(s.get("errors", 0))
        rows.append((s.get("name"), float(s.get("time", 0)),
                     int(s.get("tests", 0)), failed))
    return rows


def table(rows, top=None):
    rows = sorted(rows, key=lambda r: -r[1])
    out = ["| Suite | Seconds | Tests | Failed |", "|---|---:|---:|---:|"]
    for name, secs, tests, failed in rows[:top]:
        out.append(f"| {name} | {secs:,.1f} | {tests} | {failed} |")
    out.append(f"| **all {len(rows)} suites** | {sum(r[1] for r in rows):,.1f} "
               f"| {sum(r[2] for r in rows)} | {sum(r[3] for r in rows)} |")
    return "\n".join(out)


def main(argv):
    top = None
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    report_dir = argv[0] if argv else "target/test-reports"
    rows = suites(report_dir)
    if not rows:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    print(table(rows, top))


if __name__ == "__main__":
    main(sys.argv[1:])
