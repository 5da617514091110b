#!/usr/bin/env python3
"""Summarize a ScalaTest run from sbt's JUnit XML reports
(`target/test-reports/TEST-*.xml`, one file per suite).

Prints the suites and tests that passed or failed, the name of every
failed test (`<suite>::<test>`) and the 10 slowest tests.

  --reports <dir>   the reports to read (default: target/test-reports
                    of this checkout)
  --against <dir>   compare with another run: <dir> is a reports
                    directory, or a checkout holding target/test-reports.
                    Lists every test that passed there but failed or is
                    missing here, and exits 1 if there is any.
  --removed <suite::test>
                    with --against, a test deleted on purpose (repeat
                    the option for each). It must be absent here, and is
                    then not counted as lost; a named test that still
                    runs here is listed and exits 1.

Usage: python3 scripts/tier1_report.py [--reports <dir>]
         [--against <dir> [--removed <suite::test>]...]
Exit status: 0, or 1 when --against finds a test that no longer passes
or a --removed test that is still present.
"""
import argparse, glob, os, sys
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def reports_dir(path):
    nested = os.path.join(path, "target", "test-reports")
    return nested if os.path.isdir(nested) else path


def read_run(path):
    """{suite: suite-level error count} and {`suite::test`: (passed, seconds)}."""
    files = sorted(glob.glob(os.path.join(path, "TEST-*.xml")))
    if not files:
        sys.exit(f"no TEST-*.xml reports under {path}")
    suites, tests = {}, {}
    for f in files:
        root = ET.parse(f).getroot()
        name = root.get("name")
        suites[name] = 0
        for case in root.iter("testcase"):
            key = f"{case.get('classname') or name}::{case.get('name')}"
            failed = case.find("failure") is not None or case.find("error") is not None
            if case.find("skipped") is not None:
                continue
            tests[key] = (not failed, float(case.get("time") or 0))
            suites[name] += failed
        # an aborted suite reports an error without a failed testcase
        if int(root.get("errors") or 0) and not suites[name]:
            suites[name] = 1
    return suites, tests


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--reports", default=os.path.join(REPO, "target", "test-reports"))
    ap.add_argument("--against")
    ap.add_argument("--removed", action="append", default=[])
    args = ap.parse_args()
    if args.removed and not args.against:
        ap.error("--removed needs --against")

    suites, tests = read_run(reports_dir(args.reports))
    failed = sorted(k for k, (ok, _) in tests.items() if not ok)
    bad_suites = sum(1 for n in suites.values() if n)
    print(f"suites: {len(suites)} ({len(suites) - bad_suites} passed, {bad_suites} with failures)")
    print(f"tests:  {len(tests)} ({len(tests) - len(failed)} passed, {len(failed)} failed)")
    if failed:
        print("failed:")
        for k in failed:
            print(f"  {k}")
    print("slowest:")
    for k, (_, secs) in sorted(tests.items(), key=lambda kv: -kv[1][1])[:10]:
        print(f"  {secs:8.1f}s  {k}")

    if args.against:
        _, before = read_run(reports_dir(args.against))
        removed = set(args.removed)
        lost = sorted(k for k, (ok, _) in before.items()
                      if ok and k not in removed and not tests.get(k, (False, 0))[0])
        print(f"passed in {args.against} but not here: {len(lost)}")
        for k in lost:
            print(f"  {k}{'' if k in tests else '  (missing)'}")
        present = sorted(removed & tests.keys())
        if removed:
            print(f"removed on purpose: {len(removed)}, still present here: {len(present)}")
            for k in present:
                print(f"  {k}")
        return 1 if lost or present else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
