#!/usr/bin/env python3
"""Summed suite time and test count of a JUnit XML report directory.

Usage:
  python3 tools/suite_times.py [reports-dir] [--top N]

Reads every `TEST-*.xml` under reports-dir (default `target/test-reports`,
where sbt writes one file per suite) and sums each `<testsuite>`'s `time`
and `tests` attributes per package and per suite. Prints the total, every
package, and the N slowest suites (default 15). Suites run in parallel in
one JVM, so the summed time is not wall time: it is the time each suite
held, which is what deleting or speeding up a suite changes. Run it on
two report directories (say, a parent commit's and a change's) to see
where the summed time moved. sbt never deletes the report of a suite
that no longer exists, so empty the directory before the test run.
"""
import argparse
import collections
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports_dir):
    """{suite name: (seconds, tests)} from the directory's JUnit files."""
    out = {}
    files = sorted(glob.glob(os.path.join(reports_dir, 'TEST-*.xml')))
    if not files:
        sys.exit(f'suite_times: no TEST-*.xml under {reports_dir}')
    for path in files:
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == 'testsuite' else root.iter('testsuite')):
            out[s.get('name')] = (float(s.get('time') or 0.0), int(s.get('tests') or 0))
    return out


def package(suite):
    return suite.rsplit('.', 1)[0] if '.' in suite else '(root)'


def by_package(ss):
    acc = collections.defaultdict(lambda: [0.0, 0])
    for name, (t, n) in ss.items():
        a = acc[package(name)]
        a[0] += t
        a[1] += n
    return acc


def line(label, t, n):
    return f'  {t:9.1f} s {n:5d} tests  {label}'


def main():
    p = argparse.ArgumentParser()
    p.add_argument('reports', nargs='?', default='target/test-reports')
    p.add_argument('--top', type=int, default=15)
    a = p.parse_args()

    ss = suites(a.reports)
    print(f'{len(ss)} suites in {a.reports}')
    print(line('total', sum(t for t, _ in ss.values()), sum(n for _, n in ss.values())))

    print('\nper package:')
    for name, (t, n) in sorted(by_package(ss).items(), key=lambda kv: -kv[1][0]):
        print(line(name, t, n))

    print(f'\ntop {a.top} suites:')
    for name, (t, n) in sorted(ss.items(), key=lambda kv: -kv[1][0])[:a.top]:
        print(line(name, t, n))


if __name__ == '__main__':
    main()
