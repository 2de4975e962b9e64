#!/usr/bin/env python3
"""Regenerate perfbench/expected/<scale>.tsv from the current tree.

Usage (from the repository root):
  python3 perfbench/calibrate.py <scale> [--runs 2] [--dump <dir>]

Runs every query of graft.SparkEntry.queries twice per JVM (a warm-up pass,
then a timed pass) in --runs separate JVMs, over perfbench/data/<scale>.
A query keeps its digest only if all 2 x runs digests agree; otherwise, and
for the queries without an oracle (ROWS_ONLY), only the row count is
checked. The per-JVM tables under .bench_build/perfbench also hold each
query's first and second execution latency.

With --dump, the first JVM's timed results are written as Parquet together
with oracle_sql.json, so they can be cross-checked by the DuckDB oracle:
  python3 tools/compare_oracle.py perfbench/data/<scale> <dir>
"""
import argparse
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ROWS_ONLY = {'d2', 'd3', 'r1', 'r3', 'r7'}


def main():
    p = argparse.ArgumentParser()
    p.add_argument('scale', choices=('sf0.1', 'sf0.001'))
    p.add_argument('--runs', type=int, default=2)
    p.add_argument('--dump')
    a = p.parse_args()
    classes = build.build()
    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'data', a.scale)
    outs = []
    for i in range(a.runs):
        work = run.fresh_work(f'work-calibrate-{a.scale}')
        out = os.path.join(build.OUT, f'calibrate-{a.scale}-{i}.tsv')
        args = ['--calibrate', data, '--out', out]
        if a.dump and i == 0:
            args += ['--dump', os.path.abspath(a.dump)]
        subprocess.run(run.jvm(classes, work, args), check=True, env=run.env(work))
        outs.append(out)
    merge(a.scale, outs)


def merge(scale, outs):
    """Fold the per-JVM calibration tables into expected/<scale>.tsv."""
    tables = []
    for out in outs:
        with open(out) as f:
            tables.append({l.split('\t')[0]: l.rstrip('\n').split('\t') for l in f if l.strip()})
    names = sorted(tables[0])
    lines = []
    for n in names:
        rows = {t[n][1] for t in tables}
        digests = {d for t in tables for d in t[n][2:4]}
        errors = [t[n][6] for t in tables if t[n][6] != '-']
        if errors or len(rows) != 1:
            sys.exit(f'calibrate: {n} is not usable: rows {rows} errors {errors}')
        family_id = n.split('_')[0]
        digest = digests.pop() if len(digests) == 1 and family_id not in ROWS_ONLY else '-'
        lines.append(f'{n}\t{rows.pop()}\t{digest}')
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'expected', f'{scale}.tsv')
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, 'w') as f:
        f.write('# query\trows\tdigest (- = row count only)\n')
        f.write('\n'.join(lines) + '\n')
    unstable = [l.split('\t')[0] for l in lines
                if l.split('\t')[2] == '-' and l.split('\t')[0].split('_')[0] not in ROWS_ONLY]
    print(f'{dest}: {len(lines)} queries, row-count only beyond the no-oracle set: {unstable}')


if __name__ == '__main__':
    main()
