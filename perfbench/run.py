#!/usr/bin/env python3
"""Benchmark launcher.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py, cached), then runs
one JVM that measures the workload for --seconds and prints, as its last
stdout line, {"correct", "attempted", "failed", "metrics"}. Everything the
run writes stays under .bench_build/perfbench. See perfbench/NOTES.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ('surface_sf01', 'surface_sf0001', 'medical_dag')
HEAP = '4g'
JVM_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]


def jvm(classes, work, args):
    """Command line for the harness JVM; temp files land under `work`."""
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    bench = os.path.dirname(os.path.abspath(__file__))
    return (['java', f'-Xmx{HEAP}', '-Duser.timezone=UTC', f'-Djava.io.tmpdir={tmp}',
             '-Dspark.ui.enabled=false',
             '-Dlog4j2.configurationFile=' + os.path.join(bench, 'log4j2.properties')]
            + ADD_OPENS
            + ['-cp', classes + os.pathsep + build.spark_jars(), 'perfbench.Main',
               '--bench', bench, '--work', work] + args)


def env(work):
    """Child environment: Spark's scratch space under `work`."""
    e = dict(os.environ)
    e['SPARK_LOCAL_DIRS'] = os.path.join(work, 'local')
    return e


def fresh_work(name='work'):
    work = os.path.join(build.OUT, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def main():
    p = argparse.ArgumentParser()
    p.add_argument('--workload', required=True, choices=WORKLOADS)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=int, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    classes = build.build()
    work = fresh_work()
    launched = int(time.time() * 1000)
    proc = subprocess.Popen(
        jvm(classes, work, ['--workload', a.workload, '--seed', str(a.seed),
                            '--seconds', str(a.seconds), '--trace', str(a.trace),
                            '--launched', str(launched)]),
        stdout=subprocess.PIPE, text=True, env=env(work))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit('perfbench: run timed out')
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        sys.exit(f'perfbench: harness failed (exit {proc.returncode})')
    shutil.rmtree(work, ignore_errors=True)
    print('\n'.join(lines[-2:]))


if __name__ == '__main__':
    main()
