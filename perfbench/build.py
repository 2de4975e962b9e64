#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(src/main/scala) together with the harness (perfbench/src) using the Scala
compiler that ships in Spark's jars directory (the one build.sbt builds
against, or $SPARK_HOME/jars). Needs no sbt and no network.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the classes directory. Output is cached under .bench_build/perfbench,
keyed by a hash of every compiled source, so an unchanged tree builds once.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, 'perfbench')
OUT = os.path.join(ROOT, '.bench_build', 'perfbench')


def spark_jars():
    """Classpath glob of the Spark jars: $SPARK_HOME/jars, else the directory
    build.sbt names as its unmanagedBase (the program builds against it)."""
    home = os.environ.get('SPARK_HOME')
    if home:
        jars = os.path.join(home, 'jars')
    else:
        with open(os.path.join(ROOT, 'build.sbt')) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit('perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)')
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f'perfbench: no Spark jars at {jars} (set SPARK_HOME)')
    return os.path.join(jars, '*')


def sources():
    found = []
    for base in (os.path.join(ROOT, 'src', 'main', 'scala'), os.path.join(BENCH, 'src')):
        if not os.path.isdir(base):
            raise SystemExit(f'perfbench: missing source directory {os.path.relpath(base, ROOT)}')
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(found)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, 'rb') as f:
            h.update(f.read())
    classes = os.path.join(OUT, 'classes-' + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, 'sources.txt')
    with open(argfile, 'w') as f:
        f.write('\n'.join(srcs) + '\n')
    jars = spark_jars()
    cmd = ['java', '-Xss16m', '-Xmx2g', '-cp', jars, 'scala.tools.nsc.Main',
           '-encoding', 'UTF-8', '-nowarn', '-classpath', jars, '-d', tmp, '@' + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f'perfbench: compile failed ({r.returncode})')
    # drop stale builds of other trees so the cache stays one build deep
    for d in os.listdir(OUT):
        if d.startswith('classes-') and d != os.path.basename(tmp):
            shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == '__main__':
    print(build())
