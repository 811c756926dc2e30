#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark's own Scala sources (perfbench/src) into .bench_build/classes.

Uses the Scala compiler that ships with Spark ($SPARK_HOME/jars), so no
dependency resolution happens. A stamp of the sources' contents makes a
repeated build a no-op. Prints the runtime classpath file on success.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, '.bench_build')
CLASSES = os.path.join(BUILD, 'classes')
STAMP = os.path.join(BUILD, 'classes.stamp')
CP_FILE = os.path.join(BUILD, 'classpath.txt')
SRC_DIRS = ['src/main/scala', 'perfbench/src']
RESOURCES = 'src/main/resources'


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        exe = shutil.which('spark-submit')
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or '', 'jars')
    if not os.path.isdir(jars):
        sys.exit('build: Spark jars not found (set SPARK_HOME)')
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith('.jar'))


def sources():
    out = []
    for d in SRC_DIRS:
        path = os.path.join(ROOT, d)
        if not os.path.isdir(path):
            sys.exit(f'build: source directory {d} is missing')
        for base, _, files in os.walk(path):
            out += [os.path.join(base, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def main():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classpath = [CLASSES, os.path.join(ROOT, RESOURCES)] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(CP_FILE):
        print(CP_FILE)
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, 'scalac.args')
    with open(args_file, 'w') as f:
        f.write('\n'.join(['-d', CLASSES, '-nowarn', '-classpath', ':'.join(jars)] + srcs))
    t0 = time.time()
    rc = subprocess.call(['java', '-Xss16m', '-Xmx3g', '-XX:-UsePerfData', '-cp', ':'.join(jars),
                          'scala.tools.nsc.Main', '@' + args_file],
                         stdout=sys.stderr)
    if rc != 0:
        sys.exit(f'build: scalac failed ({rc})')
    with open(CP_FILE, 'w') as f:
        f.write(':'.join(classpath))
    with open(STAMP, 'w') as f:
        f.write(stamp)
    print(f'build: compiled {len(srcs)} sources in {time.time() - t0:.0f} s', file=sys.stderr)
    print(CP_FILE)


if __name__ == '__main__':
    main()
