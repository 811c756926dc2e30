#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in a single JVM with Spark local[N] (N = min(4, cores)), checks the outputs,
and prints one JSON result line last on stdout.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 3 --trace 0

Workloads: crawl_polite, dedup_skewed, query_pack. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones from a traced run (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ['crawl_polite', 'dedup_skewed', 'query_pack']
JDK17_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
               'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
               'java.base/java.nio', 'java.base/java.util', 'java.base/java.util.concurrent',
               'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
               'java.base/sun.nio.cs', 'java.base/sun.security.action',
               'java.base/sun.util.calendar']
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(1)


def build():
    r = subprocess.run([sys.executable, 'perfbench/build.py'], stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        fail('build failed')
    with open(r.stdout.strip().splitlines()[-1]) as f:
        return f.read()


def check_pack(pack):
    """Compare every operator's result with DuckDB running its oracle SQL over
    the same tables, the way scripts/check_oracles.py does: columns sorted by
    name, rows sorted by all columns, values compared as strings. Returns the
    failed (pass, operator) pairs."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
              'lineitem', 'events', 'documents', 'embeddings']:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pack['tables']}/{t}.parquet'")
    with open(pack['oracle_sql']) as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        sql = oracle[name].replace(pack['oracle_root'], pack['kernel_root'])
        try:
            exp = con.execute(sql).df()
            exp = exp[sorted(exp.columns)]
            exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True).astype(str)
        except Exception as e:  # the oracle itself failed: every pass fails
            exp = e
        for i, out in enumerate(pack['passes']):
            ok = False
            path = os.path.join(out, name)
            if not isinstance(exp, Exception) and os.path.isdir(path):
                got = pd.read_parquet(path)
                got = got[sorted(got.columns)]
                if list(got.columns) == list(exp.columns) and len(got) == len(exp):
                    got = got.sort_values(by=list(got.columns)).reset_index(drop=True).astype(str)
                    ok = got.equals(exp)
            if not ok:
                failures.append((i, name))
    missing = set(op for out in pack['passes'] for op in os.listdir(out)) - set(oracle)
    failures += [(0, f'{op} (no oracle)') for op in sorted(missing)]
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open('BENCHMARK.json') as f:
        spec = json.load(f)
    classpath = build()

    work = os.path.abspath(os.path.join('.bench_build', 'work', a.workload))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, 'tmp')  # Spark's scratch space stays in the checkout
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cores = min(4, os.cpu_count() or 1)
    cmd = (['java'] + [x for p in JDK17_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')] +
           ['-Xmx3g', '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}',
            '-Dlog4j2.configurationFile=perfbench/log4j2.properties',
            f'-XX:ActiveProcessorCount={cores}', '-cp', classpath, 'graft.perfbench.Main',
            '--workload', a.workload, '--seed', str(a.seed), '--seconds', str(a.seconds),
            '--trace', str(a.trace), '--work', work, '--cores', str(cores)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f'{a.workload} did not finish within {JVM_TIMEOUT_S} s')
    if proc.returncode != 0 or not out.strip():
        fail(f'{a.workload} exited with {proc.returncode}')
    res = json.loads(out.strip().splitlines()[-1])

    pack = res.pop('pack', None)
    if pack is not None:
        bad = check_pack(pack)
        for i, name in bad:
            print(f'perfbench: pass {i} {name} differs from its DuckDB oracle', file=sys.stderr)
        res['failed'] += len(bad)
        res['correct'] = res['correct'] and not bad
    shutil.rmtree(work, ignore_errors=True)

    want = [m['name'] for m in spec['per_layer' if a.trace else 'end_to_end']]
    if sorted(want) != sorted(res['metrics']):
        fail(f'metrics printed {sorted(res["metrics"])} differ from BENCHMARK.json {sorted(want)}')
    print(json.dumps(res))


if __name__ == '__main__':
    main()
