#!/usr/bin/env python3
"""Self-test for oracle_diff.py: two small dumps with one name per list
(byte-identical, whitespace-only, changed, and one name on each side
only); the report must put each name in its list with the right counts.
Exit 0 iff it does.

Usage: python3 tools/test_oracle_diff.py
"""
import json, os, shutil, subprocess, sys, tempfile

here = os.path.dirname(os.path.abspath(__file__))
tmp = tempfile.mkdtemp(prefix='oracle_diff_')
try:
    a = {'same': 'SELECT 1 AS x',
         'spaced': 'SELECT a,\n       b FROM t',
         'edited': 'SELECT a FROM t',
         'gone': 'SELECT 2'}
    b = {'same': 'SELECT 1 AS x',
         'spaced': 'SELECT a, b\nFROM t',
         'edited': 'SELECT a FROM t WHERE a > 0',
         'new': 'SELECT 3'}
    for side, d in (('A', a), ('B', b)):
        os.makedirs(os.path.join(tmp, side))
        with open(os.path.join(tmp, side, 'oracle_sql.json'), 'w') as f:
            json.dump(d, f)
    r = subprocess.run([sys.executable, os.path.join(here, 'oracle_diff.py'),
                        os.path.join(tmp, 'A', 'oracle_sql.json'),
                        os.path.join(tmp, 'B', 'oracle_sql.json')],
                       capture_output=True, text=True)
    want = ('identical: 1\n  same\n'
            'whitespace: 1\n  spaced\n'
            'changed: 1\n  edited\n'
            'only in A: 1\n  gone\n'
            'only in B: 1\n  new\n')
    ok = r.returncode == 0 and r.stdout == want
    print(r.stdout.strip())
    print('ORACLE-DIFF-TEST', 'PASS' if ok else 'FAIL')
    sys.exit(0 if ok else 1)
finally:
    shutil.rmtree(tmp, ignore_errors=True)
