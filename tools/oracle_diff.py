#!/usr/bin/env python3
"""Compare two oracle dumps (`oracle_sql.json`, written by graft.Verify).

Each name present in both dumps falls into one of three lists:

  identical     the oracle text is byte-identical;
  whitespace    the texts differ only in whitespace (runs of spaces,
                tabs and newlines collapsed to one space, ends stripped);
  changed       the texts differ otherwise.

Names present in only one dump are listed as `only in A` / `only in B`.
Prints each list with its count; exits 0.

Usage: python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json
"""
import json
import sys


def collapse(sql):
    return ' '.join(sql.split())


def classify(a, b):
    """Map each list label to the sorted names that fall in it."""
    out = {'identical': [], 'whitespace': [], 'changed': [],
           'only in A': sorted(set(a) - set(b)),
           'only in B': sorted(set(b) - set(a))}
    for name in sorted(set(a) & set(b)):
        if a[name] == b[name]:
            out['identical'].append(name)
        elif collapse(a[name]) == collapse(b[name]):
            out['whitespace'].append(name)
        else:
            out['changed'].append(name)
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        lists = classify(json.load(fa), json.load(fb))
    for label, names in lists.items():
        print(f'{label}: {len(names)}')
        for name in names:
            print(f'  {name}')
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
