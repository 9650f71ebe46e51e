#!/usr/bin/env python3
"""Paired A/B comparison of two checkouts with the benchmark.

    python3 perfbench/compare.py --base <parent checkout> --change <checkout> \
        [--pairs 10] [--workload NAME ...] [--trace 0|1] [--seed0 1000]

Runs `perfbench/run.py` in each checkout, alternating which side goes first
in each pair and giving both sides of a pair the same seed. Workloads, run
length and bounds come from the change's BENCHMARK.json. For every
workload and metric it prints each side's median and quartiles and a
verdict:

  regression      the change's median is worse than the base's by more than
                  the metric's bound
  better / worse  otherwise, the change wins (loses) at least 9 of 10 pairs
                  and the medians differ by more than the base's own
                  quartile spread
  unresolved      fewer than ten pairs, or a side's quartile spread is wider
                  than the bound, unless every change run beats every base run
  same            none of the above
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join('perfbench', 'run.py'), '--workload', workload,
           '--seed', str(seed), '--seconds', str(seconds), '--trace', str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=1000)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f'{checkout}: {workload} seed {seed} exited {r.returncode}')
    return json.loads(lines[-1])


def verdict(base, change, bound, lower_is_better):
    """Verdict for one metric from the paired values of both sides."""
    if len(base) < 10:
        return 'unresolved'  # the rules below need at least ten pairs
    sign = 1 if lower_is_better else -1
    bq1, bmed, bq3 = stats.quartiles(base)
    cmed = stats.quartiles(change)[1]
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    losses = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    separated = (max(change) < min(base) if lower_is_better
                 else min(change) > max(base))
    if bound is not None and sign * (cmed - bmed) > bound * abs(bmed):
        return 'regression'
    if wins >= 0.9 * len(base) and abs(cmed - bmed) > (bq3 - bq1):
        return 'better'
    if losses >= 0.9 * len(base) and abs(cmed - bmed) > (bq3 - bq1):
        return 'worse'
    if bound is not None and not separated and (
            stats.spread(base) > bound or stats.spread(change) > bound):
        return 'unresolved'
    return 'same'


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--base', required=True)
    ap.add_argument('--change', required=True)
    ap.add_argument('--pairs', type=int, default=10)
    ap.add_argument('--workload', action='append')
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--seed0', type=int, default=1000)
    a = ap.parse_args()

    with open(os.path.join(a.change, 'BENCHMARK.json')) as fh:
        bench = json.load(fh)
    workloads = a.workload or [w['name'] for w in bench['workloads']]
    metrics = bench['per_layer'] if a.trace else bench['end_to_end']
    sides = {'base': a.base, 'change': a.change}
    values = {}  # (workload, side) -> [result per pair]
    for w in workloads:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ('base', 'change') if i % 2 == 0 else ('change', 'base')
            for side in order:
                res = run_once(sides[side], w, seed, bench['run_seconds'], a.trace)
                values.setdefault((w, side), []).append(res)
                print(f'# {w} pair {i} {side}: correct={res["correct"]} '
                      f'failed={res["failed"]}/{res["attempted"]}', flush=True)

    print(f'\n{"workload":<12} {"metric":<28} {"base median [q1, q3]":<32} '
          f'{"change median [q1, q3]":<32} {"delta":>8}  verdict')
    for w in workloads:
        base_runs, change_runs = values[(w, 'base')], values[(w, 'change')]
        for side, runs in (('base', base_runs), ('change', change_runs)):
            bad = sum(1 for r in runs if not r['correct'])
            if bad:
                print(f'{w:<12} {side} side: {bad} of {len(runs)} runs had failed operations')
        for m in metrics:
            name = m['name']
            b = [r['metrics'][name]['value'] for r in base_runs]
            c = [r['metrics'][name]['value'] for r in change_runs]
            bq, cq = stats.quartiles(b), stats.quartiles(c)
            delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float('nan')
            v = verdict(b, c, m.get('bound'), m['better'] == 'lower') \
                if 'better' in m else '-'
            print(f'{w:<12} {name:<28} {bq[1]:>10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]'
                  f'{"":<6} {cq[1]:>10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]{"":<6} '
                  f'{delta:>+8.1%}  {v}')


if __name__ == '__main__':
    main()
