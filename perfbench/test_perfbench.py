"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import checks
import compare
import run
import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 75), 3.25)
        self.assertEqual(stats.percentile([7], 75), 7)
        self.assertEqual(stats.percentile([1, 2], 0), 1)
        self.assertEqual(stats.percentile([1, 2], 100), 2)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_ten_samples_beyond_rule(self):
        # p75 needs 40 samples: exactly 10 lie beyond it
        self.assertEqual(stats.beyond(40, 75), 10)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(39), 50)
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertIsNone(stats.highest_supported(19))

    def test_quartiles_match_statistics_module(self):
        xs = [3.1, 2.9, 3.3, 3.0, 3.6, 2.8, 3.2, 3.05, 3.4, 2.95]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ('setup_s', 'op_p75_s', 'eth.Sinks.write_s', 'pins.retained_mb',
                  '9lives', 'a-b', 'x' * 64):
            self.assertTrue(stats.valid_name(n), n)

    def test_invalid_names(self):
        for n in ('', '_x', '.x', 'a b', 'a/b', 'p75%', 'x' * 65, None, 3):
            self.assertFalse(stats.valid_name(n), n)

    def test_reported_metric_names_are_valid_and_unique(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER] + list(run.WORKLOADS)
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)

    def test_benchmark_json_matches_what_run_reports(self):
        path = os.path.join(run.ROOT, 'BENCHMARK.json')
        if not os.path.exists(path):
            self.skipTest('no BENCHMARK.json in this tree')
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m['name'], m['unit']) for m in bench['end_to_end']],
                         run.END_TO_END)
        self.assertEqual([(m['name'], m['unit']) for m in bench['per_layer']],
                         run.PER_LAYER)
        self.assertEqual(sorted(w['name'] for w in bench['workloads']),
                         sorted(run.WORKLOADS))


def ingest_records(lo, n, step, tails, catchups=1):
    """Runner records of correct catch-ups of n blocks from lo, 10,000
    blocks apart, then `tails` tail batches of `step` blocks after the
    last."""
    recs = []
    for i in range(catchups):
        lo_i = lo + 10000 * i
        hi = lo_i + n - 1
        recs.append(dict(type='op', kind='catchup', i=i, lo=lo_i, hi=hi, s=1.0 + i,
                         start=lo_i, end=hi, counts=checks.expected_counts(lo_i, hi)))
    lo = recs[-1]['lo']
    for i in range(tails):
        a, hi = hi + 1, hi + step
        recs.append(dict(type='op', kind='tail', i=i, tip=hi, merge=a % 1000 != 0,
                         s=0.5 + 0.1 * i, start=a, end=hi,
                         counts=checks.expected_counts(a, hi)))
    totals = dict(type='sink_totals', lo=lo, hi=hi, **checks.expected_counts(lo, hi))
    return recs + [totals]


class IngestCheckTest(unittest.TestCase):
    def test_closed_form_matches_brute_force(self):
        for lo, hi in ((0, 0), (0, 4999), (7, 8), (1_000_001, 1_005_000)):
            self.assertEqual(checks.tx_count(lo, hi),
                             sum(b % 3 + 1 for b in range(lo, hi + 1)))
        # the eth_pipeline_ingest_5k oracle's range
        self.assertEqual(checks.expected_counts(0, 4999),
                         {'block': 5000, 'transaction': 9999, 'log': 19998,
                          'trace': 14999})

    def test_correct_run_has_no_failures(self):
        attempted, failed, errors = run.ingest_outcome(
            ingest_records(1_000_000, 5000, 250, 4))
        self.assertEqual((attempted, failed, errors), (5, 0, []))
        attempted, failed, errors = run.ingest_outcome(
            ingest_records(1_000_000, 2500, 250, 4, 3))
        self.assertEqual((attempted, failed, errors), (7, 0, []))

    def test_planted_wrong_count_is_a_failed_operation(self):
        recs = ingest_records(1_000_000, 5000, 250, 4)
        recs[2]['counts'] = dict(recs[2]['counts'], log=recs[2]['counts']['log'] - 1)
        attempted, failed, errors = run.ingest_outcome(recs)
        self.assertEqual((attempted, failed), (5, 1))
        self.assertIn('tail batch 1', errors[0])
        # a wrong call still counts as attempted, and its time is not what
        # decides the outcome
        self.assertEqual(len([r for r in recs if r['type'] == 'op']), attempted)

    def test_wrong_range_and_errors_fail(self):
        recs = ingest_records(0, 1000, 250, 2)
        recs[1]['start'] += 1
        recs[2] = dict(type='op', kind='tail', i=1, tip=recs[2]['tip'], s=0.1,
                       error='boom')
        attempted, failed, _ = run.ingest_outcome(recs)
        self.assertEqual((attempted, failed), (3, 2))

    def test_sink_totals_mismatch_fails_the_run(self):
        recs = ingest_records(0, 1000, 250, 1)
        recs[-1]['trace'] -= 1
        _, failed, errors = run.ingest_outcome(recs)
        self.assertEqual(failed, 1)
        self.assertIn('sink totals', errors[0])


class QueryCheckTest(unittest.TestCase):
    OPS = [dict(kind='query', name='q1', rows=3, pass_=0, s=1.0),
           dict(kind='query', name='q2', rows=5, pass_=0, s=2.0)]

    def ops(self):
        return [dict(o, **{'pass': o['pass_']}) for o in self.OPS]

    def test_matching_rows_pass(self):
        self.assertEqual(run.query_failures(self.ops(), {}, {'q1': 3, 'q2': 5}),
                         (2, 0, []))

    def test_planted_wrong_expected_count_is_a_failed_operation(self):
        attempted, failed, errors = run.query_failures(
            self.ops(), {}, {'q1': 3, 'q2': 6})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn('q2', errors[0])

    def test_wrong_checked_result_fails_every_execution(self):
        attempted, failed, _ = run.query_failures(
            self.ops() + self.ops(), {'q1': 'rows 3 != 4'}, {'q1': 3, 'q2': 5})
        self.assertEqual((attempted, failed), (4, 2))

    def test_missing_result_fails_every_execution(self):
        attempted, failed, _ = run.query_failures(
            self.ops(), {'q2': 'no parquet output'}, {'q1': 3, 'q2': None})
        self.assertEqual((attempted, failed), (2, 1))

    def test_oracle_gate_verdicts(self):
        out = ('PASS graph_components (412 rows)\n'
               'FAIL tpch_q21_waiting: rows 10 != 11\n'
               'FAIL w4_ntile_moving: SPARK-TYPE-DRIFT (spark, oracle): {}\n'
               'TIMEOUT dedup_jaccard (> 5s oracle replay)\n'
               '\n1 pass / 2 fail\nfailed: tpch_q21_waiting w4_ntile_moving\n')
        self.assertEqual(run.parse_verdicts(out), {
            'graph_components': None,
            'tpch_q21_waiting': 'FAIL: rows 10 != 11',
            'w4_ntile_moving': 'FAIL: SPARK-TYPE-DRIFT (spark, oracle): {}',
            'dedup_jaccard': 'TIMEOUT (> 5s oracle replay)'})


class MetricTest(unittest.TestCase):
    def test_query_mix_end_to_end(self):
        recs = [dict(type='setup', i=0, s=20.0), dict(type='setup', i=1, s=4.0)]
        for p, (a, b) in enumerate([(1.0, 3.0), (2.0, 5.0), (1.5, 4.0)]):
            recs += [dict(type='op', kind='query', name=run.FIXED_COST_QUERY,
                          **{'pass': p}, s=a, traced=False),
                     dict(type='op', kind='query', name=run.BULK_QUERY,
                          **{'pass': p}, s=b, traced=False)]
        m, info = run.end_to_end('query_mix', recs)
        self.assertEqual(m['setup_s'], 12.0)
        self.assertEqual(m['bulk_s'], 4.0)  # median of the bulk query
        self.assertEqual(m['fixed_cost_s'], 1.5)
        self.assertEqual(info['mix_wall_s'][0], 1.5 + 4.0)
        self.assertEqual(info['passes'][0], 3)

    def test_ingest_end_to_end(self):
        recs = [dict(type='setup', i=0, s=9.0)] + ingest_records(0, 2000, 250, 4, 3)
        m, info = run.end_to_end('ingest_sync', recs)
        self.assertEqual(m['bulk_s'], 2.0)  # median of the three catch-ups
        self.assertEqual(info['catchup_blocks_per_s'][0], 1000.0)
        # batches 0-3 take 0.5-0.8 s; batch 0 (blocks 22000-22249) starts a
        # fresh bucket, so the merges are batches 1, 2 and 3
        self.assertEqual(m['fixed_cost_s'], 0.7)
        self.assertEqual(info['tail_fresh_bucket_s'][0], [0.5])
        self.assertAlmostEqual(info['tail_batch_p75_s'][0], 0.725)

    def test_site_classes(self):
        self.assertEqual(run.site_class('localCheckpoint at Sinks.scala:212'), 'merge')
        self.assertEqual(run.site_class('count at EthPipeline.scala:170'), 'readback')
        self.assertEqual(run.site_class('parquet at EthPipeline.scala:197'), 'commit')
        self.assertEqual(run.site_class('collect at Observation.scala:1'), 'other')

    def test_tail_steps_attribute_jobs_through_their_execution(self):
        recs = [
            dict(type='exec', scope='tail1', id=7, site='localCheckpoint at Sinks.scala:210',
                 start_ms=1000, end_ms=1400),
            dict(type='exec', scope='tail1', id=8, site='count at EthPipeline.scala:170',
                 start_ms=1400, end_ms=1500),
            dict(type='job', scope='tail1', id=1, exec=7, site='x', input_bytes=300),
            dict(type='job', scope='tail1', id=2, exec=8, site='y', input_bytes=50),
            dict(type='job', scope='tail1', id=3, exec=-1, site='localCheckpoint at Sinks.scala:9',
                 start_ms=1500, end_ms=1600, input_bytes=20),
            dict(type='exec', scope='tail3', id=9, site='parquet at EthPipeline.scala:1',
                 start_ms=0, end_ms=5000)]
        steps, merge_bytes = run.tail_steps(recs, 'tail1')
        self.assertAlmostEqual(steps['merge'], 0.5)
        self.assertAlmostEqual(steps['readback'], 0.1)
        self.assertEqual(steps['commit'], 0.0)
        self.assertEqual(merge_bytes, 320)


class CompareTest(unittest.TestCase):
    BASE = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_same_code_is_same(self):
        self.assertEqual(compare.verdict(self.BASE, list(reversed(self.BASE)), 0.1, True),
                         'same')

    def test_clear_gain(self):
        self.assertEqual(compare.verdict(self.BASE, [x * 0.8 for x in self.BASE], 0.1, True),
                         'better')

    def test_clear_loss_within_bound_is_worse(self):
        self.assertEqual(compare.verdict(self.BASE, [x * 1.05 for x in self.BASE], 0.1, True),
                         'worse')
        self.assertEqual(compare.verdict(self.BASE, [x * 0.95 for x in self.BASE], 0.1, False),
                         'worse')

    def test_regression_beyond_bound(self):
        # lost in every pair and worse by more than the bound: a regression,
        # whichever direction is better
        self.assertEqual(compare.verdict(self.BASE, [x * 1.15 for x in self.BASE], 0.1, True),
                         'regression')
        self.assertEqual(compare.verdict(self.BASE, [x * 0.8 for x in self.BASE], 0.1, False),
                         'regression')
        # also when some pairs were won
        change = [x * 1.15 for x in self.BASE]
        change[0] = change[1] = 9.0
        self.assertEqual(compare.verdict(self.BASE, change, 0.1, True), 'regression')

    def test_fewer_than_ten_pairs_is_unresolved(self):
        self.assertEqual(compare.verdict([1.0], [2.0], 0.1, True), 'unresolved')

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(noisy, list(reversed(noisy)), 0.1, True),
                         'unresolved')


if __name__ == '__main__':
    unittest.main()
