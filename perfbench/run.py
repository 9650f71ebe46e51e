#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the runner from source
(sbt, offline) and generates the query inputs under `.bench_build/`. Each
run then starts one JVM (`perfbench.Runner`), which runs the workload
against the engine's public entry points and prints its measurements; this
script checks every output, computes the metrics and prints them, the last
line being one JSON object `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The workload sizes are fixed in the runner; a run whose untraced timed
operations take longer than `--seconds` in all fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')

# Scale factor of the generated query inputs (the project's sf fixtures).
SF = 0.05

# The workloads; their sizes are constants of the runner, the query mix is below.
WORKLOADS = ('ingest_sync', 'query_mix')

END_TO_END = [('setup_s', 's'), ('bulk_s', 's'), ('fixed_cost_s', 's')]

# The query mix: a construction-bound iterative query (connected
# components, whose DataFrame construction runs per-round pins and driver
# collects), timed as the mix's `fixed_cost_s`, and an execution-bound
# relational one (a four-way join with anti and semi joins), its `bulk_s`.
FIXED_COST_QUERY = 'graph_components'
BULK_QUERY = 'tpch_q21_waiting'
QUERY_MIX = (FIXED_COST_QUERY, BULK_QUERY)
PER_LAYER = [
    ('sources.read_s', 's'), ('sources.rows', 'count'),
    ('eth.Enrich.s', 's'), ('eth.EthTransforms.s', 's'),
    ('eth.Sinks.write_s', 's'), ('eth.Sinks.bytes_written', 'bytes'),
    ('eth.Sinks.files_written', 'count'), ('spark.catchup_jobs', 'count'),
    ('spark.catchup_tasks', 'count'), ('eth.Ingest.resume_s', 's'),
    ('eth.Ingest.resume_input_bytes', 'bytes'), ('eth.Sinks.merge_s', 's'),
    ('eth.Sinks.merge_read_bytes', 'bytes'), ('eth.Sinks.readback_s', 's'),
    ('eth.Ingest.commit_s', 's'), ('spark.tail_jobs_per_batch', 'count'),
    ('spark.tail_tasks_per_batch', 'count'),
    ('construct_s', 's'), ('construct_jobs', 'count'),
    ('construct_tasks', 'count'), ('pins.count', 'count'),
    ('pins.retained_mb', 'MB'), ('catalyst.analysis_ms', 'ms'),
    ('catalyst.optimization_ms', 'ms'), ('catalyst.planning_ms', 'ms'),
    ('catalyst.plan_s', 's'), ('execute_s', 's'), ('execute_jobs', 'count'),
    ('execute_stages', 'count'), ('execute_tasks', 'count'),
    ('shuffle_write_bytes', 'bytes'), ('shuffle_read_bytes', 'bytes'),
    ('input_bytes', 'bytes'), ('spill_bytes', 'bytes'),
    ('max_task_ms', 'ms'), ('trace.overhead_pct', '%'),
    ('layers.unaccounted_pct', '%')]

JVM_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
    'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
    'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
    'sun.security.action', 'sun.util.calendar')]

RUN_TIMEOUT_S = 170

# Spark task threads (and JVM garbage-collector threads): at most two, so
# the run's threads do not outnumber the cores of a small shared host and
# its timings measure the program rather than the scheduler.
MAX_CPUS = 2


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src')):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, 'rb') as fh:
                    h.update(fh.read())
    for f in ('build.sbt', os.path.join('project', 'build.properties'), 'gen_data.py'):
        with open(os.path.join(HERE, f), 'rb') as fh:
            h.update(fh.read())
    h.update(repr(SF).encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE='offline')
    opts = ['-Dsbt.offline=true', '-Dsbt.server.autostart=false', '-Xmx2g']
    repos = os.path.expanduser('~/.sbt/repositories')
    if os.path.exists(repos):
        opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
    env['SBT_OPTS'] = ' '.join(opts)
    return env


def cpu_count():
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def java(cp, main, args, cwd, timeout, stdout=subprocess.PIPE, stderr=None):
    mem_gb = 4
    try:
        with open('/proc/meminfo') as fh:
            total_kb = int(next(l for l in fh if l.startswith('MemTotal')).split()[1])
        mem_gb = max(2, min(4, total_kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        pass
    tmp = os.path.join(cwd, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cpus = cpu_count()
    cmd = (['java', f'-Xms{mem_gb}g', f'-Xmx{mem_gb}g', f'-XX:ParallelGCThreads={cpus}',
            '-XX:ConcGCThreads=1', *JVM_OPENS, '-Dspark.ui.enabled=false',
            '-Dspark.sql.session.timeZone=UTC', f'-Djava.io.tmpdir={tmp}',
            f'-Dspark.local.dir={tmp}', '-cp', cp, main] + args)
    return subprocess.run(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                          text=True, timeout=timeout)


def build():
    """Compile and generate the query inputs, once per source state.
    Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft')):
        fail(f'engine sources not found under {ROOT}/src/main/scala/graft')
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, 'stamp')
    cp_file = os.path.join(BUILD, 'classpath.txt')
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    if shutil.which('sbt') is None or shutil.which('java') is None:
        fail('sbt and java are needed to build the benchmark')
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log('building engine and runner (sbt, offline)')
    with open(os.path.join(BUILD, 'sbt.log'), 'w') as sbt_log:
        r = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile',
                            'export Runtime/fullClasspath'], cwd=HERE, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=sbt_log, text=True,
                           timeout=800)
    lines = [l for l in r.stdout.splitlines() if 'scala-2.13/classes' in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail('build failed')
    cp = lines[-1].strip()

    log(f'generating query inputs at sf{SF}')
    data = os.path.join(BUILD, 'data')
    subprocess.run([sys.executable, os.path.join(HERE, 'gen_data.py'), data, str(SF)],
                   check=True, timeout=300)
    with open(cp_file, 'w') as fh:
        fh.write(cp)
    with open(stamp_file, 'w') as fh:
        fh.write(stamp)
    return cp


# -------------------------------------------------------------------- run

def run_workload(cp, workload, seed, trace):
    work = os.path.join(BUILD, 'run', f'{workload}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = [f'workload={workload}', f'seed={seed}', f'trace={trace}',
            f'work={work}', f'data={os.path.join(BUILD, "data")}',
            f'cpus={cpu_count()}', f'queries={",".join(QUERY_MIX)}']
    err_path = os.path.join(BUILD, 'run', f'{workload}-{os.getpid()}.log')
    try:
        with open(err_path, 'w') as err:
            r = java(cp, 'perfbench.Runner', args, work, RUN_TIMEOUT_S, stderr=err)
    except subprocess.TimeoutExpired:
        fail(f'runner exceeded {RUN_TIMEOUT_S} s (log: {err_path})')
    recs = [json.loads(l.split('\t', 1)[1]) for l in r.stdout.splitlines()
            if l.startswith('PB\t')]
    if r.returncode != 0 or not recs or recs[-1]['type'] != 'end':
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f'runner failed with exit code {r.returncode}')
    spans = os.path.join(work, 'spans.json')
    if trace and os.path.exists(spans):
        keep = os.path.join(BUILD, 'traces')
        os.makedirs(keep, exist_ok=True)
        shutil.copy(spans, os.path.join(keep, f'{workload}-seed{seed}.json'))
    return recs, work, err_path


def by_type(recs, kind):
    return [r for r in recs if r['type'] == kind]


def ingest_outcome(recs):
    """(attempted, failed, errors) over the ingest calls of one run."""
    errors = []
    ops = by_type(recs, 'op')
    catchup = [r for r in ops if r['kind'] == 'catchup']
    tails = [r for r in ops if r['kind'] == 'tail']
    failed = 0
    for r in catchup:
        e = checks.ingest_error(r, r['lo'], r['hi'])
        if e:
            failed += 1
            errors.append(f'catch-up: {e}')
    prev = catchup[-1]['hi'] if catchup else None  # tails follow the last
    for r in tails:
        e = checks.ingest_error(r, prev + 1, r['tip'])
        prev = r['tip']
        if e:
            failed += 1
            errors.append(f"tail batch {r['i']}: {e}")
    for t in by_type(recs, 'sink_totals'):
        want = checks.expected_counts(t['lo'], t['hi'])
        got = {k: t[k] for k in checks.SINK_TABLES}
        if got != want:
            failed = max(failed, 1)
            errors.append(f'sink totals {got} != {want}')
    return len(ops), min(failed, len(ops)), errors


def oracle_verdicts(out):
    """Per query, None when the project's oracle gate (`tools/check.py`)
    passed its result under `out` (graft.Verify's layout), else why not."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, 'tools', 'check.py'), out,
         os.path.join(BUILD, 'data')],
        env=dict(os.environ, CHECK_MEM_GB='3'), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=120)
    return parse_verdicts(r.stdout)


def parse_verdicts(text):
    verdicts = {}
    for line in text.splitlines():
        m = re.match(r'(PASS|FAIL|TIMEOUT|SKIP) ([A-Za-z0-9_]+)(.*)', line)
        if m:
            verdicts[m.group(2)] = None if m.group(1) == 'PASS' else (
                m.group(1) + m.group(3)).strip()
    return verdicts


def query_outcome(recs, work):
    """(attempted, failed, errors): the set-up's written result of each query
    must pass the oracle gate, and every timed execution must succeed and
    return as many rows as that checked result."""
    results = by_type(recs, 'result')
    verdicts = oracle_verdicts(os.path.join(work, 'out'))
    bad = {}
    for r in results:
        n = r['name']
        v = r['error'] if 'error' in r else verdicts.get(n, 'no oracle verdict')
        if v:
            bad[n] = v
    ops = [r for r in by_type(recs, 'op') if r['kind'] == 'query']
    return query_failures(ops, bad, {r['name']: r.get('rows') for r in results})


def query_failures(ops, bad, want_rows):
    """(attempted, failed, errors) over timed query executions, given the
    queries whose checked result was wrong and the checked results' row
    counts."""
    errors = [f'{n}: {e}' for n, e in sorted(bad.items())]
    failed = 0
    for r in ops:
        n = r['name']
        if n in bad or 'error' in r or r.get('rows') != want_rows.get(n):
            failed += 1
            if n not in bad:
                errors.append(f"{n} pass {r['pass']}: " + r.get(
                    'error', f"{r.get('rows')} rows, the checked result has "
                             f"{want_rows.get(n)}"))
    return len(ops), failed, errors


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, recs):
    """The end-to-end metrics and the workload's informational figures.

    Both workloads time an execution-bound bulk operation (`bulk_s`) and an
    operation bound by per-call fixed cost (`fixed_cost_s`), each the median
    of its timed samples in the run."""
    setup = med([r['s'] for r in by_type(recs, 'setup')])
    ops = [r for r in by_type(recs, 'op') if not r.get('traced')]
    info = {}
    if workload == 'ingest_sync':
        catchup = [r for r in ops if r['kind'] == 'catchup']
        tails = [r for r in ops if r['kind'] == 'tail']
        lat = [r['s'] for r in tails]
        bulk = med([r['s'] for r in catchup])
        fixed = med([r['s'] for r in tails if r['merge']])
        blocks = catchup[0]['hi'] - catchup[0]['lo'] + 1
        info['catchup_blocks_per_s'] = (blocks / bulk, 'blocks/s')
        info['tail_batch_p50_s'] = (stats.percentile(lat, 50), 's')
        info['tail_batch_p75_s'] = (stats.percentile(lat, 75), 's')
        info['tail_fresh_bucket_s'] = ([round(r['s'], 3) for r in tails if not r['merge']], 's')
        info['catchups'] = (len(catchup), 'count')
        info['tail_batches'] = (len(lat), 'count')
    else:
        per_q = {}
        for r in ops:
            per_q.setdefault(r['name'], []).append(r['s'])
        if BULK_QUERY not in per_q or FIXED_COST_QUERY not in per_q:
            fail(f'the timed passes must run {BULK_QUERY} and {FIXED_COST_QUERY}')
        lat = [r['s'] for r in ops]
        bulk = med(per_q[BULK_QUERY])
        fixed = med(per_q[FIXED_COST_QUERY])
        info['mix_wall_s'] = (sum(med(v) for v in per_q.values()), 's')
        info['passes'] = (len({r['pass'] for r in ops}), 'count')
    info['highest_supported_percentile'] = (stats.highest_supported(len(lat)), 'p')
    # the untimed set-up operations in order: the warm-up curve
    info['warmup_ops_s'] = ([round(r['s'], 3) for r in by_type(recs, 'warm')], 's')
    metrics = {'setup_s': setup, 'bulk_s': bulk, 'fixed_cost_s': fixed}
    return metrics, info


def site_class(site):
    """The ingest step a Spark call site belongs to."""
    for prefix, name in (('localCheckpoint at Sinks.scala', 'merge'),
                         ('count at EthPipeline.scala', 'readback'),
                         ('parquet at EthPipeline.scala', 'commit'),
                         ('parquet at Sinks.scala', 'write'),
                         ('collect at Ingest.scala', 'resume')):
        if site.startswith(prefix):
            return name
    return 'other'


def tail_steps(recs, scope):
    """Seconds per ingest step and the input bytes the merge read, within one
    traced tail batch. A step's time is the summed wall time of its SQL
    executions (and of jobs run outside any); the tail writes overlap, so
    the sum can exceed the batch's wall time."""
    jobs = [j for j in by_type(recs, 'job') if j['scope'] == scope]
    calls = [x for x in by_type(recs, 'exec') if x['scope'] == scope]
    calls += [dict(j, id=('job', j['id'])) for j in jobs if j['exec'] < 0]
    steps = {'merge': 0.0, 'readback': 0.0, 'commit': 0.0}
    merge_calls = set()
    for c in calls:
        k = site_class(c['site'])
        if k in steps:
            steps[k] += (c['end_ms'] - c['start_ms']) / 1e3
        if k == 'merge':
            merge_calls.add(c['id'])
    merge_bytes = sum(j['input_bytes'] for j in jobs
                      if j['exec'] in merge_calls or ('job', j['id']) in merge_calls)
    return steps, merge_bytes


def per_layer(workload, recs):
    m = {name: 0.0 for name, _ in PER_LAYER}
    ops = by_type(recs, 'op')
    if workload == 'ingest_sync':
        st = {r['name']: r for r in by_type(recs, 'stage')}
        # the staged replay covers the first catch-up's range
        catchup = [r for r in ops if r['kind'] == 'catchup'][0]
        if st:
            m['sources.read_s'] = st['sources']['s']
            m['sources.rows'] = st['sources']['rows']
            m['eth.Enrich.s'] = st['enrich']['s'] - st['sources']['s']
            m['eth.EthTransforms.s'] = st['format']['s'] - st['enrich']['s']
            m['eth.Sinks.write_s'] = catchup['s'] - st['format']['s']
        m['eth.Sinks.bytes_written'] = catchup.get('bytes_written', 0)
        m['eth.Sinks.files_written'] = catchup.get('files_written', 0)
        m['spark.catchup_jobs'] = catchup.get('jobs', 0)
        m['spark.catchup_tasks'] = catchup.get('tasks', 0)
        traced = [r for r in ops if r['kind'] == 'tail' and r.get('traced')]
        plain = [r for r in ops if r['kind'] == 'tail' and not r.get('traced')]
        per_batch = [tail_steps(recs, f"tail{r['i']}") for r in traced]
        if traced:
            m['eth.Ingest.resume_s'] = med([r['resume_s'] for r in traced])
            m['eth.Ingest.resume_input_bytes'] = med([r['resume_input_bytes'] for r in traced])
            m['eth.Sinks.merge_s'] = med([b['merge'] for b, _ in per_batch])
            m['eth.Sinks.merge_read_bytes'] = med([n for _, n in per_batch])
            m['eth.Sinks.readback_s'] = med([b['readback'] for b, _ in per_batch])
            m['eth.Ingest.commit_s'] = med([b['commit'] for b, _ in per_batch])
            m['spark.tail_jobs_per_batch'] = med([r['jobs'] for r in traced])
            m['spark.tail_tasks_per_batch'] = med([r['tasks'] for r in traced])
        if traced and plain:
            base = med([r['s'] for r in plain])
            m['trace.overhead_pct'] = 100.0 * (med([r['s'] for r in traced]) - base) / base
        return m
    queries = [r for r in ops if r['kind'] == 'query']
    traced = [r for r in queries if r['traced'] and 'error' not in r]
    fields = {
        'construct_s': 'construct_s', 'construct_jobs': 'construct_jobs',
        'construct_tasks': 'construct_tasks', 'pins.count': 'pins_count',
        'catalyst.analysis_ms': 'analysis_ms',
        'catalyst.optimization_ms': 'optimization_ms',
        'catalyst.planning_ms': 'planning_ms', 'catalyst.plan_s': 'plan_s',
        'execute_s': 'execute_s', 'execute_jobs': 'execute_jobs',
        'execute_stages': 'execute_stages', 'execute_tasks': 'execute_tasks',
        'shuffle_write_bytes': 'execute_shuffle_write_bytes',
        'shuffle_read_bytes': 'execute_shuffle_read_bytes',
        'input_bytes': 'execute_input_bytes', 'spill_bytes': 'execute_spill_bytes',
        'max_task_ms': 'execute_max_task_ms'}
    names = sorted({r['name'] for r in traced})
    for metric, key in fields.items():
        m[metric] = sum(med([r.get(key, 0) for r in traced if r['name'] == n])
                        for n in names)
    m['pins.retained_mb'] = sum(med([r['pins_retained_bytes'] for r in traced
                                     if r['name'] == n]) for n in names) / 1e6

    def pass_walls(rs):
        walls = {}
        for r in rs:
            walls[r['pass']] = walls.get(r['pass'], 0.0) + r['s']
        return list(walls.values())
    tw = med(pass_walls(traced))
    pw = med(pass_walls([r for r in queries if not r['traced']]))
    if tw and pw:
        m['trace.overhead_pct'] = 100.0 * (tw - pw) / pw
        layers = m['construct_s'] + m['catalyst.plan_s'] + m['execute_s']
        m['layers.unaccounted_pct'] = 100.0 * (tw - layers) / tw
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t0 = time.time()
    recs, work, err_path = run_workload(cp, a.workload, a.seed, a.trace)
    timed = sum(r['s'] for r in by_type(recs, 'op') if not r.get('traced'))
    if timed > a.seconds:
        fail(f'the timed operations took {timed:.1f} s, over the {a.seconds:g} s limit')
    if a.workload == 'ingest_sync':
        attempted, failed, errors = ingest_outcome(recs)
    else:
        attempted, failed, errors = query_outcome(recs, work)
    shutil.rmtree(work, ignore_errors=True)
    os.remove(err_path)
    for e in errors:
        print(f'FAILED {a.workload}: {e}')

    if a.trace:
        values = per_layer(a.workload, recs)
        units = dict(PER_LAYER)
    else:
        values, info = end_to_end(a.workload, recs)
        units = dict(END_TO_END)
        for k, (v, u) in info.items():
            print(f'{a.workload} {k} = {v} {u}')
    bad_names = [k for k in values if not stats.valid_name(k)]
    if bad_names:
        fail(f'invalid metric names: {bad_names}')
    error_rate = failed / attempted if attempted else 1.0
    print(f'{a.workload} error_rate = {error_rate} ({failed}/{attempted} operations failed)')
    for k, v in values.items():
        print(f'{a.workload} {k} = {v} {units[k]}')
    log(f'run took {time.time() - t0:.1f} s')
    print(json.dumps({
        'correct': failed == 0 and attempted > 0,
        'attempted': attempted, 'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in values.items()}}))


if __name__ == '__main__':
    main()
