"""KG-construction benchmark: crawl batch -> triples / index / graph commit.

Run from the root of a checkout::

    python3 perfbench/run.py --workload syndicated_crawl --seed 1 \\
        --seconds 20 --trace 0

It generates the workload from ``--seed`` (``workloads.py``), starts a
local Spark session with one core per CPU, and times the public entry
points a KG operator calls on a crawl batch for ``--seconds`` seconds:

- ``pipeline.extract_triples``            -> ``triples_docs_per_s``
- ``pipeline.extract_triples_deduped``    -> ``dedup_triples_docs_per_s``
- ``parse_index.parse_index_update``      -> ``index_update_docs_per_s``
- ``pipeline.run_checkpointed``           -> ``graph_commit_docs_per_s``

The window always runs the op with the least time spent so far, so each
op gets about a quarter of it, spread across it. A rate is the docs
processed by an op over the seconds spent in it. Every call starts from
reset state (a fresh copy of the bootstrap index, a fresh output
directory). After the window, every call's output is checked against the
reference compiler's golden triples; a call that raised or returned a
wrong result counts as failed. ``peak_rss_mb`` is the peak summed RSS of
this process, the JVM and the Python workers during the window.
``setup_s`` is the session start, plus the median of three generations
of the input, plus the index bootstrap and one full-size warm-up call of
each op.

``--trace 1`` prints the per-layer metrics instead: single-core layer
throughput (``layers.py``), then the ops run for a quarter of the window
untraced and for a quarter in a new session with a Spark event log and
one job group per call. The log is reduced to per-call shuffle bytes, task
skew and job counts; ``trace.overhead_ratio`` is the traced over the
untraced mean wall per call, summed over the ops.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""
import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import tracing  # noqa: E402
from layers import layer_metrics  # noqa: E402
from workloads import WORKLOADS, Batch, load_pool, load_resources  # noqa: E402

#: documents per batch; one call of the slowest op takes a few seconds on
#: 4 cores
SIZES = {'syndicated_crawl': 8000, 'novel_statements_crawl': 2000}
#: plain pool pages that bootstrap the novel workload's index
NOVEL_BOOTSTRAP_DOCS = 200
N_BUCKETS = 8
COMMIT_GROUPS = 1
#: fixed JVM heap (-Xms = -Xmx), so heap sizing does not move peak_rss_mb
DRIVER_MEMORY = '1g'
SETUP_REPEATS = 3
LAYER_SAMPLE_DOCS = 300
WORK_DIR = os.path.join(ROOT, '.perfbench_work')

OP_METRIC = {
    'pipeline.extract_triples': 'triples_docs_per_s',
    'pipeline.extract_triples_deduped': 'dedup_triples_docs_per_s',
    'parse_index.parse_index_update': 'index_update_docs_per_s',
    'pipeline.run_checkpointed': 'graph_commit_docs_per_s',
}


def log(*parts):
    print(*parts, file=sys.stderr, flush=True)


class Context:
    """Session, inputs and expected outputs shared by the calls of a run."""

    def __init__(self, args, work):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.n_docs = args.docs or SIZES[args.workload]
        self.spark = None
        self.docs_path = None
        self.docs = None
        self.traced = False
        self.rep = 0

    def start_spark(self, event_log_dir=None):
        from pybel_spark.session import get_spark

        # temporary files (shuffle, spill, JVM tmp) stay in the checkout
        tmp = tempfile.gettempdir()
        conf = {'spark.driver.memory': DRIVER_MEMORY,
                'spark.driver.extraJavaOptions':
                    '-Xms{} -Djava.io.tmpdir={} -XX:-UsePerfData'.format(
                        DRIVER_MEMORY, tmp),
                'spark.local.dir': tmp,
                'spark.ui.showConsoleProgress': 'false'}
        if event_log_dir:
            conf.update({'spark.eventLog.enabled': 'true',
                         'spark.eventLog.dir': 'file://' + event_log_dir,
                         'spark.eventLog.compress': 'false',
                         'spark.eventLog.rolling.enabled': 'false'})
        self.spark = get_spark('perfbench', cores=self.cores,
                               shuffle_partitions=2 * self.cores,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel('ERROR')
        self.traced = bool(event_log_dir)
        if self.docs_path:
            self.docs = self.spark.read.parquet(self.docs_path)

    def generate(self, i):
        """Generate the batch and write it as parquet; the last generation
        is the one the ops read."""
        from pybel_spark.resources import DictCatalog

        self.pool, self.resources = load_pool(), load_resources()
        self.batch = Batch(self.args.workload, self.args.seed, self.n_docs,
                           self.pool, self.resources)
        self.expected = set(self.batch.expected)
        if self.args.corrupt_expected:
            self.expected.pop()
            self.expected.add(('HGNC:NOPE', 'increasesAmountOf', 'HGNC:NOPE'))
        self.catalog = DictCatalog(**self.batch.catalog_dict())
        self.docs_path = os.path.join(self.work, 'docs{}'.format(i))
        self.batch.write_parquet(self.docs_path, n_files=2 * self.cores)
        self.docs = self.spark.read.parquet(self.docs_path)

    def bootstrap_index(self):
        """The index every parse_index_update call starts from: the batch
        itself (a pure re-crawl follows) or, for novel statements, plain
        pool pages (an all-novel batch follows)."""
        from pybel_spark.parse_index import parse_index_write

        self.index_boot = os.path.join(self.work, 'index_boot')
        self.index_expected = set(self.expected)
        if self.args.workload == 'syndicated_crawl':
            boot_docs = self.docs
        else:
            boot = Batch('syndicated_crawl', self.args.seed,
                         NOVEL_BOOTSTRAP_DOCS, self.pool, self.resources)
            self.index_expected |= boot.expected
            boot_path = os.path.join(self.work, 'boot_docs')
            boot.write_parquet(boot_path, n_files=1)
            boot_docs = self.spark.read.parquet(boot_path)
        parse_index_write(boot_docs, self.index_boot, self.catalog)

    @contextlib.contextmanager
    def job_group(self, name, rep):
        """Label the Spark jobs of call ``rep`` ``name#rep`` (traced
        runs)."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty('spark.jobGroup.id')
        sc.setJobGroup('{}#{}'.format(name, rep), name)
        try:
            yield
        finally:
            if outer is None:
                sc.setLocalProperty('spark.jobGroup.id', None)
            else:
                sc.setJobGroup(outer, outer)


def check_triples(expected, rows, what):
    got = [(r['subject'], r['predicate'], r['object']) for r in rows]
    if len(got) != len(set(got)):
        return '{}: {} duplicate triples'.format(what,
                                                 len(got) - len(set(got)))
    got = set(got)
    if got != expected:
        return '{}: {} missing, {} unexpected triples'.format(
            what, len(expected - got), len(got - expected))
    return None


class Call:
    """One call of an op: its reset state, wall, result and outcome."""

    def __init__(self, op, rep):
        self.op = op
        self.rep = rep
        self.path = None
        self.wall = None
        self.busy = None
        self.result = None
        self.error = None
        self.layer = {}


# ---------------------------------------------------------------- ops --- #
# reset(ctx, call) and verify(ctx, call) -> error or None run untimed;
# run(ctx, call) is the timed call.

class ExtractTriples:
    name = 'pipeline.extract_triples'

    def reset(self, ctx, call):
        pass

    def run(self, ctx, call):
        from pybel_spark.pipeline import extract_triples
        return extract_triples(ctx.docs, ctx.catalog).collect()

    def verify(self, ctx, call):
        return check_triples(ctx.expected, call.result, self.name)


class ExtractTriplesDeduped(ExtractTriples):
    name = 'pipeline.extract_triples_deduped'

    def run(self, ctx, call):
        from pybel_spark.pipeline import extract_triples_deduped
        return extract_triples_deduped(ctx.docs, ctx.catalog).collect()


class StatementKeys(ExtractTriples):
    """Stages 1+2 of the dedup path; traced runs only."""
    name = 'pipeline.statement_keys'

    def run(self, ctx, call):
        from pybel_spark.pipeline import statement_keys
        return statement_keys(ctx.docs, ctx.catalog).count()

    def verify(self, ctx, call):
        n_keys, n_statements = call.result, ctx.batch.n_statements
        call.layer['keys_per_statement'] = n_keys / n_statements
        if not 0 < n_keys <= n_statements:
            return '{}: {} keys for {} statements'.format(
                self.name, n_keys, n_statements)
        return None


class IndexUpdate:
    name = 'parse_index.parse_index_update'

    def reset(self, ctx, call):
        call.path = os.path.join(ctx.work, 'index{}'.format(call.rep))
        shutil.copytree(ctx.index_boot, call.path)

    def run(self, ctx, call):
        from pybel_spark.parse_index import parse_index_update
        return parse_index_update(ctx.docs, call.path, ctx.catalog)

    def verify(self, ctx, call):
        from pybel_spark.parse_index import triples_from_index

        batch_keys = call.result['batch_keys']
        novel = call.result['novel_keys']
        call.layer['novel_ratio'] = novel / batch_keys if batch_keys else 0.0
        if ctx.args.workload == 'syndicated_crawl':
            if novel != 0:
                return '{}: re-crawl found {} novel keys'.format(self.name,
                                                                novel)
        elif not batch_keys or novel < 0.9 * batch_keys:
            return '{}: only {} of {} keys novel'.format(self.name, novel,
                                                         batch_keys)
        rows = triples_from_index(ctx.spark, call.path).collect()
        shutil.rmtree(call.path)
        return check_triples(ctx.index_expected, rows, self.name)


class GraphCommit:
    name = 'pipeline.run_checkpointed'

    def reset(self, ctx, call):
        call.path = os.path.join(ctx.work, 'graph{}'.format(call.rep))

    def run(self, ctx, call):
        from pybel_spark.pipeline import run_checkpointed
        return run_checkpointed(ctx.spark, ctx.docs, call.path,
                                n_buckets=N_BUCKETS, catalog=ctx.catalog,
                                commit_groups=COMMIT_GROUPS)

    def verify(self, ctx, call):
        from pybel_spark.pipeline import read_graph, read_lineage

        if call.result != {'skipped_buckets': 0,
                           'processed_buckets': N_BUCKETS}:
            return '{}: {}'.format(self.name, call.result)
        with ctx.job_group('pipeline.read_graph', call.rep):
            t0 = time.perf_counter()
            graph = read_graph(ctx.spark, call.path)
            rows = graph['triples'].collect()
            call.layer['read_graph_wall_s'] = time.perf_counter() - t0
        if ctx.traced:
            call.layer['bytes_written_mb'] = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(call.path)
                for f in files) / 2 ** 20
            lineage_edges = read_lineage(ctx.spark, call.path) \
                .agg({'n_edges': 'sum'}).collect()[0][0]
            call.layer['edge_survival_ratio'] = \
                graph['edges'].count() / lineage_edges
        shutil.rmtree(call.path)
        return check_triples(ctx.expected, rows, self.name)


TIMED_OPS = (ExtractTriples(), ExtractTriplesDeduped(), IndexUpdate(),
             GraphCommit())


def run_call(ctx, op):
    """Reset and time one call of ``op``."""
    ctx.rep += 1
    call = Call(op, ctx.rep)
    op.reset(ctx, call)
    busy0 = tracing.busy_cpu_seconds()
    t0 = time.perf_counter()
    try:
        with ctx.job_group(op.name, call.rep):
            call.result = op.run(ctx, call)
    except Exception:  # a failing call is a measured outcome, not a crash
        call.error = traceback.format_exc()
    call.wall = time.perf_counter() - t0
    call.busy = (tracing.busy_cpu_seconds() - busy0) / call.wall
    return call


def run_window(ctx, ops, seconds):
    """Call ``ops`` for ``seconds``, each time the op with the least time
    spent so far; every op runs at least once. Returns the calls."""
    t_end = time.perf_counter() + seconds
    spent = [0.0] * len(ops)
    calls = []
    while len(calls) < len(ops) or time.perf_counter() < t_end:
        i = spent.index(min(spent))
        calls.append(run_call(ctx, ops[i]))
        spent[i] += calls[-1].wall
    return calls


def verify_calls(ctx, calls):
    """Check every call's output; returns the number that failed."""
    for call in calls:
        if call.error is None:
            try:
                with ctx.job_group('verify', call.rep):
                    call.error = call.op.verify(ctx, call)
            except Exception:
                call.error = traceback.format_exc()
        if call.error:
            log('FAILED', call.op.name, call.error)
    return sum(call.error is not None for call in calls)


def walls(calls, op_name):
    return [c.wall for c in calls if c.op.name == op_name and c.error is None]


def warm_up(ctx):
    """One unverified full-size call of every timed op; returns their
    errors."""
    errors = []
    for op in TIMED_OPS:
        call = run_call(ctx, op)
        if call.error:
            errors.append(call.error)
        if call.path:
            shutil.rmtree(call.path, ignore_errors=True)
    return errors


def setup(ctx):
    """Session, input generation (median of SETUP_REPEATS), index
    bootstrap and warm-up; returns (setup seconds, warm-up errors,
    parts)."""
    ctx.start_spark()
    t_session = time.perf_counter() - T_START
    gens = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        ctx.generate(i)
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    ctx.bootstrap_index()
    errors = warm_up(ctx)
    t_rest = time.perf_counter() - t0
    parts = {'session_s': t_session, 'generate_s': gens,
             'bootstrap_and_warmup_s': t_rest}
    return t_session + statistics.median(gens) + t_rest, errors, parts


def end_to_end(ctx):
    setup_s, errors, parts = setup(ctx)
    with tracing.RssSampler() as rss:
        calls = run_window(ctx, TIMED_OPS, ctx.args.seconds)
    failed = verify_calls(ctx, calls)
    values = {'setup_s': setup_s, 'peak_rss_mb': rss.peak / 2 ** 20}
    for op_name, metric in OP_METRIC.items():
        ws = walls(calls, op_name)
        values[metric] = ctx.n_docs * len(ws) / sum(ws) if ws else 0.0
    info = {'setup_parts': parts, 'rss_at_peak_mb': rss.peak_parts,
            'walls': {op: walls(calls, op) for op in OP_METRIC}}
    return values, len(calls), failed, errors, info


def per_layer(ctx):
    """Layer throughput, then untraced and traced windows."""
    _, errors, _ = setup(ctx)
    values = layer_metrics(ctx.batch, ctx.catalog, ctx.pool['header'],
                           LAYER_SAMPLE_DOCS)
    untraced = run_window(ctx, TIMED_OPS, ctx.args.seconds / 4)
    failed = verify_calls(ctx, untraced)

    ctx.spark.stop()
    log_dir = os.path.join(ctx.work, 'eventlog')
    os.makedirs(log_dir)
    ctx.start_spark(log_dir)
    app_id = ctx.spark.sparkContext.applicationId
    errors += warm_up(ctx)
    traced = run_window(ctx, TIMED_OPS + (StatementKeys(),),
                        ctx.args.seconds / 4)
    failed += verify_calls(ctx, traced)
    ctx.spark.stop()
    ctx.spark = None
    groups = tracing.reduce_event_log(
        tracing.event_log_file(log_dir, app_id))

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def ok(op_name):
        return [c for c in traced if c.op.name == op_name and not c.error]

    def group(op_name, key):
        return [groups[g][key] for g in ('{}#{}'.format(op_name, c.rep)
                                         for c in ok(op_name))
                if g in groups]

    def layer(op_name, key):
        return med(c.layer[key] for c in ok(op_name) if key in c.layer)

    t, _, i, c = OP_METRIC  # op names in TIMED_OPS order
    k = StatementKeys.name
    values.update({
        t + '.wall_s': med(walls(traced, t)),
        t + '.shuffle_write_mb': med(
            b / 2 ** 20 for b in group(t, 'bytes_shuffle_written')),
        t + '.task_skew': med(
            tracing.task_skew(s) for s in group(t, 'stage_task_ms')),
        t + '.cores_busy': med(x.busy for x in ok(t)),
        k + '.wall_s': med(walls(traced, k)),
        k + '.keys_per_statement': layer(k, 'keys_per_statement'),
        i + '.wall_s': med(walls(traced, i)),
        i + '.novel_ratio': layer(i, 'novel_ratio'),
        i + '.cores_busy': med(x.busy for x in ok(i)),
        c + '.wall_s': med(walls(traced, c)),
        c + '.cores_busy': med(x.busy for x in ok(c)),
        c + '.jobs': med(group(c, 'jobs')),
        c + '.bytes_written_mb': layer(c, 'bytes_written_mb'),
        c + '.edge_survival_ratio': layer(c, 'edge_survival_ratio'),
        'pipeline.read_graph.wall_s': layer(c, 'read_graph_wall_s'),
        'spark.task_failures': groups['*']['failed_tasks'],
    })

    def mean_walls(calls):
        return sum(statistics.mean(walls(calls, op.name) or [0.0])
                   for op in TIMED_OPS)

    untraced_wall = mean_walls(untraced)
    values['trace.overhead_ratio'] = mean_walls(traced) / untraced_wall \
        if untraced_wall else 0.0
    info = {'untraced_walls': {op: walls(untraced, op) for op in OP_METRIC},
            'traced_walls': {op: walls(traced, op)
                             for op in list(OP_METRIC) + [k]}}
    return values, len(untraced) + len(traced), failed, errors, info


def shutdown(ctx):
    """Stop Spark and wait until the JVM and its workers have exited."""
    from pyspark import SparkContext

    pids = tracing.descendants(os.getpid())
    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, 'proc', None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists('/proc/{}'.format(pid)):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    p.add_argument('--workload', required=True, choices=WORKLOADS)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--docs', type=int, default=0,
                   help='batch size override (self-test only)')
    p.add_argument('--corrupt-expected', action='store_true',
                   help='swap one expected triple for a wrong one '
                        '(self-test of the output check)')
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    import pybel_spark  # noqa: F401  fail fast outside a checkout
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    # Python workers import pybel_spark from the checkout too
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (ROOT, os.environ.get('PYTHONPATH')) if p)
    work = os.path.join(WORK_DIR, '{}-{}'.format(args.workload, os.getpid()))
    os.makedirs(os.path.join(work, 'tmp'))
    os.environ['TMPDIR'] = tempfile.tempdir = os.path.join(work, 'tmp')
    ctx = Context(args, work)
    try:
        if args.trace:
            values, attempted, failed, errors, info = per_layer(ctx)
            units = {m['name']: m['unit'] for m in spec['per_layer']}
        else:
            values, attempted, failed, errors, info = end_to_end(ctx)
            units = {m['name']: m['unit'] for m in spec['end_to_end']}
    finally:
        shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)
    if set(values) != set(units):
        raise RuntimeError('metrics {} do not match BENCHMARK.json {}'.format(
            sorted(values), sorted(units)))
    info.update({'workload': args.workload, 'seed': args.seed,
                 'docs': ctx.n_docs, 'cores': ctx.cores,
                 'driver_memory': DRIVER_MEMORY, 'warmup_errors': errors,
                 'total_s': time.perf_counter() - T_START})
    print('# ' + json.dumps(info, sort_keys=True))
    print(json.dumps({
        'correct': failed == 0 and not errors,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': values[k], 'unit': units[k]}
                    for k in sorted(values)},
    }))
    return 0


if __name__ == '__main__':
    sys.exit(main())
