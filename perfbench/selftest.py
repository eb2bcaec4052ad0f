"""Self-test of the benchmark through its real command.

Run from the root of a checkout (takes a few minutes)::

    python3 perfbench/selftest.py

It checks that

- a tiny run of each workload, untraced and traced, exits 0, is correct
  and prints every metric named in ``BENCHMARK.json`` with its unit;
- a run whose expected triples are corrupted reports every op as failed;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT = 180


def run(args, cwd=ROOT):
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        command = json.load(f)['command']
    proc = subprocess.run(command + args, cwd=cwd, capture_output=True,
                          text=True, timeout=TIMEOUT)
    last = proc.stdout.strip().split('\n')[-1] if proc.stdout.strip() \
        else ''
    return proc, last


def check_metrics(result, specs):
    want = {m['name']: m['unit'] for m in specs}
    got = {k: v['unit'] for k, v in result['metrics'].items()}
    if got != want:
        raise AssertionError('metrics {} != BENCHMARK.json {}'.format(
            got, want))
    if sorted(result) != ['attempted', 'correct', 'failed', 'metrics']:
        raise AssertionError('result keys {}'.format(sorted(result)))


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    tiny = ['--seed', '1', '--seconds', '1', '--docs', '200']
    for workload in [w['name'] for w in spec['workloads']]:
        for trace in ('0', '1'):
            proc, last = run(['--workload', workload, '--trace', trace]
                             + tiny)
            if proc.returncode != 0:
                raise AssertionError(proc.stderr[-3000:])
            result = json.loads(last)
            if not result['correct'] or result['failed']:
                raise AssertionError('{} trace {} failed: {}\n{}'.format(
                    workload, trace, last, proc.stderr[-3000:]))
            check_metrics(result, spec['per_layer' if trace == '1'
                                        else 'end_to_end'])
            print('ok', workload, 'trace', trace, flush=True)

    proc, last = run(['--workload', spec['workloads'][0]['name'],
                      '--trace', '0', '--corrupt-expected'] + tiny)
    result = json.loads(last)
    if result['correct'] or result['failed'] != result['attempted'] \
            or result['attempted'] < 1:
        raise AssertionError('corrupted expected triple not reported: '
                             + last)
    print('ok corrupted expected triple -> {} of {} ops failed'.format(
        result['failed'], result['attempted']), flush=True)

    bare = os.path.join(ROOT, '.perfbench_work', 'bare')
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), bare)
        for path in spec['paths']:
            shutil.copytree(os.path.join(ROOT, path),
                            os.path.join(bare, path),
                            ignore=shutil.ignore_patterns('__pycache__'))
        proc, last = run(['--workload', spec['workloads'][0]['name'],
                          '--trace', '0'] + tiny, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or last.startswith('{'):
        raise AssertionError('bare directory run did not fail: ' + last)
    print('ok bare directory exits {}'.format(proc.returncode))
    return 0


if __name__ == '__main__':
    sys.exit(main())
