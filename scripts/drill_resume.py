"""Checkpoint-resume drill: hard-kill a run right after its first commit,
re-submit, verify that the resume skips the committed buckets and that the
output is complete and duplicate-free.

1. Launch run_pipeline on a synthetic corpus (32 buckets, 8 commit groups)
   in a subprocess.
2. Poll the output dir; SIGKILL the run as soon as its first MANIFEST.json
   swap is visible. The drill fails when the run ends, or FIRST_COMMIT_TIMEOUT
   passes, before that swap.
3. Re-run with the same --output. The drill fails unless the resume skips
   exactly the committed buckets (``skipped_buckets``) and processes the
   rest (``processed_buckets``).
4. Verify: edge_ids unique, triples == expected.

Usage: python scripts/drill_resume.py [n_docs]
"""
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = '/tmp/pybel_spark_drill_out'
N_BUCKETS = 32
#: seconds run 1 gets to make its first commit
FIRST_COMMIT_TIMEOUT = 300.0


def launch(n_docs):
    return subprocess.Popen(
        [sys.executable, 'scripts/run_pipeline.py', '--synthetic', str(n_docs),
         '--output', OUT, '--buckets', str(N_BUCKETS)],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, preexec_fn=os.setsid)


def kill(proc):
    os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    proc.wait()


def kill_at_first_commit(proc):
    """SIGKILL ``proc`` once MANIFEST.json exists; return the committed
    buckets it names. The manifest only ever appears by an atomic rename,
    so its existence is the first commit."""
    mpath = os.path.join(OUT, 'MANIFEST.json')
    start = time.monotonic()
    deadline = start + FIRST_COMMIT_TIMEOUT
    while not os.path.exists(mpath):
        if proc.poll() is not None:
            raise SystemExit('RESUME DRILL FAILED: run 1 exited ({}) before '
                             'its first commit'.format(proc.returncode))
        if time.monotonic() > deadline:
            kill(proc)
            raise SystemExit('RESUME DRILL FAILED: no commit within '
                             '{:.0f}s'.format(FIRST_COMMIT_TIMEOUT))
        time.sleep(0.02)
    kill(proc)
    print('killed run 1 {:.1f}s after launch'.format(time.monotonic() - start))
    with open(mpath) as f:
        manifest = json.load(f)
    return manifest, sorted(b for c in manifest['commits']
                            for b in c['buckets'])


def main():
    if len(sys.argv) > 2:
        raise SystemExit('usage: python scripts/drill_resume.py [n_docs]')
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000

    shutil.rmtree(OUT, ignore_errors=True)

    print('launching run 1 (killed at its first commit)...')
    manifest, committed = kill_at_first_commit(launch(n_docs))
    commit_ids = [c['commit_id'] for c in manifest['commits']]
    edges_dir = os.path.join(OUT, 'edges')
    on_disk = os.listdir(edges_dir) if os.path.isdir(edges_dir) else []
    orphans = sorted(set(on_disk) - set(commit_ids))
    print('state after kill: {} commits holding {} of {} buckets, {} orphan '
          'data dirs {}'.format(len(commit_ids), len(committed), N_BUCKETS,
                                len(orphans), orphans))
    if len(committed) == N_BUCKETS:
        raise SystemExit('RESUME DRILL FAILED: run 1 committed every bucket '
                         'before the kill')

    print('launching run 2 (resume)...')
    proc = launch(n_docs)
    out, _ = proc.communicate()
    assert proc.returncode == 0, 'resume run failed'
    summary = json.loads(out.strip().splitlines()[-1])
    print('resume summary:', json.dumps(summary))
    expected_stats = {'skipped_buckets': len(committed),
                      'processed_buckets': N_BUCKETS - len(committed)}
    if summary['buckets'] != expected_stats:
        raise SystemExit('RESUME DRILL FAILED: the resume did not skip '
                         'exactly the committed buckets: {} != {}'.format(
                             summary['buckets'], expected_stats))

    # verify with a fresh session
    verify = r'''
import json, sys
sys.path.insert(0, {repo!r})
from pybel_spark.session import get_spark
from pybel_spark.pipeline import read_graph
from pybel_spark.corpus import CorpusSpec
spark = get_spark(app_name='drill-verify', cores=8)
spark.sparkContext.setLogLevel('ERROR')
g = read_graph(spark, {out!r})
n_edges = g['edges'].count()
n_ids = g['edges'].select('edge_id').distinct().count()
triples = {{tuple(r) for r in g['triples'].collect()}}
spec = CorpusSpec()
expected = set()
for i in range({n}):
    for idx in spec.unit_indices(i):
        expected.update(tuple(t) for t in spec.units[idx]['golden']['triples'])
print(json.dumps({{'edges': n_edges, 'unique_edge_ids': n_ids,
                   'triples_ok': triples == expected,
                   'n_triples': len(triples)}}))
spark.stop()
'''.format(repo=REPO, out=OUT, n=n_docs)
    res = subprocess.run([sys.executable, '-c', verify], cwd=REPO,
                         capture_output=True, text=True, check=True)
    verdict = json.loads(res.stdout.strip().splitlines()[-1])
    print('verification:', json.dumps(verdict))
    assert verdict['edges'] == verdict['unique_edge_ids'], 'duplicate edges!'
    assert verdict['triples_ok'], 'triples mismatch!'
    print('RESUME DRILL PASSED: resumed past {} committed buckets; no '
          'duplicates, complete output'.format(len(committed)))
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == '__main__':
    main()
