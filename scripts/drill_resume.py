"""Checkpoint-resume drill: hard-kill a run right after its first commit,
hard-kill the resume in the middle of a group's table writes, re-submit,
verify that the final resume skips the committed buckets and that the
output is complete and duplicate-free.

1. Mode (a): launch run_pipeline on a synthetic corpus (32 buckets, 8
   commit groups) in a subprocess, poll the output dir, and SIGKILL the run
   as soon as its first MANIFEST.json swap is visible. The drill fails when
   the run ends, or FIRST_COMMIT_TIMEOUT passes, before that swap, or when
   the run committed every bucket.
2. Mode (b): re-run with the same --output and SIGKILL it as soon as a
   table data dir (``<table>/<commit_id>/``) that this run wrote exists
   while the manifest does not name its commit id: the group's three
   tables are written at once, so the kill lands among partly written
   dirs. The drill prints each uncommitted dir it hit and fails when the
   kill came too early (no such dir on disk) or too late (the run ended,
   or the manifest named the commit by the time the kill landed), or when
   the run rewrote a dir that mode (a) had committed.
3. Re-run to the end. The drill fails unless this resume skips exactly the
   committed buckets (``skipped_buckets``), processes the rest
   (``processed_buckets``) and commits every dir mode (b) hit as a
   complete write.
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
TABLES = ('nodes', 'edges', 'warnings')
#: seconds a run gets to reach the point at which the drill kills it
KILL_TIMEOUT = 300.0


def launch(n_docs):
    return subprocess.Popen(
        [sys.executable, 'scripts/run_pipeline.py', '--synthetic', str(n_docs),
         '--output', OUT, '--buckets', str(N_BUCKETS)],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, preexec_fn=os.setsid)


def kill(proc):
    os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    proc.wait()


def read_manifest():
    """The published manifest; it only ever changes by an atomic rename."""
    try:
        with open(os.path.join(OUT, 'MANIFEST.json')) as f:
            return json.load(f)
    except FileNotFoundError:
        return {'commits': []}


def committed_ids(manifest):
    return {c['commit_id'] for c in manifest['commits']}


def dir_mtime(table, cid):
    """mtime of ``<table>/<cid>/``, or None once it is gone (an overwrite
    deletes the dir before it writes it again)."""
    try:
        return os.stat(os.path.join(OUT, table, cid)).st_mtime
    except FileNotFoundError:
        return None


def uncommitted_dirs(since):
    """``(table, commit id)`` of the data dirs changed at or after
    ``since`` whose commit id the manifest does not name."""
    named = committed_ids(read_manifest())
    hits = []
    for table in TABLES:
        path = os.path.join(OUT, table)
        for cid in (os.listdir(path) if os.path.isdir(path) else []):
            mtime = dir_mtime(table, cid)
            if cid not in named and mtime is not None and mtime >= since:
                hits.append((table, cid))
    return sorted(hits)


def dir_state(table, cid):
    path = os.path.join(OUT, table, cid)
    if not os.path.isdir(path):
        return 'not started'
    if os.path.exists(os.path.join(path, '_SUCCESS')):
        return 'complete'
    n_parts = sum(f.startswith('part-') for _, _, files in os.walk(path)
                  for f in files)
    return 'partial ({} part files)'.format(n_parts)


def wait_for(proc, what, ready):
    """Poll until ``ready()`` is true, then SIGKILL ``proc``; return the
    seconds since the wait began. Fails when ``proc`` ends or KILL_TIMEOUT
    passes first."""
    start = time.monotonic()
    while not ready():
        if proc.poll() is not None:
            raise SystemExit('RESUME DRILL FAILED: the run exited ({}) before '
                             '{}'.format(proc.returncode, what))
        if time.monotonic() > start + KILL_TIMEOUT:
            kill(proc)
            raise SystemExit('RESUME DRILL FAILED: no {} within {:.0f}s'
                             .format(what, KILL_TIMEOUT))
        time.sleep(0.02)
    kill(proc)
    return time.monotonic() - start


def kill_at_first_commit(proc):
    """Mode (a): SIGKILL ``proc`` once MANIFEST.json exists; return the
    manifest. The manifest only ever appears by an atomic rename, so its
    existence is the first commit."""
    mpath = os.path.join(OUT, 'MANIFEST.json')
    took = wait_for(proc, 'its first commit', lambda: os.path.exists(mpath))
    print('mode (a): killed run 1 {:.1f}s after launch'.format(took))
    return read_manifest()


def kill_mid_write(proc, launched_at, before):
    """Mode (b): SIGKILL ``proc`` once a data dir it wrote exists that the
    manifest does not name; return the ``(table, commit id)`` dirs of the
    groups it hit. ``before`` is the manifest the run started from."""
    seen = []

    def ready():
        seen[:] = uncommitted_dirs(launched_at)
        return seen

    took = wait_for(proc, 'uncommitted table write', ready)
    hit = sorted({cid for _, cid in seen})
    print('mode (b): killed run 2 {:.1f}s after launch; data dirs of the '
          'commit ids it was writing:'.format(took))
    for cid in hit:
        for table in TABLES:
            print('  {}/{}: {}'.format(table, cid, dir_state(table, cid)))
    late = committed_ids(read_manifest()) & set(hit)
    if late:
        raise SystemExit('RESUME DRILL FAILED: mode (b) killed too late: the '
                         'manifest already names {}'.format(sorted(late)))
    if not uncommitted_dirs(launched_at):
        raise SystemExit('RESUME DRILL FAILED: mode (b) killed too early: no '
                         'table dir of run 2 was on disk')
    for c in before['commits']:
        for table in TABLES:
            mtime = dir_mtime(table, c['commit_id'])
            if mtime is not None and mtime >= launched_at:
                raise SystemExit('RESUME DRILL FAILED: run 2 rewrote the '
                                 'committed {}/{}'.format(table,
                                                          c['commit_id']))
    return [(table, cid) for cid in hit for table in TABLES]


def committed_buckets(manifest):
    return sorted(b for c in manifest['commits'] for b in c['buckets'])


def main():
    if len(sys.argv) > 2:
        raise SystemExit('usage: python scripts/drill_resume.py [n_docs]')
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000

    shutil.rmtree(OUT, ignore_errors=True)

    print('launching run 1 (killed at its first commit)...')
    manifest = kill_at_first_commit(launch(n_docs))
    committed = committed_buckets(manifest)
    commit_ids = committed_ids(manifest)
    edges_dir = os.path.join(OUT, 'edges')
    on_disk = os.listdir(edges_dir) if os.path.isdir(edges_dir) else []
    orphans = sorted(set(on_disk) - commit_ids)
    print('state after kill: {} commits holding {} of {} buckets, {} orphan '
          'data dirs {}'.format(len(commit_ids), len(committed), N_BUCKETS,
                                len(orphans), orphans))
    if len(committed) == N_BUCKETS:
        raise SystemExit('RESUME DRILL FAILED: run 1 committed every bucket '
                         'before the kill')

    print('launching run 2 (killed in the middle of a group\'s writes)...')
    launched_at = time.time()
    hit = kill_mid_write(launch(n_docs), launched_at, manifest)
    committed = committed_buckets(read_manifest())

    print('launching run 3 (resume)...')
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
    named = committed_ids(read_manifest())
    for table, cid in hit:
        if cid not in named or dir_state(table, cid) != 'complete':
            raise SystemExit('RESUME DRILL FAILED: the resume did not commit '
                             '{}/{} as a complete write'.format(table, cid))

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
    print('RESUME DRILL PASSED: resumed past {} committed buckets and over '
          'the killed writes of {} commit group(s); no duplicates, complete '
          'output'.format(len(committed), len({cid for _, cid in hit})))
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == '__main__':
    main()
