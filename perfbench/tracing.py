"""Host and Spark-event-log measurements for the benchmark.

- :class:`RssSampler` samples the summed resident set of this process and
  all its descendants (the Spark JVM and its Python workers).
- :func:`busy_cpu_seconds` reads the VM-wide busy CPU time from
  ``/proc/stat``.
- :func:`reduce_event_log` folds a Spark event log into per-job-group
  numbers: jobs, task times, shuffle bytes written, failed tasks.
"""
import json
import os
import statistics
import threading

_CLK_TCK = os.sysconf('SC_CLK_TCK')
_PAGE = os.sysconf('SC_PAGE_SIZE')


def _process_table():
    """{pid: ppid} of every live process."""
    parents = {}
    for entry in os.listdir('/proc'):
        if not entry.isdigit():
            continue
        try:
            with open('/proc/{}/stat'.format(entry)) as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        parents[int(entry)] = int(stat[stat.rindex(')') + 2:].split()[1])
    return parents


def descendants(pid, parents=None):
    """Pids of every live descendant of ``pid``, parents before their
    children; ``parents`` is a :func:`_process_table` to reuse."""
    children = {}
    for p, ppid in (parents or _process_table()).items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _exe(pid):
    try:
        return os.readlink('/proc/{}/exe'.format(pid))
    except OSError:
        return None


def tree_rss(pid):
    """{pid: (command name, RSS bytes)} of ``pid`` and its descendants.

    A child of the JVM that still runs the JVM's executable is a fork
    that has not exec'd its command yet; it shares the JVM's pages, so it
    is left out rather than counted twice."""
    parents = _process_table()
    out = {}
    for p in [pid] + descendants(pid, parents):
        parent = parents[p] if p != pid else None
        if parent in out and out[parent][0] == 'java' \
                and _exe(p) == _exe(parent):
            continue
        try:
            with open('/proc/{}/comm'.format(p)) as f:
                comm = f.read().strip()
            with open('/proc/{}/statm'.format(p)) as f:
                out[p] = (comm, int(f.read().split()[1]) * _PAGE)
        except OSError:
            pass  # the process ended while we read it
    return out


class RssSampler:
    """Peak summed RSS of a process tree, sampled on a daemon thread;
    ``peak_parts`` breaks the peak down by command name."""

    INTERVAL = 0.1  # seconds between samples

    def __init__(self):
        self.pid = os.getpid()
        self.peak = 0
        self.peak_parts = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        procs = tree_rss(self.pid)
        total = sum(rss for _, rss in procs.values())
        if total > self.peak:
            self.peak = total
            parts = {}
            for comm, rss in procs.values():
                n, mb = parts.get(comm, (0, 0.0))
                parts[comm] = (n + 1, mb + rss / 2 ** 20)
            self.peak_parts = parts

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def busy_cpu_seconds():
    """Busy (non-idle, non-iowait) CPU seconds of the whole VM so far."""
    with open('/proc/stat') as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    busy = sum(fields[:8]) - fields[3] - fields[4]
    return busy / _CLK_TCK


def event_log_file(log_dir, app_id):
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError('no event log for {} in {}'.format(app_id,
                                                               log_dir))


def reduce_event_log(path):
    """{job_group: {...}} from a finished, uncompressed Spark event log.

    For each job group: ``jobs`` (count), ``bytes_shuffle_written``,
    ``failed_tasks`` and ``stage_task_ms`` ({stage id: [task
    durations in ms]}). The ``None`` group collects jobs run without a
    label. ``failed_tasks`` over all groups is also returned under
    ``'*'``.
    """
    stage_group, groups = {}, {}
    failed_total = 0

    def group(name):
        return groups.setdefault(name, {
            'jobs': 0, 'bytes_shuffle_written': 0, 'failed_tasks': 0,
            'stage_task_ms': {}})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get('Event')
            if kind == 'SparkListenerJobStart':
                name = (ev.get('Properties') or {}).get('spark.jobGroup.id')
                group(name)['jobs'] += 1
                for sid in ev.get('Stage IDs', ()):
                    stage_group[sid] = name
            elif kind == 'SparkListenerTaskEnd':
                g = group(stage_group.get(ev['Stage ID']))
                info = ev['Task Info']
                if ev['Task End Reason']['Reason'] != 'Success' \
                        or info.get('Failed') or info.get('Killed'):
                    g['failed_tasks'] += 1
                    failed_total += 1
                g['stage_task_ms'].setdefault(ev['Stage ID'], []).append(
                    info['Finish Time'] - info['Launch Time'])
                metrics = ev.get('Task Metrics') or {}
                g['bytes_shuffle_written'] += (
                    metrics.get('Shuffle Write Metrics') or {}).get(
                        'Shuffle Bytes Written', 0)
    groups['*'] = {'failed_tasks': failed_total}
    return groups


def task_skew(stage_task_ms):
    """max/median task time of the stage with the most task time (the
    parse stage of a pipeline call)."""
    times = max(stage_task_ms.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0
