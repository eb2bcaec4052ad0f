"""SparkSession factory with scale-appropriate defaults."""
import os
import re
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

#: a byte count, -1 (disabled), or a Spark size string such as ``32m``
_BYTE_SIZE_RE = re.compile(r'-1|\d+(?:[kmgtp]b?|b)?', re.IGNORECASE)


def broadcast_threshold(environ=None) -> str:
    """``spark.sql.autoBroadcastJoinThreshold`` from
    ``SPARK_GRAFT_BROADCAST_THRESHOLD`` (default 64 MB), checked before the
    session is built so a malformed value names the variable instead of
    failing later as an opaque Spark config error."""
    environ = os.environ if environ is None else environ
    value = environ.get('SPARK_GRAFT_BROADCAST_THRESHOLD')
    if value is None:
        return str(64 * 1024 * 1024)
    value = value.strip()
    if not _BYTE_SIZE_RE.fullmatch(value):
        raise ValueError(
            'SPARK_GRAFT_BROADCAST_THRESHOLD must be a byte count, -1 or a '
            'Spark size string such as 32m; got {!r}'.format(value))
    return value


#: the worker daemon that keeps Spark's own zip directories cached
WORKER_DAEMON = 'pybel_spark.worker_daemon'


def worker_daemon_conf(cwd=None, pythonpath=None) -> dict:
    """``spark.python.daemon.module`` for :mod:`pybel_spark.worker_daemon`,
    or ``{}`` when it must not be set.

    The JVM starts the daemon as ``python -m <module>`` in its own working
    directory (``cwd``, default the current one) with the driver's
    ``PYTHONPATH`` (``pythonpath``, default the environment's) behind
    Spark's archives. A daemon module the workers cannot import breaks
    every Python task, so the module is named only when it can be found
    from ``cwd`` or a directory on ``pythonpath``. Archives there do not
    count: under spark-submit the ``--py-files`` archives are on the
    driver's ``PYTHONPATH``, but workers only add them per task, after the
    daemon has started."""
    if cwd is None:
        cwd = os.getcwd()
    if pythonpath is None:
        pythonpath = os.environ.get('PYTHONPATH', '')
    path = [cwd] + [p for p in pythonpath.split(os.pathsep)
                    if os.path.isdir(p)]
    package = PathFinder.find_spec(WORKER_DAEMON.split('.')[0], path)
    if package is None or not package.submodule_search_locations:
        return {}
    if PathFinder.find_spec(
            WORKER_DAEMON, package.submodule_search_locations) is None:
        return {}
    return {'spark.python.daemon.module': WORKER_DAEMON}


def get_spark(app_name='pybel-spark', cores=None, shuffle_partitions=None,
              extra_conf=None):
    """Build a local SparkSession.

    On a real cluster the same config block ships via spark-submit --conf;
    AQE + skew-join handling are on so runtime re-planning can split hot
    partitions (hot namespaces / hot URLs) without manual tuning. Python
    workers run under :mod:`pybel_spark.worker_daemon` when they can import
    it (:func:`worker_daemon_conf`), unless ``extra_conf`` names another
    ``spark.python.daemon.module``.
    """
    threshold = broadcast_threshold()
    if cores is None:
        cores = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * int(cores), 32)

    builder = (
        SparkSession.builder
        .master('local[{}]'.format(cores))
        .appName(app_name)
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '2048')
        .config('spark.sql.files.maxPartitionBytes', '134217728')
        # default 10 MB is tuned for 1 GB executors; at ≥4 GB/core a
        # 64 MB dimension table (e.g. 80k × dim-768 float vectors in the
        # ANN re-attach joins) is still far cheaper to broadcast than to
        # shuffle the fact side carrying the payload twice — measured
        # 18.6 → ~6 s on the dim-768 near-dup bench row. Overridable for
        # smaller executors (r6 ADVICE): a 64 MB build side on a 1 GB
        # executor can OOM tasks that previously shuffle-joined safely
        .config('spark.sql.autoBroadcastJoinThreshold', threshold)
        .config('spark.driver.memory', os.environ.get('SPARK_DRIVER_MEMORY', '8g'))
        .config('spark.ui.enabled', 'false')
        .config('spark.sql.session.timeZone', 'UTC')
    )
    conf = dict(worker_daemon_conf(), **(extra_conf or {}))
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
