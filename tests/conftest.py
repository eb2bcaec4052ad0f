import contextlib
import json
import os

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
GOLDEN_DIR = os.path.join(HERE, 'golden')
POOL_PATH = os.path.join(REPO, 'fixtures', 'pool.json')
REFERENCE_SRC = '/root/reference/src/pybel'
BEL_DIR = os.path.join(REFERENCE_SRC, 'testing', 'resources', 'bel')

#: tests that read the reference checkout itself (its .bel documents, its
#: compiler, its importers or its .belns/.belanno files); everything else runs
#: from the frozen fixtures
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_SRC),
    reason='needs the reference checkout at {}'.format(REFERENCE_SRC))


def load_golden(name):
    with open(os.path.join(GOLDEN_DIR, '{}.json'.format(name))) as f:
        return json.load(f)


def load_pool():
    with open(POOL_PATH) as f:
        return json.load(f)


@pytest.fixture(scope='session')
def pool():
    return load_pool()


@pytest.fixture(scope='session')
def spark():
    """Shared local SparkSession for the test run."""
    from pybel_spark.session import get_spark
    spark = get_spark(app_name='pybel-spark-tests', cores=4, shuffle_partitions=8)
    yield spark


def job_ids(spark, group):
    """Ids of the Spark jobs the status store holds for job ``group``
    (``None``: jobs without one), once the listener bus has delivered every
    event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def job_group(spark, group):
    """Run the block's Spark jobs under job ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
