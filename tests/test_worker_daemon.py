"""The worker daemon keeps the zip directories of Spark's own archives
cached across tasks, and only those."""
import os
import zipfile
import zipimport

from pybel_spark.worker_daemon import keep_spark_archives


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, 'w') as z:
        for name in modules:
            z.writestr(name + '.py', 'X = 1\n')


def test_only_archives_under_spark_home_skip_the_reread(tmp_path, monkeypatch):
    # restored after the test: the hook patches the class
    monkeypatch.setattr(zipimport.zipimporter, 'invalidate_caches',
                        zipimport.zipimporter.invalidate_caches)
    (tmp_path / 'spark' / 'lib').mkdir(parents=True)
    spark_zip = str(tmp_path / 'spark' / 'lib' / 'spark.zip')
    other_zip = str(tmp_path / 'py_files.zip')
    _write_zip(spark_zip, 'a')
    _write_zip(other_zip, 'a')
    spark_imp = zipimport.zipimporter(spark_zip)
    other_imp = zipimport.zipimporter(other_zip)
    keep_spark_archives(str(tmp_path / 'spark'))
    _write_zip(spark_zip, 'a', 'b')
    _write_zip(other_zip, 'a', 'b')
    spark_imp.invalidate_caches()
    other_imp.invalidate_caches()
    assert spark_imp.find_spec('b') is None
    assert other_imp.find_spec('b') is not None


def test_no_spark_home_keeps_stock_behaviour(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, 'invalidate_caches', stock)
    keep_spark_archives('')
    assert zipimport.zipimporter.invalidate_caches is stock


def _probe_worker(batches):
    import importlib
    import sys
    import time

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    home = os.path.realpath(os.environ.get('SPARK_HOME', ''))
    spark_archives = sum(
        isinstance(v, zipimport.zipimporter)
        and os.path.realpath(v.archive).startswith(os.path.join(home, ''))
        for v in list(sys.path_importer_cache.values()))
    start = time.process_time()
    importlib.invalidate_caches()
    cost = time.process_time() - start
    yield pd.DataFrame({'cost': [cost], 'pyspark_file': [pyspark.__file__],
                        'spark_home': [home],
                        'spark_archives': [spark_archives]})


def test_python_task_keeps_spark_zip_caches(spark):
    """A Python task finds Spark's archives cached: its per-task
    ``invalidate_caches()`` costs well under 10 ms of CPU (the stock
    re-read of pyspark.zip, py4j and the spark-core jar costs ~0.2 s), and
    pyspark still comes from ``$SPARK_HOME/python/lib/pyspark.zip``."""
    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        _probe_worker, 'cost double, pyspark_file string, spark_home string, '
                       'spark_archives long').collect()
    spark_zip = os.path.join(row['spark_home'], 'python', 'lib', 'pyspark.zip')
    assert os.path.realpath(row['pyspark_file']).startswith(spark_zip + os.sep)
    assert row['spark_archives'] > 0
    assert row['cost'] < 0.010
