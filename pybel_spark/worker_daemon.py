"""Python worker daemon that keeps Spark's own zip directories cached.

Run by the JVM as ``python -m pybel_spark.worker_daemon`` when
``spark.python.daemon.module`` names it (:func:`pybel_spark.session.get_spark`
sets it). It patches one method and then hands over to the stock
``pyspark.daemon.manager()``, so workers still fork from it and import
pyspark from Spark's own ``pyspark.zip``.

Why: every Python task calls ``importlib.invalidate_caches()`` once
(pyspark ``worker_util.py``, after it adds the task's ``--py-files``). Up to
CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the whole zip
directory of its archive on the spot, so each task re-reads ``pyspark.zip``
(once per cached sub-package importer), the py4j zip and the spark-core jar:
about 0.2 CPU-s per task before it touches a row. Those archives belong to
the Spark install and do not change while a worker lives, so for an archive
under ``SPARK_HOME`` the re-read is skipped. Every other archive, such as
``--py-files`` zips or anything added at run time, keeps the stock
behaviour.

Stdlib only: the module runs before the worker imports anything else.
"""
import os
import zipimport


def keep_spark_archives(spark_home):
    """Make ``zipimporter.invalidate_caches`` a no-op for archives under
    ``spark_home``; other archives keep the stock re-read. Does nothing when
    ``spark_home`` is empty."""
    if not spark_home:
        return
    root = os.path.join(os.path.realpath(spark_home), '')
    stock = zipimport.zipimporter.invalidate_caches
    kept = {}

    def invalidate_caches(self):
        if self.archive not in kept:
            kept[self.archive] = os.path.realpath(self.archive).startswith(root)
        if not kept[self.archive]:
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == '__main__':
    keep_spark_archives(os.environ.get('SPARK_HOME'))
    from pyspark import daemon
    daemon.manager()
