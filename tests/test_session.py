"""Session-factory configuration checks that run before Spark starts."""
import os
import zipfile
from types import SimpleNamespace

import pytest

from pybel_spark import session
from pybel_spark.session import (
    WORKER_DAEMON, broadcast_threshold, worker_daemon_conf)

VAR = 'SPARK_GRAFT_BROADCAST_THRESHOLD'
DAEMON_KEY = 'spark.python.daemon.module'


def test_broadcast_threshold_default_is_64_mb():
    assert broadcast_threshold({}) == str(64 * 1024 * 1024)


@pytest.mark.parametrize('value', [
    '0', '10485760', '-1', '32m', '32MB', '1g', '512k', '100b', ' 8m '])
def test_broadcast_threshold_accepts_byte_sizes(value):
    assert broadcast_threshold({VAR: value}) == value.strip()


@pytest.mark.parametrize('value', [
    '', 'sixty', '-2', '-1m', '1.5g', '32 m', '32x', '0x40', 'm'])
def test_broadcast_threshold_rejects_malformed_values(value):
    with pytest.raises(ValueError, match=VAR):
        broadcast_threshold({VAR: value})


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: ``getOrCreate`` returns the
    config ``get_spark`` set instead of starting Spark."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    appName = master

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def built_conf(monkeypatch, extra_conf=None):
    monkeypatch.setattr(session, 'SparkSession',
                        SimpleNamespace(builder=_RecordingBuilder()))
    return session.get_spark(cores=2, extra_conf=extra_conf)


def test_worker_daemon_set_when_importable_from_cwd_or_pythonpath(
        tmp_path, monkeypatch):
    want = {DAEMON_KEY: WORKER_DAEMON}
    assert worker_daemon_conf(cwd=REPO, pythonpath='') == want
    assert worker_daemon_conf(
        cwd=str(tmp_path),
        pythonpath=os.pathsep.join(['', str(tmp_path), REPO])) == want
    monkeypatch.chdir(REPO)
    monkeypatch.setenv('PYTHONPATH', '')
    assert built_conf(monkeypatch)[DAEMON_KEY] == WORKER_DAEMON


def test_worker_daemon_not_set_when_not_importable(tmp_path, monkeypatch):
    assert worker_daemon_conf(cwd=str(tmp_path), pythonpath='') == {}
    # the package the workers would import first lacks the module
    (tmp_path / 'pybel_spark').mkdir()
    (tmp_path / 'pybel_spark' / '__init__.py').write_text('')
    assert worker_daemon_conf(cwd=str(tmp_path), pythonpath=REPO) == {}
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv('PYTHONPATH', REPO)
    assert DAEMON_KEY not in built_conf(monkeypatch)


def test_worker_daemon_not_set_from_py_files_archive(tmp_path):
    """A ``--py-files`` archive is on the driver's PYTHONPATH under
    spark-submit, but not on the worker daemon's."""
    archive = str(tmp_path / 'pybel_spark.zip')
    with zipfile.ZipFile(archive, 'w') as z:
        for name in ('__init__.py', 'worker_daemon.py'):
            z.write(os.path.join(REPO, 'pybel_spark', name),
                    'pybel_spark/' + name)
    (tmp_path / 'cwd').mkdir()
    assert worker_daemon_conf(
        cwd=str(tmp_path / 'cwd'), pythonpath=archive) == {}


def test_worker_daemon_keeps_callers_daemon_module(monkeypatch):
    monkeypatch.chdir(REPO)
    conf = built_conf(monkeypatch, {DAEMON_KEY: 'pyspark.daemon'})
    assert conf[DAEMON_KEY] == 'pyspark.daemon'
