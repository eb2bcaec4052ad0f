"""Session-factory configuration checks that run before Spark starts."""
import pytest

from pybel_spark.session import broadcast_threshold

VAR = 'SPARK_GRAFT_BROADCAST_THRESHOLD'


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
