"""queries.common.spread_scan fails closed: a maxPartitionBytes value
its size parse does not understand skips the guard instead of raising."""

from __future__ import annotations

import pytest

from harvesting_validator_spark.queries.common import spread_scan


class _ConfSpark:
    """The session with one conf value overridden: Spark itself refuses
    to store a malformed size for this key, so the guard is fed one."""

    def __init__(self, spark, mpb: str):
        self._spark = spark
        self._mpb = mpb

    @property
    def conf(self):
        outer = self

        class _Conf:
            def get(self, key, default=None):
                if key == "spark.sql.files.maxPartitionBytes":
                    return outer._mpb
                return outer._spark.conf.get(key, default)

        return _Conf()

    def __getattr__(self, name):
        return getattr(self._spark, name)


@pytest.fixture(scope="module")
def small_table(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("spread")
    spark.range(100).write.parquet(str(d / "t.parquet"))
    return str(d), spark.read.parquet(str(d / "t.parquet"))


def test_small_scan_is_spread(spark, small_table):
    sf_dir, df = small_table
    for mpb in ("134217728b", "128m", "128mb", "1g"):
        assert spread_scan(_ConfSpark(spark, mpb), sf_dir, "t", df) is not df


@pytest.mark.parametrize("mpb", ["0.5g", "abc", "0", ""])
def test_unparsable_size_returns_frame_unchanged(spark, small_table, mpb):
    sf_dir, df = small_table
    assert spread_scan(_ConfSpark(spark, mpb), sf_dir, "t", df) is df
