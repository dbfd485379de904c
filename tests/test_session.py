"""Session-factory knobs fail with a descriptive error, before any
SparkSession is built."""

from __future__ import annotations

import pytest

from time_series_and_data_lakes_spark import session


class _NoBuilder:
    def __getattr__(self, name):
        raise AssertionError(f"SparkSession.{name} touched before validation")


@pytest.mark.parametrize("value", ["abc", "0", "-2", ""])
def test_spark_graft_cpus_must_be_positive_integer(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    monkeypatch.setattr(session, "SparkSession", _NoBuilder())
    with pytest.raises(ValueError, match=rf"SPARK_GRAFT_CPUS .*positive integer.*{value!r}"):
        session.get_spark()
