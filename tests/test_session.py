"""``SPARK_GRAFT_CPUS`` is parsed in one place, ``session.local_cpus``."""

import os

import pytest

from etl_mssql_to_postgres_dailysync_spark.session import get_spark, local_cpus


@pytest.mark.parametrize("raw", ["", "abc", "0", "-2", "1.5"])
def test_bad_cpus_rejected(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS must be a positive integer"):
        get_spark()


def test_cpus_default_and_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == (os.cpu_count() or 4)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
