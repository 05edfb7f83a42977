"""build_session's environment knobs fail loudly: a bad
SPARK_GRAFT_CPUS or SPARK_GRAFT_DRIVER_MEM raises a ValueError naming
the variable and the value before any builder call."""

from __future__ import annotations

import pytest

from cc_pyspark_spark import session


class _NoSparkSession:
    def __getattr__(self, name):
        raise AssertionError(f"SparkSession.{name} touched before validation")


@pytest.mark.parametrize(
    "var, value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "-4"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "2.5"),
        ("SPARK_GRAFT_DRIVER_MEM", "8 gigs"),
        ("SPARK_GRAFT_DRIVER_MEM", "0g"),
        ("SPARK_GRAFT_DRIVER_MEM", "g8"),
        ("SPARK_GRAFT_DRIVER_MEM", ""),
    ],
)
def test_bad_env_value_raises_before_builder(monkeypatch, var, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    monkeypatch.setenv(var, value)
    monkeypatch.setattr(session, "SparkSession", _NoSparkSession())
    with pytest.raises(ValueError) as err:
        session.build_session()
    assert var in str(err.value) and repr(value) in str(err.value)


@pytest.mark.parametrize(
    "cpus, mem, want",
    [
        ("4", "8g", ("4", "8g")),
        (" 2 ", " 2048M ", ("2", "2048m")),
        ("1", "512mb", ("1", "512mb")),
        ("32", "1073741824", ("32", "1073741824")),
    ],
)
def test_good_env_values_are_normalised(monkeypatch, cpus, mem, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
    assert session._env_settings() == want
