"""``session.spark_cpus``: the ``$SPARK_GRAFT_CPUS`` check that runs
before any master string is built. No session is created here."""

from __future__ import annotations

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.session import (
    get_spark,
    spark_cpus,
)


@pytest.mark.parametrize("value", ["", "0", "00", "-1", "2.5", "four", " 4", "4*"])
def test_bad_spark_graft_cpus_raises_naming_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        spark_cpus()
    # get_spark checks before it builds anything
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")


@pytest.mark.parametrize("value", ["1", "4", "32", "*"])
def test_valid_spark_graft_cpus_pass_through(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert spark_cpus() == value


def test_unset_spark_graft_cpus_takes_the_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == "*"
    assert spark_cpus(default="8") == "8"
