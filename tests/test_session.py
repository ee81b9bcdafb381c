"""Session start-up: a JVM that fails to start must say which heap it
tried and which environment knobs change it."""

import pytest
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from skar_spark.session import get_spark


def test_startup_failure_names_heap_and_env_knobs(monkeypatch):
    def refuse(self):
        raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED",
                                  messageParameters={})

    monkeypatch.setenv("SKAR_DRIVER_MEM", "3g")
    monkeypatch.delenv("SKAR_MASTER", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", refuse)
    with pytest.raises(RuntimeError) as ei:
        get_spark(cpus=2)
    msg = str(ei.value)
    for part in ("3g", "local[2]", "SKAR_DRIVER_MEM", "SPARK_GRAFT_CPUS",
                 "JAVA_GATEWAY_EXITED"):
        assert part in msg
    assert "gateway" in str(ei.value.__cause__)
