"""Session sizing: cores and heap come from the box, and a request the box
cannot hold fails before any JVM is launched."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from schema_validator_spark import session
from schema_validator_spark.session import get_spark


@pytest.fixture
def no_jvm(monkeypatch):
    """Fail the test if get_spark reaches the session builder."""

    def launched(self):
        raise AssertionError("getOrCreate was called")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launched)


@pytest.fixture
def box_8g(monkeypatch):
    """A fixed MemAvailable, so the sizing arithmetic does not depend on
    what else the machine is doing."""
    monkeypatch.setattr(session, "mem_available_mib", lambda: 8192)


def test_oversized_driver_mem_fails_fast(no_jvm, box_8g):
    with pytest.raises(ValueError, match=r"1024000 MiB.*MemAvailable"):
        get_spark("svs-oversized", driver_mem="1000g")


@pytest.mark.parametrize("size", ["lots", "4x", "-1g", "0m", ""])
def test_malformed_size_fails_fast(no_jvm, size):
    with pytest.raises(ValueError, match="malformed memory size"):
        get_spark("svs-malformed", driver_mem=size)


def test_local_cluster_counts_every_executor_heap(no_jvm, box_8g):
    each = "2048m"  # four executors plus the driver overflow, one would fit
    assert session.box_sizing(
        master="local-cluster[1,1,1024]", executor_mem=each, driver_mem="256m"
    )
    with pytest.raises(ValueError, match="4 executors"):
        get_spark(
            "svs-lc", master="local-cluster[4,1,1024]", executor_mem=each, driver_mem="256m"
        )


def test_default_sizing_comes_from_the_box(monkeypatch):
    assert session.mem_available_mib() > 0
    monkeypatch.setattr(session, "mem_available_mib", lambda: 8000)
    # half of MemAvailable, rounded down to 256 MiB
    assert session.box_sizing() == (len(os.sched_getaffinity(0)), 3840)
    assert session.box_sizing(cpus=3, driver_mem="1g") == (3, 1024)
