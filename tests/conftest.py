from __future__ import annotations

import pytest

from schema_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small fixed heap: tests don't need half the box pre-touched
    s = get_spark("svs-tests", cpus=8, driver_mem="4g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
