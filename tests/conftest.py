from __future__ import annotations

import os
import sys

import pytest

# the checkout this file is in, ahead of any other copy on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from syscol_spark.session import get_session

    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
