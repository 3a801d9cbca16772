from __future__ import annotations

import pathlib
import sys

import pytest

# the checkout these tests belong to, wherever it lives
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from python_fmask_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# the smallest scale factor whose cells contain cloud shadow (class 3)
SF_SHADOW = str(pathlib.Path(SF_SMALL).with_name("sf0.1"))


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_shadow():
    return SF_SHADOW
