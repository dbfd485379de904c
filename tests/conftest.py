from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("TSDL_TEST_SF_DIR", "/root/testdata/sf0.001")

from time_series_and_data_lakes_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tsdl-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
