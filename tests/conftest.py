from __future__ import annotations

import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omnidata_etl_spark.session import get_session

SF_SMOKE = os.environ.get("OMNIDATA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("omnidata-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def two_phase_key(monkeypatch):
    """Send every engine-side global rank in the test (add_surrogate_key,
    agg_gini_concentration, etl_curriculum_stages — all through
    `_util.range_numbered`) down the range path: the test inputs all fit
    ONE_TASK_MAX_BYTES."""
    util = importlib.import_module("omnidata_etl_spark.queries._util")
    monkeypatch.setattr(util, "ONE_TASK_MAX_BYTES", -1)
