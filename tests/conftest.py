from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="aldean-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
