from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import data_feature_extraction_and_retrieval_pipeline_spark as dferp  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = dferp.get_spark(app_name="dferp-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session", autouse=True)
def no_unpersist_errors():
    """Every cache the suite persisted was released cleanly: a failed
    ``unpersist`` is counted, not raised, so the count is checked once
    the whole session has run."""
    yield
    from data_feature_extraction_and_retrieval_pipeline_spark import caching

    assert caching.UNPERSIST_ERRORS["count"] == 0, caching.UNPERSIST_ERRORS
