from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ehr_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="ehr-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(autouse=True)
def _release_builder_caches():
    """Unpersist whatever the dedup builders cached during a test, so the
    frames they persist do not pile up across a long session."""
    yield
    from ehr_data_pipeline_spark.operators.text_dedup import (
        release_builder_caches,
    )

    release_builder_caches()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
