"""Shared fixtures: one session-scoped SparkSession for the whole suite."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from blarify_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # sized to the host: $SPARK_GRAFT_CPUS, else the CPUs pytest may use
    s = get_spark(app_name="blarify_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_pages(spark):
    from blarify_spark import corpus
    from blarify_spark.sources.pages import pages_from_rows

    rows = corpus.generate_pages(64)
    df = pages_from_rows(spark, rows).cache()
    df.count()
    return df
