from __future__ import annotations

import os
import re
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from data_pipeline__s3_to_postgres_s3_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


# Reference-parity tests (test_reference_data, test_golden_tripdata, the
# verbatim-script cases in test_sql_script) skip with a "reference ...
# not available" reason when the original project's scripts and data are
# absent. A skip reads as green, so the summary counts them separately.
_UNVERIFIED_REASON = re.compile(r"reference\b.*\bnot available")


def pytest_terminal_summary(terminalreporter):
    unverified = {
        r.nodeid
        for r in terminalreporter.stats.get("skipped", [])
        if _UNVERIFIED_REASON.search(str(r.longrepr))
    }
    if unverified:
        terminalreporter.write_line(
            f"UNVERIFIED: {len(unverified)} reference-parity tests skipped "
            "(reference not available)"
        )
