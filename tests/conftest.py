import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rml_utils_processor_ts_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("RML_SPARK_SHUFFLE_PARTITIONS", "8")
    s = get_spark("rml_spark_tests", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_session_for_property(spark):
    """Alias fixture: hypothesis @given cannot take function-scoped
    fixtures; the session-scoped spark is fine."""
    return spark
