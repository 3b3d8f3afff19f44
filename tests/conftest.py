import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rossete_rdf_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="rossete-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "10MB"},
    )
    yield s


REFERENCE = "/root/reference"


@pytest.fixture(scope="session")
def reference_dir():
    if not os.path.isdir(REFERENCE):
        pytest.skip("reference repo not available")
    return REFERENCE
