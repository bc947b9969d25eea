import tempfile

import pytest

from geocrawl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="geocrawl-tests",
        # cores from SPARK_GRAFT_CPUS (see get_spark); the plan-shape
        # asserts depend on the fixed shuffle width, not on the core count
        shuffle_partitions=8,
        # keep catalog tables (bucketed seen set) out of the repo tree
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="geocrawl-wh-")},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
