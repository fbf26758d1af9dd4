import os
import time

import pytest

# Pin the python process to UTC before any JVM/duckdb starts, so collected
# timestamps (session TZ UTC) and DuckDB's naive-UTC timestamps agree.
os.environ["TZ"] = "UTC"
time.tzset()
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from sfguide_getting_started_openflow_postgresql_cdc_spark.session import get_spark

    # call-site capture is off by default (session.py); on here so a
    # failing test's error names the DataFrame call that built the plan
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    """Small scale factor for unit-test speed; parity vs the oracle is
    scale-independent (the driver re-checks at sf0.01)."""
    return os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
