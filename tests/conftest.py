from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("XSARSEA_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_LARGE = os.path.join(os.path.dirname(SF_DIR_SMALL), "sf0.1")


@pytest.fixture(scope="session")
def spark():
    from xsarsea_spark.session import get_session

    s = get_session(app_name="xsarsea-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle_con():
    from xsarsea_spark.testing.oracle import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()
