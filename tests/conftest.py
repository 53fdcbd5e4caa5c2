from __future__ import annotations

import os
import sys
import time

import pytest
from pyspark.sql import DataFrameReader, DataFrameWriter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trough_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("TROUGH_TEST_SF_DIR", "/root/testdata/sf0.001")


# PySpark's own reader/writer entry points, taken before any test module is
# collected: the suite must test the program on the PySpark it ships with
_STOCK_READWRITER = {
    (cls, name): cls.__dict__[name]
    for cls, names in ((DataFrameWriter, ("save", "mode")), (DataFrameReader, ("load",)))
    for name in names
}


def _patched_readwriter() -> list[str]:
    """Names of the PySpark reader/writer methods no longer PySpark's own."""
    return [
        f"{cls.__name__}.{name}"
        for (cls, name), fn in _STOCK_READWRITER.items()
        if cls.__dict__.get(name) is not fn or fn.__module__ != "pyspark.sql.readwriter"
    ]


@pytest.fixture(scope="session", autouse=True)
def stock_pyspark():
    """Fail the session if anything replaced a PySpark reader/writer method
    and left it replaced (a test double that patches PySpark globally).
    Yields the check itself, so a test can run it mid-session."""
    yield _patched_readwriter
    patched = _patched_readwriter()
    assert not patched, f"PySpark patched for the rest of the session: {patched}"


@pytest.fixture()
def non_utc_tz():
    """Naive datetimes convert in the process time zone, here one with DST."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="trough-spark-tests", shuffle_partitions=8)
    yield s
