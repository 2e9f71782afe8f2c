from __future__ import annotations

import os

import pytest

from binlog_es_go_spark.session import build_session

# build_session pre-touches the whole driver heap (8g by default), and some
# tests start CLI or writer JVMs next to the fixture's, which inherit this
# environment: 2g each keeps three of them within a 16 GB host. Export
# SPARK_DRIVER_MEM to run the suite at another heap.
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", parallelism=4, shuffle_partitions=8)
    yield s
    s.stop()
