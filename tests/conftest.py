from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zigchain_indexer_clickhouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # 12g heap for the session-scoped suite JVM: ~850 tests share it,
    # and the analyzed plans and persisted stages they accumulate
    # OOM'd the old (effectively 8g) heap late in the battery — a
    # task-level java.lang.OutOfMemoryError that killed the JVM and
    # cascaded ConnectionRefused through every later test. Overridable
    # via the same env the engine uses.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    s = get_spark("tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
