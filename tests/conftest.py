from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from brontes_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # tests run sf0.001 fixtures where task-SCHEDULING, not compute,
    # dominates every action: measured on representative shuffle-heavy
    # files, local[4] beats local[8] and local[16] (32.8 s vs 44 / 37.5 s
    # for the same 10 tests). Deliberately independent of the bench's
    # $SPARK_GRAFT_CPUS: the driver exports 32 for the perf surface, and
    # inheriting it here would triple the verify-window cost of the suite.
    s = get_spark(
        "brontes-spark-tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    )
    # sf0.001 fixtures execute in microseconds; per-action latency is
    # Catalyst + Janino codegen compilation, JVM-side and serial.
    # Interpreted execution returns IDENTICAL results and cuts fresh-plan
    # latency. AQE stays on, as RUNTIME_CONFS sets it: the testdata loaders
    # apply those confs anyway, so turning it off here would make every
    # plan pin depend on test order. Tests that pin codegen spans in plan
    # TEXT re-enable it per test via codegen_session().
    if os.environ.get("SPARK_GRAFT_TEST_FULL_ENGINE", "0") != "1":
        s.conf.set("spark.sql.codegen.wholeStage", "false")
    yield s
    s.stop()


@contextmanager
def codegen_session(s):
    """Temporarily restore whole-stage codegen, the production engine, for
    tests that assert on plan text containing codegen spans
    ('*'/WholeStageCodegen). Build the DataFrame INSIDE the context:
    physical plans materialize lazily at first access with whatever confs
    are then current."""
    old_cg = s.conf.get("spark.sql.codegen.wholeStage")
    s.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        yield s
    finally:
        s.conf.set("spark.sql.codegen.wholeStage", old_cg)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
