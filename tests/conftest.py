"""Shared fixtures: one SparkSession for the whole test run (local[4] —
small enough to start fast, parallel enough to catch partition bugs:
every distributed-semantics test runs on >1 partition)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_excel_to_hyper_tableau_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
