"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mercurygate_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mercurygate_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck_con(sf_dir):
    from tests.oracle_harness import duck_connection

    con = duck_connection(sf_dir)
    yield con
    con.close()


def pytest_terminal_summary(terminalreporter):
    from tests.registry_sample import sampling_warning

    msg = sampling_warning()
    if msg:
        terminalreporter.write_sep("!", "registry sampling active", yellow=True, bold=True)
        terminalreporter.write_line(msg, yellow=True, bold=True)
