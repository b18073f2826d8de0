"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_airflow_docker_spark import session
from pipeline_airflow_docker_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Maps this machine's class-data-sharing archive when there is one,
    # but never starts the background build of a missing one: that
    # build (minutes of CPU, a 1 GB-heap JVM) would outlive the suite.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(session, "start_cds_build", lambda layout: None)
        s = get_spark("tests", master="local[*]", shuffle_partitions=32)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
