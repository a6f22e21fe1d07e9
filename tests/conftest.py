from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from samyama_graph_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="samyama-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
