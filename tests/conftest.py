from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Tests run local[4] on sf0.001 — the 16g default (sized for 32-way
# joins at sf0.1) would just slow startup via heap pre-touch.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from sleep_edf_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    yield get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID
