"""Shared Spark session + cached fixture tables for the test suite."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def _build_session(master: str = "local[4]", shuffle_partitions: int = 8):
    from engine import session

    return session.get_or_create("spark-clip-quality-tests", **{
        "spark.master": master,
        "spark.sql.shuffle.partitions": shuffle_partitions,
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
    })


@pytest.fixture(scope="session")
def spark():
    s = _build_session()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_t1(spark, tmp_path_factory):
    """t1 smoke fixture: 2000 clips written as partitioned parquet."""
    from engine import fixtures

    clips_pd, planted = fixtures.generate_clips(2000, seed=42, profile="test")
    path = str(tmp_path_factory.mktemp("clips_t1") / "clips")
    fixtures.write_clips_parquet(spark, clips_pd, path)
    return path, clips_pd, planted
