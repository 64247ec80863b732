import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Tests run tiny fixtures in local[8]. The driver memory setting is a heap
# ceiling, not a reservation; 4 GiB is ample for every fixture and keeps a
# runaway test from growing the heap toward the factory's 16 GiB default.
# setdefault → propagates to subprocess-spawning tests (spark-submit,
# kill9, streaming) while explicit settings still win.
os.environ.setdefault("BEAMIUM_SPARK_DRIVER_MEM", "4g")

from beamium_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="beamium_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_web_pages(spark):
    """2k-row deterministic web_pages fixture (FIXTURES.md F-1 'tiny')."""
    from beamium_spark.sources.synth import ensure_web_pages

    path = ensure_web_pages(0.0003)
    return spark.read.parquet(path)


@pytest.fixture(scope="session")
def bare_spark(spark):
    """A session with Spark's defaults where ``get_spark`` pins a conf the
    engine's answers could depend on: parquet naive timestamps read as
    TIMESTAMP_NTZ, ANSI mode on, static partition overwrite. ``newSession``
    shares the SparkContext but gets its own SQLConf; builder-level confs
    propagate into it, so each default is set explicitly."""
    s = spark.newSession()
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    return s
