from __future__ import annotations

import os

import pytest

from hiispider_spark.session import get_spark
from hiispider_spark.sources.synth import SynthConfig, synth_pages, synth_robots, synth_seeds

SF_DIR = "/root/testdata/sf0.001"
# tiny corpus for fast operator tests (n_hosts floors at 10)
TINY = SynthConfig(n_pages=400, n_docs=500)


@pytest.fixture(scope="session")
def spark():
    cpus = min(8, len(os.sched_getaffinity(0)))
    s = get_spark(app="hiispider-tests", cpus=cpus, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages(spark):
    return synth_pages(spark, SF_DIR, TINY).persist()


@pytest.fixture(scope="session")
def tiny_seeds(spark):
    return synth_seeds(spark, SF_DIR, TINY)


@pytest.fixture(scope="session")
def tiny_robots(spark):
    return synth_robots(spark, SF_DIR, TINY)
