"""Session defaults come from the host: the driver heap is derived from
physical RAM and stays below it, and the core count from
SPARK_GRAFT_CPUS or the CPUs this process may run on. No test here
starts a Spark session: get_spark's builder is replaced by a recorder."""

from __future__ import annotations

import os
from types import SimpleNamespace

from ycrawl_spark import session


def _phys_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_driver_memory_default_is_half_of_physical_ram():
    assert session.default_driver_memory(15 * 2**30) == "7680m"
    assert session.default_driver_memory(256 * 2**30) == "131072m"
    got = session.default_driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) * 2**20 < _phys_bytes()


def test_default_cores_from_env_or_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_cores() == len(os.sched_getaffinity(0))


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_get_spark_defaults_come_from_the_host(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.driver.memory"] == session.default_driver_memory()
    heap_mib = int(builder.conf["spark.driver.memory"][:-1])
    assert heap_mib * 2**20 < _phys_bytes()

    explicit = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=explicit))
    session.get_spark(cores=2, driver_memory="1g")
    assert explicit.conf["master"] == "local[2]"
    assert explicit.conf["spark.driver.memory"] == "1g"
