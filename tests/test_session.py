"""The session factory's launch-time JVM settings: the raised C2
thresholds reach the JVM whatever ``SPARK_GRAFT_JAVA_OPTS`` holds, and
the default heap fits the host's physical memory."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from training_etl_demo_2_spark import session
from training_etl_demo_2_spark.session import C2_THRESHOLDS, default_driver_mem

GiB = 1024**3


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the conf that
    ``get_spark`` composes, starts no JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


def composed_conf(monkeypatch) -> dict[str, str]:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark()
    return builder.conf


def c2_flags() -> list[str]:
    return [f"-XX:{flag}={n}" for flag, n in C2_THRESHOLDS.items()]


def test_live_jvm_runs_with_the_c2_thresholds(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = {flag: int(bean.getVMOption(flag).getValue()) for flag in C2_THRESHOLDS}
    assert live == C2_THRESHOLDS


@pytest.mark.parametrize(
    "env_opts",
    # a flag repeated in the env options comes later, so it wins
    ["-XX:+UseParallelGC -Xms2g -XX:Tier4InvocationThreshold=7", None],
    ids=["env_set", "env_unset"],
)
def test_c2_thresholds_come_before_the_env_java_options(env_opts, monkeypatch):
    if env_opts is None:
        monkeypatch.delenv("SPARK_GRAFT_JAVA_OPTS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_JAVA_OPTS", env_opts)
    opts = composed_conf(monkeypatch)["spark.driver.extraJavaOptions"]
    assert opts.split() == c2_flags() + (env_opts or "-XX:+UseParallelGC").split()


def test_default_heap_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = composed_conf(monkeypatch)["spark.driver.memory"]
    physical = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 1024**2 <= physical // 2


def test_default_heap_is_half_of_memory_at_most_24g():
    assert default_driver_mem(15 * GiB) == "7680m"
    assert default_driver_mem(48 * GiB) == "24576m"
    assert default_driver_mem(512 * GiB) == "24576m"
