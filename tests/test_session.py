"""Session defaults that must not assume a host size."""

import os

from img2table_spark.session import default_cores


def test_default_cores_follows_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))


def test_default_cores_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
