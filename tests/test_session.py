"""``session.default_cores``: the local[N] width when no caller names one."""

import os

from sumi_agent_spark import session


def test_default_cores_follows_affinity_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_cores() == 3


def test_default_cores_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_cores() == 6
