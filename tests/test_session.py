"""Session defaults that do not need a running session."""

from __future__ import annotations

import os

from mapreduce_kmeans_clustering_spark.session import default_cpus


def test_default_cpus_prefers_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_follows_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2}, raising=False)
    assert default_cpus() == 2


def test_default_cpus_falls_back_to_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 5)
    assert default_cpus() == 5
