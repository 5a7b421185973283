"""bench.py pre-flight: a malformed environment must not crash the
bench before it measures anything."""

from __future__ import annotations

import os

import bench


def test_wait_for_idle_box_survives_malformed_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8.0")
    monkeypatch.setattr(os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    bench._wait_for_idle_box()
    # the session build reads the same variable: malformed -> local[*]
    from kafka_flink_spark.session import env_cpus

    assert env_cpus() is None


def test_wait_for_idle_box_without_load_average(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8.0")
    monkeypatch.delattr(os, "getloadavg", raising=False)
    bench._wait_for_idle_box()
    assert bench._load_avg() is None

