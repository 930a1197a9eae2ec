"""Session factory config tests (no SparkSession needed)."""

from __future__ import annotations

import os

from cqdg_etl_spark.session import (
    default_cpus,
    driver_memory,
    physical_memory_bytes,
    s3a_dev_conf,
)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return kb * 1024


def test_default_driver_heap_within_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = driver_memory()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 2**20
    assert 0 < heap_bytes <= physical_memory_bytes() <= _mem_total_bytes()


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"


def test_default_cpus_from_host_and_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_s3a_dev_conf_shape(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test-access-key")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test-secret-key")
    conf = s3a_dev_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:9000"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "test-access-key"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "test-secret-key"


def test_s3a_dev_conf_no_env_no_keys(monkeypatch):
    monkeypatch.delenv("AWS_ACCESS_KEY_ID", raising=False)
    monkeypatch.delenv("AWS_SECRET_ACCESS_KEY", raising=False)
    conf = s3a_dev_conf(endpoint="https://minio.internal:9000")
    assert "spark.hadoop.fs.s3a.access.key" not in conf
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"
