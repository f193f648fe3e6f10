"""config.default_cpus: the core count the code assumes."""

from __future__ import annotations

import os

from data_pipeline__s3_to_postgres_s3_spark.config import default_cpus


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
