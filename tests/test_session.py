"""Session factory defaults."""

import os

from dex_data_ingestor_spark.session import default_cpus


def test_default_cpus_follows_host_unless_overridden(monkeypatch):
    """Unset, the local master and shuffle partitions follow the cores
    this process may use, not a fixed 32; the env override still wins."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    host = (
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else os.cpu_count()
    )
    assert default_cpus() == host
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
