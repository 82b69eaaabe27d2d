"""Session defaults come from the host, not a hard-coded core count."""

import os

from deepie_spark import session


def test_default_master_and_partitions_follow_host_cores(monkeypatch):
    cores = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_master() == f"local[{cores}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_master() == "local[3]"

    assert session._default_shuffle_partitions("local[*]") == cores
    assert session._default_shuffle_partitions("yarn") == cores
    assert session._default_shuffle_partitions("local[6]") == 6
