"""Session defaults that need no JVM: the master get_spark starts when the
caller and the environment name none."""

import os

from extract_address_ner_spark.session import _default_master


def test_default_master_follows_the_cpus_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_master() == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local-cluster[2,2,2048]")
    assert _default_master() == "local-cluster[2,2,2048]"
