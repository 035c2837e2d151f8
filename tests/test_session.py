"""Session defaults must fit the host they run on."""

import os

from pyspark.sql import SparkSession

from osmnetfusion_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the settings."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def test_default_master_uses_usable_cores(monkeypatch):
    """Without the SPARK_GRAFT_CPUS override, a session runs one task slot
    (and at most one Python worker) per usable core."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    cores = len(os.sched_getaffinity(0))
    conf = session.get_session().conf
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(cores, 8))

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.get_session().conf["master"] == "local[3]"
