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


def test_join_strategy_is_left_to_the_planner(monkeypatch):
    """No global shuffled-hash preference: a static shuffled-hash join
    is picked from size estimates and its build map does not spill, so
    only AQE's bounded runtime rewrite may choose one."""
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    conf = session.get_session().conf
    assert "spark.sql.join.preferSortMergeJoin" not in conf
    assert conf["spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"] == "256m"


def _gib(size: str) -> float:
    return float(size[:-1]) / {"m": 1024, "g": 1}[size[-1]]


def _memory_conf(monkeypatch, total_gib):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_OFFHEAP", raising=False)
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    monkeypatch.setattr(session, "_mem_total_gib", lambda: total_gib)
    conf = session.get_session().conf
    return _gib(conf["spark.driver.memory"]), _gib(conf["spark.memory.offHeap.size"])


def test_default_memory_fits_the_host(monkeypatch):
    """Driver heap plus off-heap is at most half the host's memory: a
    15 GiB host must not get the 8g heap plus a 6g off-heap."""
    for total in (2.0, 15.0, 15.7, 31.0):
        heap, off = _memory_conf(monkeypatch, total)
        assert 0 < heap and 0 < off and heap + off <= total / 2, (total, heap, off)
    # a large host keeps the sizes measured best there
    assert _memory_conf(monkeypatch, 125.0) == (8.0, 48.0)


def test_memory_env_pins_win(monkeypatch):
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    monkeypatch.setattr(session, "_mem_total_gib", lambda: 15.0)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", "2g")
    conf = session.get_session().conf
    assert (conf["spark.driver.memory"], conf["spark.memory.offHeap.size"]) == ("3g", "2g")


def test_cgroup_memory_max_caps_the_host_memory(monkeypatch, tmp_path):
    """A cgroup v2 ``memory.max`` below MemTotal is the limit; ``max``
    (no limit) leaves MemTotal."""
    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(limit))
    limit.write_text("max\n")
    host = session._mem_total_gib()
    assert host > 0.5
    limit.write_text(f"{512 * 1024**2}\n")
    assert session._mem_total_gib() == 0.5
