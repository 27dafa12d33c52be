"""get_spark's defaults, read off the builder without starting a JVM: the
master follows the cores this process may run on, and the partition sizes
are fixed values that only ``extra_conf`` overrides."""

import os
from types import SimpleNamespace

from knowledge_nexus_spark import session


class _Builder:
    """Records what get_spark asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _l: None))


def _built_conf(monkeypatch, **kwargs):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_warm_python_workers", lambda _spark: None)
    session.get_spark("knx-defaults", **kwargs)
    return builder.conf


def test_default_master_is_the_usable_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_partition_sizes_are_fixed_and_extra_conf_overrides(monkeypatch):
    conf = _built_conf(monkeypatch)
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "4m"
    assert conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "1m"
    assert conf["spark.sql.files.maxPartitionBytes"] == "16m"
    conf = _built_conf(
        monkeypatch, extra_conf={"spark.sql.files.maxPartitionBytes": "512m"}
    )
    assert conf["spark.sql.files.maxPartitionBytes"] == "512m"
