"""Session defaults: derived from the host, and never a restatement of
Spark's own defaults. The host helpers are pure Python; the restated-
default guard reads Spark's SQL config registry."""

import os

import pytest
from pyspark.sql import SparkSession

from rio_color_spark.session import driver_memory, get_spark, shuffle_partitions

GiB = 2**30


@pytest.mark.parametrize(
    "phys, want",
    [
        (int(15.7 * GiB), "7g"),  # half, rounded down to whole GiB
        (16 * GiB, "8g"),
        (256 * GiB, "128g"),
        (3 * GiB, "1g"),
        (GiB, "1g"),  # never below 1g
        (512 * 2**20, "1g"),
    ],
)
def test_driver_memory_is_half_of_physical(phys, want):
    assert driver_memory(phys) == want


def test_driver_memory_reads_this_host():
    assert driver_memory().endswith("g")
    assert int(driver_memory()[:-1]) >= 1


@pytest.mark.parametrize(
    "master, cores, want",
    [
        ("local[4]", 16, 8),  # two per core of the master, not the host
        ("local[4,4]", 16, 8),  # the retry-capable form get_spark builds
        ("local[*]", 4, 8),
        ("local[*,4]", 6, 12),
        ("local", 16, 2),
        ("local[1]", 16, 2),
        ("spark://head:7077", 16, None),  # cluster: Spark's own setting
        ("yarn", 16, None),
        ("local-cluster[2,1,1024]", 16, None),
    ],
)
def test_shuffle_partitions_two_per_core(master, cores, want):
    assert shuffle_partitions(master, cores) == want


def test_shuffle_partitions_reads_this_host(spark):
    assert shuffle_partitions("local[*]") == 2 * len(os.sched_getaffinity(0))
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        shuffle_partitions(spark.sparkContext.master)
    )


def test_get_spark_restates_no_sql_default(spark, monkeypatch):
    """Every ``spark.sql.*`` key get_spark sets differs from the default of
    a fresh SQLConf, compared through Spark's own parsing (``128m`` equals
    ``134217728b``), so the session writes down only real choices."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    options = get_spark("restated-defaults", master="local[4]")
    sql = {k: str(v) for k, v in options.items() if k.startswith("spark.sql.")}
    assert sql

    internal = spark._jvm.org.apache.spark.sql.internal
    registry = getattr(getattr(internal, "SQLConf$"), "MODULE$")
    restated = []
    for key, value in sorted(sql.items()):
        entry = registry.getConfigEntry(key)
        assert entry is not None, f"{key} is not a Spark SQL setting"
        chosen = internal.SQLConf()
        chosen.setConfString(key, value)
        if chosen.getConf(entry) == internal.SQLConf().getConf(entry):
            restated.append(key)
    assert restated == []
