"""Session defaults: derived from the host, and never a restatement of
Spark's own defaults. The host helpers are pure Python; the restated-
default guard reads Spark's SQL config registry. Local Python workers run
the driver's own pyspark, not the one in Spark's archives, and find the
package from any working directory."""

import os
import subprocess
import sys
import textwrap

import pyspark
import pytest

from rio_color_spark.session import (
    LOCAL_DRIVER_JAVA_OPTIONS,
    _PACKAGE_PARENT,
    _builder,
    _jvm_version,
    driver_memory,
    shuffle_partitions,
    worker_daemon,
    worker_pythonpath,
)

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


def test_get_spark_restates_no_sql_default(spark):
    """Every ``spark.sql.*`` key get_spark sets differs from the default of
    a fresh SQLConf, compared through Spark's own parsing (``128m`` equals
    ``134217728b``), so the session writes down only real choices."""
    options = _builder("restated-defaults", master="local[4]")._options
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


def test_local_driver_jvm_runs_c1_only(spark):
    """A local master's driver JVM starts with the C1-only JIT option (it
    also runs every task); the builder passes it as Spark's default driver
    options, so configured extra options still follow it."""
    assert spark.sparkContext.master.startswith("local")
    options = _builder("jit", master="local[4]")._options
    assert options["spark.driver.defaultJavaOptions"] == LOCAL_DRIVER_JAVA_OPTIONS
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert LOCAL_DRIVER_JAVA_OPTIONS in list(runtime.getInputArguments())


_DIRECTORY_INSTALL = pyspark.__file__
_ZIP_INSTALL = "/spark-home/python/lib/pyspark.zip/pyspark/__init__.py"


@pytest.mark.parametrize(
    "master, pyspark_file, pyspark_version, jvm_version, want",
    [
        ("local[4]", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", "rio_color_spark._daemon"),
        ("local[*,4]", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", "rio_color_spark._daemon"),
        ("local", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", "rio_color_spark._daemon"),
        ("local[4]", _ZIP_INSTALL, "4.1.2", "4.1.2", None),  # workers' own zip
        ("local[4]", _DIRECTORY_INSTALL, "4.1.2", "4.0.1", None),  # not the JVM's
        ("local[4]", _DIRECTORY_INSTALL, "4.1.2", None, None),  # JVM unknown
        ("spark://head:7077", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", None),
        ("yarn", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", None),
        ("local-cluster[2,1,1024]", _DIRECTORY_INSTALL, "4.1.2", "4.1.2", None),
    ],
)
def test_worker_daemon_only_where_workers_share_the_driver_pyspark(
    master, pyspark_file, pyspark_version, jvm_version, want
):
    assert worker_daemon(master, pyspark_file, pyspark_version, jvm_version) == want


def test_worker_pythonpath_keeps_configured_entries():
    assert worker_pythonpath(None) == _PACKAGE_PARENT
    assert worker_pythonpath("") == _PACKAGE_PARENT
    assert worker_pythonpath(os.pathsep.join(["/pre/set", "/also"])) == os.pathsep.join(
        [_PACKAGE_PARENT, "/pre/set", "/also"]
    )
    # idempotent: a reused session's value is not prepended twice
    once = worker_pythonpath("/pre/set")
    assert worker_pythonpath(once) == once


def test_session_serves_workers_the_driver_pyspark(spark):
    """The fixture session's workers import pyspark from the driver's
    install: no Spark archive is on their ``sys.path`` and no loaded module
    comes from a zip or jar (so nothing on the ``rio_color_spark._daemon``
    import chain pulls pyspark in before the archives are dropped)."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module", None) == worker_daemon(
        sc.master, pyspark.__file__, pyspark.__version__, _jvm_version()
    )
    assert sc.environment["PYTHONPATH"].split(os.pathsep)[0] == _PACKAGE_PARENT

    def report(batches):
        import re
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        archive = re.compile(r"(\.jar|pyspark\.zip|py4j-[^/]*-src\.zip)$")
        archived = [
            name
            for name, mod in list(sys.modules.items())
            if re.search(r"\.(zip|jar)/", getattr(mod, "__file__", None) or "")
        ]
        yield pd.DataFrame(
            {
                "pyspark": [pyspark.__file__],
                "spark_paths": [[p for p in sys.path if archive.search(p)]],
                "archived": [archived],
            }
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "pyspark string, spark_paths array<string>, archived array<string>")
        .collect()
    )
    assert ".zip" not in row.pyspark
    assert row.spark_paths == []
    assert row.archived == []


def test_get_spark_serves_workers_from_a_foreign_cwd(tmp_path):
    """A driver that finds the package through ``sys.path`` alone, run from
    another directory with no ``PYTHONPATH``, still gets rows back from a
    Python stage that calls a package kernel: its workers import the
    package through the session's worker ``PYTHONPATH``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_PACKAGE_PARENT!r})
        import pandas as pd
        from rio_color_spark.functions.cells import encode_cell
        from rio_color_spark.session import get_spark

        def cells(batches):
            for b in batches:
                lon = b.id.to_numpy(dtype="float64")
                yield pd.DataFrame({{"cell": encode_cell(lon, lon / 2)}})

        spark = get_spark("cwd", "local[2]")
        print("rows", spark.range(10, numPartitions=2).mapInPandas(cells, "cell long").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 10" in out.stdout
