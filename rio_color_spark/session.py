"""SparkSession factory tuned for the image pipeline.

Arrow is the JVM↔Python wire for every pixel operator, so the session pins
the Arrow batch size (the analogue of the reference's 32×32 block windows —
cli.py:81-83 — which bounded memory per work unit). Only settings that
differ from Spark's defaults are written here (tests/test_session.py).

Python workers of a local master share the driver's files, so they run
the driver's own pyspark install: the worker daemon is
``rio_color_spark._daemon``, which drops Spark's ``pyspark.zip``, py4j zip
and jar from the workers' ``sys.path`` (:func:`worker_daemon` says when),
and the package's parent directory leads the workers' ``PYTHONPATH`` so
they import the package from any working directory
(:func:`worker_pythonpath`). Cluster masters keep Spark's own daemon and
path.

A local master's driver JVM runs C1-compiled code only
(:data:`LOCAL_DRIVER_JAVA_OPTIONS`).

The master is used as given. On ``local[N]`` Spark gives a task one
attempt, so a task that raises fails its job at once; a cluster master
retries tasks per ``spark.task.maxFailures``.
"""

from __future__ import annotations

import glob
import os
import re

import pyspark
from pyspark.sql import SparkSession

#: ``local``, ``local[N|*]`` or ``local[N|*,F]``: group 1 the cores, 2 the retries
_LOCAL = re.compile(r"local(?:\[(\d+|\*)(,\d+)?\])?")


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` that fits the host: half the physical
    memory in whole GiB, at least ``1g``. In local mode the driver JVM
    also hosts every executor thread, and the Python workers live beside
    it in the other half."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys_bytes // 2 // 2**30)}g"


def shuffle_partitions(master: str, host_cores: int | None = None) -> int | None:
    """``spark.sql.shuffle.partitions`` that fits a local master: two per
    core (Spark's tuning guide suggests 2-3 tasks per core), where
    ``local[*]`` has the host's cores. None for a cluster master, which
    keeps Spark's own setting."""
    m = _LOCAL.fullmatch(master)
    if not m:
        return None
    cores = m.group(1) or "1"
    if cores == "*":
        cores = host_cores or len(os.sched_getaffinity(0))
    return 2 * int(cores)


#: the directory that holds the ``rio_color_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon(
    master: str, pyspark_file: str, pyspark_version: str, jvm_version: str | None
) -> str | None:
    """``spark.python.daemon.module`` for a local master whose workers can
    import the driver's pyspark (``pyspark_file``, a directory install, not
    inside a zip) and find it the same version as the JVM. None otherwise,
    which keeps Spark's default daemon and its archives on the workers'
    path."""
    if not _LOCAL.fullmatch(master) or pyspark_version != jvm_version:
        return None
    if not os.path.isdir(os.path.dirname(pyspark_file)):
        return None
    return "rio_color_spark._daemon"


def worker_pythonpath(configured: str | None) -> str:
    """Local workers' ``PYTHONPATH``: the package's parent directory first,
    then every entry already ``configured``."""
    rest = [p for p in (configured or "").split(os.pathsep) if p and p != _PACKAGE_PARENT]
    return os.pathsep.join([_PACKAGE_PARENT, *rest])


def _jvm_version() -> str | None:
    """Spark version of the JVM a new session launches, read from the
    spark-core jar name (``spark-core_2.13-4.1.2.jar``) under SPARK_HOME."""
    from pyspark.find_spark_home import _find_spark_home

    for jar in glob.glob(os.path.join(_find_spark_home(), "jars", "spark-core_*.jar")):
        m = re.fullmatch(r"spark-core_[^-]+-(.+)\.jar", os.path.basename(jar))
        if m:
            return m.group(1)
    return None


#: rows per Arrow batch crossing into Python workers. At the default 32×32
#: uint8 RGB payload (~3 KiB/row) this bounds a batch to ~6 MiB, keeping
#: per-task memory flat regardless of partition size (the color operator
#: further cache-blocks the math inside each batch — see operators/color.py).
ARROW_BATCH_ROWS = 2048

#: default JVM options of a local master's driver, which also runs every
#: task. C1 only: with C2, compilation took 1-4 CPU seconds per one-second
#: pipeline job over a session's first ~30 s, on cores the tasks and Python
#: workers already filled, so each job's time tracked the warm-up (perfbench
#: ``pipeline`` repetitions fell ~35% across a 25 s window; with C1 only,
#: ~10%, from a faster start). The kernels run in Python workers
#: and native codecs; the JVM's share of a task is data movement, where
#: C2's peak code gains little. Passed as ``spark.driver.defaultJavaOptions``
#: so that a configured ``spark.driver.extraJavaOptions`` follows and can
#: override it.
LOCAL_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"

#: every elementwise kernel is single-threaded by design — parallelism comes
#: from Spark tasks. Pin the numeric libraries' thread pools so each Python
#: worker (one per task slot) doesn't spawn a pool as wide as the host.
_WORKER_ENV_PINS = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "rio_color_spark", master: str | None = None
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's tuning applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). On a real cluster, pass ``master=None`` and let
    spark-submit supply it. Shuffle partitions follow the master's cores
    (:func:`shuffle_partitions`); a local master's Python workers run the
    driver's pyspark (:func:`worker_daemon`, :func:`worker_pythonpath`).
    """
    session = _builder(app_name, master).getOrCreate()
    # every Python function ships the context's executorEnv map
    # (``sc.environment``), and Spark puts its PYTHONPATH on the workers';
    # updated here rather than in the builder so that a value configured
    # elsewhere (spark-defaults.conf, spark-submit --conf) is kept
    sc = session.sparkContext
    if _LOCAL.fullmatch(sc.master):
        sc.environment["PYTHONPATH"] = worker_pythonpath(sc.environment.get("PYTHONPATH"))
    return session


def _builder(app_name: str, master: str | None) -> SparkSession.Builder:
    """The builder :func:`get_spark` starts a session from."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    partitions = shuffle_partitions(master)

    # local-mode python workers inherit the driver env
    for k, v in _WORKER_ENV_PINS.items():
        os.environ.setdefault(k, v)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(partitions))
    if _LOCAL.fullmatch(master):
        builder = builder.config("spark.driver.defaultJavaOptions", LOCAL_DRIVER_JAVA_OPTIONS)
    daemon = worker_daemon(master, pyspark.__file__, pyspark.__version__, _jvm_version())
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    # shuffle/spill scratch on tmpfs when available: the sandbox's single
    # virtio disk collapses under concurrent writers (a cluster's shuffle
    # goes to per-node local disks)
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        scratch = "/dev/shm/spark-local"
        os.makedirs(scratch, exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
    return builder
