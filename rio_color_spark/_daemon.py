"""Python worker daemon for local masters: workers import pyspark from the
driver's own install instead of from Spark's archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and
the spark-core jar first on every worker's ``sys.path``. Each task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
Python 3.11 that makes every ``zipimporter`` re-read its archive's central
directory: 0.1-0.2 s per task. Run as ``python -m rio_color_spark._daemon``,
this module drops those entries from ``sys.path`` and from the importer
cache (the package ``__init__``'s NumPy import fills it), then runs Spark's
own daemon. Nothing the package ``__init__`` imports may import pyspark
(tests/test_session.py pins this). ``session.worker_daemon`` selects this
module only where the driver's pyspark is a directory install of the JVM's
Spark version.
"""

import importlib.util
import re
import sys

_SPARK_ARCHIVE = re.compile(r"(^|/)(pyspark\.zip|py4j-[^/]*-src\.zip|[^/]*\.jar)(/|$)")

if __name__ == "__main__":
    spark_path = sys.path[:]
    sys.path[:] = [p for p in spark_path if not _SPARK_ARCHIVE.search(p)]
    for p in [p for p in sys.path_importer_cache if _SPARK_ARCHIVE.search(p)]:
        del sys.path_importer_cache[p]
    if importlib.util.find_spec("pyspark") is None:
        sys.path[:] = spark_path  # this interpreter has pyspark only in the zip
    from pyspark import daemon

    daemon.manager()
