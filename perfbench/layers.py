"""Per-layer attribution for a traced run.

Three sources, all read from outside the program:

- **driver spans**: :class:`DriverSpans` wraps public driver-side calls of
  the engine (chunk planning, each chunk's writes, the chunk commit, the
  snapshot commit, TIFF ingest/export/assembly) with timers while a traced
  repetition runs, and restores them afterwards;
- **Spark's own metrics**: :class:`SparkLayers` reads every SQL execution
  and stage a repetition started from the SQL status store
  (``executionMetrics`` / ``planGraph``) and the application status store;
- **worker spans**: ``worker_trace/sitecustomize.py`` times kernel entry
  points inside the Python workers; :func:`worker_totals` sums the files
  they write.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import time
from collections import defaultdict

from stats import parse_sql_metric

#: plan nodes that run Python code (every one carries these SQL metrics)
_PY_RUN = "time to run Python workers"
_PY_INIT = ("time to initialize Python workers", "time to start Python workers")
_PY_TO = "data sent to Python workers"
_PY_FROM = "data returned from Python workers"
_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
_STAGE_RE = re.compile(r"stage (\d+)\.\d+:")


class DriverSpans:
    """Cumulative seconds and counts of named driver-side spans."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self.counts[name] += 1

    def wrap(self, owner, attr: str, name_of) -> None:
        """Time every call of ``owner.attr`` under the span name
        ``name_of(*args, **kwargs)`` until :meth:`restore`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_engine_spans(spans: DriverSpans) -> None:
    """Wrap the engine's driver-side layer boundaries."""
    import rio_color_spark.pipeline as P
    from rio_color_spark.sources import tiff as T
    from rio_color_spark.sources import tiff_bridge as TB
    from rio_color_spark.sources.catalog import CheckpointedWriter

    writes = {"images": "write.images", "assignments": "write.assign", "knn": "knn.job"}
    spans.wrap(P, "chunk_plan", lambda *a, **k: "pipeline.plan")
    spans.wrap(P, "index_and_color", lambda *a, **k: "pipeline.plan")
    spans.wrap(
        CheckpointedWriter, "write_data",
        lambda self, df, name, chunk: writes.get(name, "write.other"),
    )
    spans.wrap(CheckpointedWriter, "commit_chunk", lambda *a, **k: "catalog.commit")
    spans.wrap(P._SnapshotSink, "commit_chunk", lambda *a, **k: "snapshots.add_files")
    spans.wrap(TB, "ingest_tiff", lambda *a, **k: "tiff.ingest")
    spans.wrap(TB, "export_tiff", lambda *a, **k: "tiff.export")
    spans.wrap(T.TiffChunkWriter, "add", lambda *a, **k: "tiff.assemble")
    spans.wrap(T.TiffChunkWriter, "close", lambda *a, **k: "tiff.assemble")


# -- Spark status stores --------------------------------------------------------


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkLayers:
    """Folds the SQL executions and stages started since the last call of
    :meth:`collect` into per-layer totals."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        # every argument of AppStatusStore.stageList: py4j sees no defaults
        self._stage_args = (None, False, False, gw.new_array(gw.jvm.double, 0),
                            gw.jvm.java.util.ArrayList())
        # execution ids are unique per JVM, not per session: start past the
        # highest one this session's store holds
        self._next_exec = max(self._execution_ids(), default=-1) + 1
        self._next_stage = self._max_stage() + 1

    def _stages(self):
        return _seq(self._app.stageList(*self._stage_args))

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _execution_ids(self) -> list[int]:
        return [e.executionId() for e in _seq(self._sql.executionsList())]

    def collect(self) -> dict[str, float]:
        t: dict[str, float] = defaultdict(float)
        py_stages: set[int] = set()
        new = sorted(i for i in self._execution_ids() if i >= self._next_exec)
        if new:
            self._next_exec = new[-1] + 1
        for eid in new:
            values = self._sql.executionMetrics(eid)
            nodes = _seq(self._sql.planGraph(eid).allNodes())
            top_rows = None
            join_rows = 0.0
            for node in nodes:
                name = node.name()
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = v.get()
                num = {k: parse_sql_metric(v) for k, v in metrics.items()}
                if _PY_RUN in num:
                    t["plan.python_nodes"] += 1
                    t["color.py_run_s"] += num[_PY_RUN]
                    t["color.py_init_s"] += sum(num.get(k, 0.0) for k in _PY_INIT)
                    t["color.bytes_to_py"] += num.get(_PY_TO, 0.0)
                    t["color.bytes_from_py"] += num.get(_PY_FROM, 0.0)
                    # per-task metrics name the node's stage; a one-task
                    # stage shows only a total, with no stage to look up
                    stages = {int(s) for v in metrics.values() for s in _STAGE_RE.findall(v)}
                    py_stages.update(stages)
                    if not stages:
                        t["color.tasks"] += 1
                if name.startswith("Scan "):
                    t["spark.scan_s"] += num.get("scan time", 0.0)
                    t["spark.scan.bytes"] += num.get("size of files read", 0.0)
                if "written output" in num:
                    t["spark.write.bytes"] += num["written output"]
                    t["spark.write.files"] += num.get("number of written files", 0.0)
                if name in ("Exchange", "BroadcastExchange"):
                    t["plan.exchanges"] += 1
                    t["spark.shuffle.bytes"] += num.get("shuffle bytes written", 0.0)
                    t["spark.shuffle.fetch_wait_s"] += num.get("fetch wait time", 0.0)
                if name.startswith("ReusedExchange"):
                    t["plan.reused_exchanges"] += 1
                if name in _JOINS:
                    join_rows = max(join_rows, num.get("number of output rows", 0.0))
                if top_rows is None and "number of output rows" in num:
                    top_rows = num["number of output rows"]
            t["spark.executions"] += 1
            if join_rows:
                t["join.candidates"] += join_rows
                t["join.kept"] += top_rows or 0.0
        last = self._next_stage - 1
        for s in self._stages():
            sid = s.stageId()
            last = max(last, sid)
            if sid < self._next_stage:
                continue
            t["spark.cpu_s"] += s.executorCpuTime() / 1e9
            t["spark.gc_s"] += s.jvmGcTime() / 1e3
            t["spark.task_failures"] += s.numFailedTasks()
            if sid in py_stages:
                t["color.tasks"] += s.numCompleteTasks()
        self._next_stage = last + 1
        return dict(t)


# -- worker spans -----------------------------------------------------------------


def worker_totals(trace_dir: str) -> dict[str, list[float]]:
    """Summed ``{key: [seconds, calls, n1, n2]}`` over every worker file."""
    out: dict[str, list[float]] = {}
    for path in glob.glob(os.path.join(trace_dir, "w-*.json")):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue  # vanished or unreadable: skip it
        for key, vals in data.items():
            acc = out.setdefault(key, [0.0, 0, 0, 0])
            for i, v in enumerate(vals):
                acc[i] += v
    return out


def worker_delta(before: dict, after: dict) -> dict[str, list[float]]:
    return {
        k: [a - b for a, b in zip(v, before.get(k, [0.0, 0, 0, 0]))]
        for k, v in after.items()
    }
