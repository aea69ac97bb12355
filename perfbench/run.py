#!/usr/bin/env python3
"""Closed-loop, layer-attributed benchmark of rio_color_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 25 --trace 0

One client submits one repetition of the workload, waits for it, then
submits the next, for ``--seconds`` seconds, on one Spark session at
``local[<usable cores>]``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (see ``END_TO_END``); with
``--trace 1`` they are the per-layer ones (``PER_LAYER``), from a run that
alternates untraced and traced repetitions and then, for ``pipeline``,
repeats the job at ``local[1]`` for the scaling efficiency, and for
``scene`` runs the per-op query mix once. A full record (host fingerprint,
effective Spark conf, per-metric sample counts, check results) goes to
``.perfbench/results/``. The exit code is 0 when every output check
passed, 1 when one failed, 2 on a usage error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from host import RssSampler, fingerprint, tree_pids, usable_cores  # noqa: E402
from stats import check_metric_name, check_unit, median, percentile, tail_ok  # noqa: E402
from workloads import QUERIES, WORKLOADS, Queries  # noqa: E402

#: untimed repetitions after the set-ups, before the timed window, while
#: the JVM's JIT and the restarted Python workers warm up
WARMUPS = 1

#: name → (unit, better) of every end-to-end metric (``--trace 0``)
END_TO_END = {
    "job_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
}

_SPAN_LAYERS = {
    "pipeline.plan_s": "pipeline.plan",
    "write.images_s": "write.images",
    "write.assign_s": "write.assign",
    "catalog.commit_s": "catalog.commit",
    "snapshots.add_files_s": "snapshots.add_files",
    "knn.job_s": "knn.job",
    "tiff.ingest_s": "tiff.ingest",
    "tiff.export_s": "tiff.export",
    "tiff.assemble_s": "tiff.assemble",
}
_WORKER_LAYERS = {
    "kernel.decode_s": "kernel.decode",
    "kernel.saturate_s": "kernel.saturate",
    "pip.s": "pip",
    "cells.s": "cells",
    "tiff.decode_s": "tiff.decode",
    "tiff.encode_s": "tiff.encode",
}
_SPARK_LAYERS = {
    "color.py_init_s": "s", "color.py_run_s": "s", "color.bytes_to_py": "B",
    "color.bytes_from_py": "B", "color.tasks": "count",
    "spark.scan_s": "s", "spark.scan.bytes": "B", "spark.write.bytes": "B",
    "spark.write.files": "count", "spark.shuffle.bytes": "B",
    "spark.shuffle.fetch_wait_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.task_failures": "count", "plan.python_nodes": "count",
    "plan.exchanges": "count", "plan.reused_exchanges": "count",
}

#: metrics a traced run reports where higher is better; every other
#: per-layer metric is better lower
_HIGHER = {"pipeline.coverage", "pip.hit_ratio", "knn.kept_ratio",
           "plan.reused_exchanges", "scaling_eff"}

#: name → (unit, better) of every per-layer metric (``--trace 1``); a layer
#: the workload does not run reports 0
PER_LAYER = {
    name: (unit, "higher" if name in _HIGHER else "lower")
    for name, unit in {
        "session.start_s": "s",
        # a traced-run metric: under the program's 48g default heap the JVM
        # grows by GC timing, so the peak varies by ~20% run to run
        "peak_rss_mb": "MB",
        "pipeline.other_s": "s",
        "pipeline.coverage": "ratio",
        **{k: "s" for k in _SPAN_LAYERS},
        "catalog.commits": "count",
        **{k: "s" for k in _WORKER_LAYERS},
        "pip.pairs": "count",
        "pip.hit_ratio": "ratio",
        "knn.kept_ratio": "ratio",
        **_SPARK_LAYERS,
        **{f"query.{q}.{part}_s": "s" for q in QUERIES for part in ("build", "exec")},
        "query.p50_s": "s",
        "query.p95_s": "s",
        "trace.job_s": "s",
        "trace.overhead": "ratio",
        "scaling_eff": "ratio",
        "scale.job_s_1": "s",
        "bytes_out_ratio": "ratio",
        "failed_ratio": "ratio",
    }.items()
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Tracer:
    """State of a traced run: the workers' trace directory, the reader of
    the Spark status stores, and the layer totals of each traced repetition."""

    def __init__(self, trace_dir: str, spark):
        from layers import SparkLayers

        self.dir = trace_dir
        self.store = SparkLayers(spark)
        self.reps: list[dict] = []
        #: the traced pass of the query leg (``scene`` only)
        self.query_rep: dict | None = None


class Run:
    """One benchmark run: set-ups, the timed closed loop, checks."""

    def __init__(self, workload, work: str, seconds: float, trace: bool,
                 queries: Queries | None = None):
        self.wl = workload
        self.queries = queries
        self.work, self.seconds, self.trace = work, seconds, trace
        self.nproc = usable_cores()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.n_out = 0
        #: (query, build s, execute s) of the query leg's traced pass
        self.query_samples: list[tuple[str, float, float]] = []

    # -- sessions and repetitions --------------------------------------------

    def start(self, cores: int) -> float:
        from rio_color_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]")
        return time.perf_counter() - t0

    def new_out(self) -> str:
        self.n_out += 1
        return os.path.join(self.work, "out", f"rep{self.n_out}")

    def rep(self, out: str, wl=None, **kw) -> float | None:
        """One repetition of ``wl`` (default: the run's workload); its wall
        seconds, or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            (wl or self.wl).rep(self.spark, out, **kw)
        except Exception:  # noqa: BLE001 - a failed job is a measured outcome
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            _log(f"repetition failed:\n{self.errors[-1]}")
            return None
        return time.perf_counter() - t0

    def setups(self) -> tuple[list[float], list[float]]:
        setup, starts = [], []
        for _ in range(self.wl.setups):
            t0 = time.perf_counter()
            starts.append(self.start(self.nproc))
            out = self.new_out()
            self.rep(out)
            setup.append(time.perf_counter() - t0)
            clear(out)
            _log(f"set-up {len(setup)}: {setup[-1]:.2f} s (session {starts[-1]:.2f} s)")
        for _ in range(WARMUPS):
            out = self.new_out()
            self.rep(out)
            clear(out)
        return setup, starts

    # -- traced repetitions --------------------------------------------------

    def traced_rep(self, out: str, tracer: "Tracer", wl=None) -> dict:
        """One repetition of ``wl`` (default: the run's workload) with driver
        spans, worker timers and the Spark status stores read; its wall
        seconds (``job_s``, None when it raised) and layer totals."""
        from layers import DriverSpans, install_engine_spans, worker_delta, worker_totals

        spans = DriverSpans()
        tracer.store.collect()  # skip executions of earlier repetitions
        before = worker_totals(tracer.dir)
        sql: dict[str, float] = {}
        knn_sql: dict[str, float] = {}

        def absorb(query: str | None = None) -> None:
            got = tracer.store.collect()
            if query == "knn_geo":
                knn_sql.update(got)
            for k, v in got.items():
                sql[k] = sql.get(k, 0.0) + v

        wl = wl or self.wl
        kw = {"after_query": absorb} if wl.name == "queries" else {}
        flag = os.path.join(tracer.dir, "ON")
        open(flag, "w").close()
        install_engine_spans(spans)
        try:
            dt = self.rep(out, wl, **kw)
        finally:
            spans.restore()
            os.remove(flag)
        absorb()
        return {
            "job_s": dt,
            "spans": dict(spans.seconds),
            "span_counts": dict(spans.counts),
            "sql": sql,
            "knn_sql": knn_sql,
            "worker": worker_delta(before, worker_totals(tracer.dir)),
        }

    # -- the run -------------------------------------------------------------

    def timed_loop(self, tracer=None) -> tuple[list[float], list[float], str | None]:
        """Repetitions until ``seconds`` have passed; with a tracer they
        alternate untraced/traced and at least one of each runs."""
        plain, traced = [], []
        keep = None
        t_start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_start
            enough = plain and (tracer is None or traced)
            if elapsed >= self.seconds and enough:
                break
            out = self.new_out()
            use_trace = tracer is not None and len(traced) < len(plain)
            if use_trace:
                tracer.reps.append(self.traced_rep(out, tracer))
                dt = tracer.reps[-1]["job_s"]
            else:
                dt = self.rep(out)
            if dt is None:
                clear(out)
                if elapsed >= self.seconds:
                    break
                continue
            (traced if use_trace else plain).append(dt)
            if keep:
                clear(keep)
            keep = out
        return plain, traced, keep

    def check(self, out: str | None) -> list[str]:
        if out is None:
            return ["no repetition completed"]
        try:
            return self.wl.check(self.spark, out)
        except Exception:  # noqa: BLE001 - a crashing check is a failed check
            return [traceback.format_exc(limit=3)]

    def scaling(self, job_n: float) -> tuple[float, float]:
        """(efficiency, local[1] job seconds): the rate at local[nproc] over
        nproc times the rate at local[1], on the same input."""
        if self.nproc == 1:
            return 1.0, job_n
        self.start(1)
        warm = self.new_out()
        self.rep(warm)
        clear(warm)
        out = self.new_out()
        job_1 = self.rep(out)
        clear(out)
        if job_1 is None:
            return 0.0, 0.0
        return job_1 / (self.nproc * job_n), job_1

    def query_leg(self, tracer: "Tracer") -> list[str]:
        """One pass over the per-op query mix that collects the results for
        the DuckDB oracle check (and warms the queries up), then one traced
        pass whose per-query times and kNN join counts feed the query
        layers. Returns the check's errors."""
        q = self.queries
        out = self.new_out()
        if self.rep(out, q, collect=True) is None:
            return ["query leg: the collecting pass failed"]
        tracer.query_rep = self.traced_rep(out, tracer, q)
        self.query_samples = list(q.last_pass)
        try:
            return q.check(self.spark, out)
        except Exception:  # noqa: BLE001 - a crashing check is a failed check
            return [traceback.format_exc(limit=3)]

    def execute(self) -> dict:
        tracer = None
        with RssSampler() as rss:
            setup, starts = self.setups()
            if self.trace:
                tracer = Tracer(os.environ["PERFBENCH_TRACE_DIR"], self.spark)
            plain, traced, keep = self.timed_loop(tracer)
        record = {
            "setup_s": setup, "session_start_s": starts, "job_s": plain,
            "traced_job_s": traced, "peak_rss_bytes": rss.peak_bytes,
            "rss_samples": rss.samples,
        }
        _log(f"timed: {len(plain)} + {len(traced)} traced repetitions")
        t0 = time.perf_counter()
        check_errors = self.check(keep)
        _log(f"checks: {time.perf_counter() - t0:.2f} s")
        self.attempted += 1
        if check_errors:
            self.failed += 1
        record["check_errors"] = check_errors
        record["bytes_out"] = self.wl.out_bytes(keep) if keep else 0
        if tracer is not None:
            # the paper's scaling claim is about the flagship job; the other
            # workloads skip the local[1] leg and report 0
            eff, job_1 = (0.0, 0.0)
            if self.wl.name == "pipeline" and plain:
                eff, job_1 = self.scaling(median(plain))
            record["scaling_eff"], record["job_s_1"] = eff, job_1
            if self.queries is not None:
                t0 = time.perf_counter()
                errors = self.query_leg(tracer)
                _log(f"query leg: {time.perf_counter() - t0:.2f} s")
                self.attempted += 1
                if errors:
                    self.failed += 1
                    record["check_errors"] += errors
            record["trace_reps"] = tracer.reps
            record["query_rep"] = tracer.query_rep
        record["fingerprint"] = fingerprint(
            self.spark.version,
            self.spark.sparkContext._jvm.System.getProperty("java.version"),
        )
        record["spark_conf"] = dict(self.spark.sparkContext.getConf().getAll())
        return record

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for every process
        this run started to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


# -- metrics --------------------------------------------------------------------


def end_to_end(wl, rec: dict) -> tuple[dict, dict]:
    """(metric values, sample counts); 0 for a time no repetition gave."""
    jobs = rec["job_s"]
    values = {
        "job_s": median(jobs) if jobs else 0.0,
        "setup_s": median(rec["setup_s"]),
        "items_per_s": wl.items / median(jobs) if jobs else 0.0,
    }
    counts = {"job_s": len(jobs), "setup_s": len(rec["setup_s"]),
              "items_per_s": len(jobs)}
    return values, counts


def per_layer(wl, rec: dict, query_samples, attempted: int, failed: int
              ) -> tuple[dict, dict]:
    reps = rec["trace_reps"]
    ok = [r for r in reps if r["job_s"] is not None] or reps
    n = max(len(ok), 1)

    def mean(get):
        return sum(get(r) for r in ok) / n

    v = {k: 0.0 for k in PER_LAYER}
    v["session.start_s"] = median(rec["session_start_s"])
    v["peak_rss_mb"] = rec["peak_rss_bytes"] / 1e6
    for name, key in _SPAN_LAYERS.items():
        v[name] = mean(lambda r: r["spans"].get(key, 0.0))
    v["catalog.commits"] = mean(lambda r: r["span_counts"].get("catalog.commit", 0))
    for name, key in _WORKER_LAYERS.items():
        v[name] = mean(lambda r: r["worker"].get(key, [0.0])[0])
    pip_pairs = mean(lambda r: r["worker"].get("pip", [0, 0, 0, 0])[2])
    pip_hits = mean(lambda r: r["worker"].get("pip", [0, 0, 0, 0])[3])
    v["pip.pairs"] = pip_pairs
    v["pip.hit_ratio"] = pip_hits / pip_pairs if pip_pairs else 0.0
    for name in _SPARK_LAYERS:
        v[name] = mean(lambda r: r["sql"].get(name, 0.0))

    traced = [r["job_s"] for r in ok if r["job_s"] is not None]
    if traced and rec["job_s"]:
        v["trace.job_s"] = median(traced)
        v["trace.overhead"] = median(traced) / median(rec["job_s"]) - 1.0
    if wl.name == "pipeline" and traced:
        spans = mean(lambda r: sum(
            r["spans"].get(k, 0.0) for k in (
                "pipeline.plan", "write.images", "write.assign",
                "catalog.commit", "snapshots.add_files")))
        job = mean(lambda r: r["job_s"])
        v["pipeline.other_s"] = job - spans
        v["pipeline.coverage"] = spans / job
    if query_samples:
        for q in QUERIES:
            mine = [(b, e) for name, b, e in query_samples if name == q]
            v[f"query.{q}.build_s"] = median([b for b, _ in mine])
            v[f"query.{q}.exec_s"] = median([e for _, e in mine])
        totals = [b + e for _, b, e in query_samples]
        v["query.p50_s"] = percentile(totals, 50)
        v["query.p95_s"] = percentile(totals, 95)
        v["knn.job_s"] = v["query.knn_geo.build_s"] + v["query.knn_geo.exec_s"]
        knn = (rec["query_rep"] or {}).get("knn_sql", {})
        if knn.get("join.candidates"):
            v["knn.kept_ratio"] = knn["join.kept"] / knn["join.candidates"]
    v["scaling_eff"] = rec["scaling_eff"]
    v["scale.job_s_1"] = rec["job_s_1"]
    if wl.in_bytes:
        v["bytes_out_ratio"] = rec["bytes_out"] / wl.in_bytes
    v["failed_ratio"] = failed / attempted if attempted else 0.0
    return v, {k: len(ok) for k in v}


def _human(name: str, value: float, unit: str, n: int) -> str:
    return f"{name:32s} {value:14.6g} {unit:6s} (n={n})"


# -- entry point ----------------------------------------------------------------


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str, trace: bool) -> None:
    """Only what running needs: the workers' PYTHONPATH, and scratch
    directories inside the checkout for Spark, Python and the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [root]
    if trace:
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir)
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        paths.insert(0, os.path.join(HERE, "worker_trace"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "rio_color_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        _log("run from the root of a rio_color_spark checkout")
        return 2
    if args.seconds <= 0:
        _log("--seconds must be positive")
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        _prepare_env(root, work, bool(args.trace))
        wl = WORKLOADS[args.workload]()
        wl.prepare(os.path.join(work, "inputs"), args.seed)
        queries = None
        if args.trace and args.workload == "scene":
            queries = Queries()
            queries.prepare(os.path.join(work, "query-inputs"), args.seed)
        run = Run(wl, work, args.seconds, bool(args.trace), queries)
        rec = run.execute()
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, counts = per_layer(wl, rec, run.query_samples, run.attempted,
                                   run.failed)
        units = {k: u for k, (u, _) in PER_LAYER.items()}
    else:
        values, counts = end_to_end(wl, rec)
        units = {k: u for k, (u, _) in END_TO_END.items()}
    correct = not rec["check_errors"] and run.failed == 0
    for err in rec["check_errors"]:
        _log(f"output check failed: {err}")
    if args.trace and args.workload == "pipeline":
        cov = values["pipeline.coverage"]
        verdict = "ok" if abs(1.0 - cov) <= 0.10 else "OUTSIDE 10%"
        print(f"pipeline layer coverage: spans cover {cov:.1%} of job_s ({verdict})")
    for name, value in values.items():
        print(_human(name, value, units[name], counts[name]))
    if run.query_samples:
        n = len(run.query_samples)
        print(f"per-query samples: {n} (p95 {'has' if tail_ok(n, 95) else 'lacks'}"
              f" 10 samples beyond it)")

    rec.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "items": wl.items, "unit": wl.unit,
        "in_bytes": wl.in_bytes, "metrics": values, "samples": counts,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
    })
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    with open(os.path.join(base, "results", name), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    for name, unit in units.items():
        check_metric_name(name)
        check_unit(unit)
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
