"""Benchmark harness (BASELINE.md contract), fitted to the host it runs on.

Prints ONE compact JSON line on stdout:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>,
     "images_n": N, "images_per_sec": R, "scaling": {...summary...}}

and writes the same record plus every run's seconds to
``BENCH/bench_full_latest.json``.

Protocol:

- ``cpus`` is the number of cores this process may run on
  (``sched_getaffinity``). The scaling levels are ``(N, 4N)`` with
  ``N = max(1, cpus // 4)`` — the BASELINE.json north rule's N-core vs
  4N-core pair; ``(1, 4)`` on a 4-core host. A level above ``cpus`` is
  skipped and listed in ``scaling.skipped_levels``, never oversubscribed.
- per-op: each :data:`BENCH_QUERIES` entry runs :data:`PER_OP_RUNS` times
  into the noop sink on a ``local[cpus]`` session against the tables in
  ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 set); the minimum is
  recorded. A query that raises is recorded as null and its error goes to
  the evidence file.
- pipeline: the flagship ``run_pipeline`` job (index + PIP + color fused,
  checkpointed write) over a synthetic images table, on the engine's own
  session defaults. Each level runs in a fresh subprocess pinned to that
  many cores; the levels are interleaved for :data:`ROUNDS` rounds and the
  per-level minimum is the rate estimate. There is one efficiency value,
  ``efficiency_{N}_to_{4N} = (rate_4N / rate_N) / 4``. ``images_per_sec``
  is the rate at the largest measured level.

Per-layer attribution of the pipeline lives in ``perfbench/run.py --trace 1``.

Usage: python bench.py            # full bench, one JSON line on stdout
       python bench.py --pipeline-only --cpus C --images <path>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: interleaved rounds per level; the per-level minimum is the estimator
ROUNDS = 3
#: executions per per-operator query; the recorded number is the minimum
PER_OP_RUNS = 3
#: per-run hard cap. A Python-stage task was once seen to wedge on its
#: worker socket with both sides blocked (history/BENCH/wedge_rootcause.md);
#: a hung run must not hang the whole bench, so it is killed and retried once.
RUN_TIMEOUT_S = 900
#: tmpfs for the bench tables: RAM-backed I/O measures the engine, not the
#: host's single virtio disk
TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

METRIC = (
    "images/sec end-to-end pipeline; per-op sec (min of "
    f"{PER_OP_RUNS}); N-vs-4N scaling at pinned local[N]/local[4N], "
    f"interleaved min of {ROUNDS} (full evidence: BENCH/bench_full_latest.json)"
)

FULL_RECORD_PATH = os.path.join(HERE, "BENCH", "bench_full_latest.json")

#: per-operator bench set — a representative slice of queries()
BENCH_QUERIES = [
    "gamma",
    "dsl_chain",
    "saturation",
    "tile_encode",
    "cell_encode",
    "pip_join",
    "knn_geo",
    "dedup_exact",
    "minhash_sig",
    "lsh_pairs",
    "simhash",
    "token_count",
    "quality",
    "ann_topk",
    "ann_lsh",
    "cosine_neardup",
    "band_stats",
    "tpch_q1",
    "events_window",
    "tiff_ingest",
    "frames_y4m",
]


def host_cpus() -> int:
    """Cores this process may run on (respects ``taskset``/cgroup pinning)."""
    return len(os.sched_getaffinity(0))


def scaling_levels(cpus: int) -> tuple[list[int], list[int]]:
    """(levels to run, levels skipped) for the ``(N, 4N)`` pair on a host
    with ``cpus`` usable cores."""
    n = max(1, cpus // 4)
    run = [c for c in (n, 4 * n) if c <= cpus]
    return run, [c for c in (n, 4 * n) if c > cpus]


def summarize(
    runs: dict[int, list[float]], n_images: int, skipped: list[int]
) -> dict:
    """Compact scaling summary from every level's run seconds: per-level
    rate at its fastest run, and the N→4N efficiency when both ran."""
    levels = sorted(runs)
    scaling: dict = {"levels": levels, "skipped_levels": skipped}
    rates = {c: n_images / min(runs[c]) for c in levels}
    for c in levels:
        scaling[f"local[{c}]_images_per_sec"] = round(rates[c], 1)
    n = levels[0]
    if 4 * n in rates:
        scaling[f"efficiency_{n}_to_{4 * n}"] = round(
            (rates[4 * n] / rates[n]) / 4.0, 3
        )
    return scaling


def _sf_of(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def run_pipeline_once(cpus: int, images_path: str) -> float:
    """Run the flagship pipeline in THIS process; return wall seconds."""
    from rio_color_spark.pipeline import run_pipeline
    from rio_color_spark.session import get_spark
    from rio_color_spark.sources.polygons import packed_polygons

    spark = get_spark(f"bench-pipeline-{cpus}", master=f"local[{cpus}]")
    packed = packed_polygons(40)
    # steady-state throughput is the metric, but each run is a fresh JVM: a
    # 4096-image mini run of the real pipeline warms codegen, the Python
    # worker pool and the driver-side plan/committer path first
    warm = tempfile.mkdtemp(prefix=f"rcs_bench_warm_{cpus}_", dir=TMP_BASE)
    images = spark.read.parquet(images_path)
    run_pipeline(spark, images.limit(4096), warm + "/run", packed, n_chunks=1)
    shutil.rmtree(warm, ignore_errors=True)
    out = tempfile.mkdtemp(prefix=f"rcs_bench_out_{cpus}_", dir=TMP_BASE)
    # one chunk: chunking is a fault-tolerance granularity, and each chunk's
    # fixed costs (job setup, commit) would tax the faster level more. The
    # resume contract is exercised by tests/test_checkpoint.py.
    t0 = time.perf_counter()
    run_pipeline(spark, images_path, out + "/run", packed, n_chunks=1)
    dt = time.perf_counter() - t0
    spark.stop()
    shutil.rmtree(out, ignore_errors=True)
    return dt


def _reap_tmpfs(cpus: int) -> None:
    """A killed or crashed run can't clean its tmpfs output; runs are
    serial, so the globs only match the dead run's directories."""
    for pat in (f"rcs_bench_out_{cpus}_*", f"rcs_bench_warm_{cpus}_*"):
        for d in glob.glob(os.path.join(TMP_BASE or tempfile.gettempdir(), pat)):
            shutil.rmtree(d, ignore_errors=True)


def pipeline_subprocess(cpus: int, images_path: str) -> float:
    """One pipeline run in a fresh process pinned to ``cpus`` cores;
    returns its seconds. Retries once on failure or timeout — a retry is
    indistinguishable from a first run (fresh process, same pinning)."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--pipeline-only",
        "--cpus", str(cpus), "--images", images_path,
    ]
    last_err = ""
    for _attempt in range(2):
        # start_new_session → the child leads its own process group, so a
        # timeout kill reaps the whole tree (the Spark JVM is a GRANDchild)
        proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            cwd=HERE, start_new_session=True,
        )
        try:
            out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                proc.kill()
            proc.communicate()
            last_err = f"timed out after {RUN_TIMEOUT_S}s (process group killed)"
            _reap_tmpfs(cpus)
            continue
        if proc.returncode == 0:
            return json.loads(out.strip().splitlines()[-1])["seconds"]
        last_err = err[-2000:]
        _reap_tmpfs(cpus)
    raise RuntimeError(f"pipeline run at local[{cpus}] failed twice: {last_err}")


def _pipeline_only(args) -> None:
    # pin to the first `cpus` cores this process may use; the parent only
    # asks for levels that fit, so this never oversubscribes
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[: args.cpus])
    print(json.dumps({"seconds": run_pipeline_once(args.cpus, args.images)}))


def per_op(spark, sf_dir: str) -> tuple[dict, dict, dict]:
    """(min seconds per query, every run's seconds, errors) over
    :data:`BENCH_QUERIES`, each executed into the noop sink."""
    import __spark_entry__ as E

    qs = E.queries()
    best: dict[str, float | None] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        ts = []
        try:
            for _ in range(PER_OP_RUNS):
                t0 = time.perf_counter()
                # noop sink: full distributed execution, no driver collect tax
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                ts.append(round(time.perf_counter() - t0, 3))
        except Exception as ex:  # one missing input fails one query, not the bench
            errors[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
        runs[name] = ts
        best[name] = None if name in errors else min(ts)
    return best, runs, errors


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=0)
    ap.add_argument("--images", type=str, default="")
    args = ap.parse_args()

    if args.pipeline_only:
        _pipeline_only(args)
        return

    sys.path.insert(0, HERE)
    from rio_color_spark.session import get_spark
    from rio_color_spark.sources.images import write_images

    cpus = host_cpus()
    levels, skipped = scaling_levels(cpus)
    sf = _sf_of(SF_DIR)
    n_images = max(20_000, int(1_000_000 * sf)) if sf > 0 else 20_000

    total0 = time.perf_counter()
    spark = get_spark("bench", master=f"local[{cpus}]")

    # the synthetic images table, shared by every pipeline run
    img_dir = tempfile.mkdtemp(prefix="rcs_bench_imgs_", dir=TMP_BASE)
    img_path = img_dir + "/images"
    runs: dict[int, list[float]] = {c: [] for c in levels}
    try:
        t0 = time.perf_counter()
        write_images(spark, n_images, img_path, partitions=256)
        queries: dict = {"generate_images": round(time.perf_counter() - t0, 3)}

        best, query_runs, query_errors = per_op(spark, SF_DIR)
        queries.update(best)
        spark.stop()

        for _round in range(ROUNDS):
            for c in levels:
                runs[c].append(round(pipeline_subprocess(c, img_path), 3))
    finally:
        shutil.rmtree(img_dir, ignore_errors=True)

    scaling = summarize(runs, n_images, skipped)
    for c in levels:
        queries[f"pipeline_local{c}"] = min(runs[c])
    headline = {
        "metric": METRIC,
        "value": round(time.perf_counter() - total0, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "images_n": n_images,
        "images_per_sec": scaling[f"local[{levels[-1]}]_images_per_sec"],
        "scaling": scaling,
    }
    evidence = {
        "host_cpus": cpus,
        "pipeline_runs": {str(c): rs for c, rs in runs.items()},
        "query_runs": query_runs,
        "query_errors": query_errors,
    }
    try:
        os.makedirs(os.path.dirname(FULL_RECORD_PATH), exist_ok=True)
        with open(FULL_RECORD_PATH, "w") as f:
            json.dump({**headline, "evidence": evidence}, f, indent=1)
    except OSError:
        pass  # the headline line must still print on a read-only checkout
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
