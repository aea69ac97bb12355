"""Worker-side timers for a traced benchmark run.

Python puts this directory's ``sitecustomize`` on import at interpreter
start, so when the benchmark adds the directory to the Python workers'
``PYTHONPATH`` (traced runs only), every worker wraps a few kernel entry
points of ``rio_color_spark`` with timers. The wrappers are installed as
module attributes before any task closure is unpickled, so the engine's
module-level references resolve to them.

Each worker keeps cumulative ``{key: [seconds, calls, n1, n2]}`` totals and
rewrites them to ``$PERFBENCH_TRACE_DIR/w-<pid>.json`` after every wrapped
call. A wrapper times only while the file ``$PERFBENCH_TRACE_DIR/ON``
exists, so the benchmark can alternate traced and untraced repetitions on
the same workers.
"""

import os

_DIR = os.environ.get("PERFBENCH_TRACE_DIR")


def _install(trace_dir: str) -> None:
    import functools
    import importlib
    import json
    import time

    flag = os.path.join(trace_dir, "ON")
    totals: dict = {}

    def flush() -> None:
        path = os.path.join(trace_dir, f"w-{os.getpid()}.json")
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(totals, f)
        os.replace(tmp, path)

    def record(key, seconds, n1=0, n2=0) -> None:
        t = totals.setdefault(key, [0.0, 0, 0, 0])
        t[0] += seconds
        t[1] += 1
        t[2] += n1
        t[3] += n2
        flush()

    def timed(key, fn, counts=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not os.path.exists(flag):
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            record(key, dt, *(counts(out, *args, **kwargs) if counts else ()))
            return out

        return wrapper

    def pip_counts(out, px, py, packed):
        """(bbox-candidate pairs, containing pairs): the ray casts
        pip_multi ran and the ones that hit. Counted after the timed call."""
        import numpy as np

        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        b = packed.bbox
        cand = 0
        for p in range(b.shape[0]):
            cand += int(
                np.count_nonzero(
                    (px >= b[p, 0]) & (px <= b[p, 2]) & (py >= b[p, 1]) & (py <= b[p, 3])
                )
            )
        return cand, sum(len(ids) for ids in out)

    targets = [
        ("rio_color_spark.sources.codec", "stack_decode", "kernel.decode", None),
        (
            "rio_color_spark.functions.colorspace",
            "saturate_rgb_from_linear",
            "kernel.saturate",
            None,
        ),
        ("rio_color_spark.functions.pip", "pip_multi", "pip", pip_counts),
        ("rio_color_spark.functions.cells", "encode_cell", "cells", None),
        ("rio_color_spark.sources.tiff", "decode_chunk", "tiff.decode", None),
        ("rio_color_spark.sources.tiff", "encode_chunk", "tiff.encode", None),
    ]
    for mod_name, attr, key, count in targets:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, timed(key, getattr(mod, attr), count))


if _DIR:
    _install(_DIR)
