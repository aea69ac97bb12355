"""Small, Spark-free helpers of the benchmark: percentiles, the parser for
Spark SQL metric strings, and metric-name validation.

Everything here is pure Python so that ``perfbench/tests`` can check it
without a Spark session.
"""

from __future__ import annotations

import math
import re

#: a percentile is reported only when at least this many samples lie beyond
#: it (the rest are too few to say anything about that tail)
MIN_TAIL_SAMPLES = 10

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``% of
    the samples at or below it. Always a measured value, never an
    interpolation between two runs."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def median(values) -> float:
    return percentile(values, 50)


def tail_ok(n_samples: int, q: float) -> bool:
    """True when percentile ``q`` of ``n_samples`` samples has at least
    :data:`MIN_TAIL_SAMPLES` samples strictly beyond its rank."""
    rank = math.ceil(q / 100.0 * n_samples)
    return n_samples - rank >= MIN_TAIL_SAMPLES


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``: the run-to-run spread measure the
    benchmark's bounds are checked against."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# -- Spark SQL metric strings -------------------------------------------------

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "PiB": 1 << 50,
}


def parse_sql_metric(text: str) -> float:
    """One Spark SQL metric value, as the SQL status store formats it, to a
    number in base units (seconds, bytes or a count).

    Accepted forms: ``"12,345"`` (sum), ``"24 ms"`` / ``"8.1 s"`` (timing),
    ``"4.2 MiB"`` (size), and the per-task form
    ``"total (min, med, max (stageId: taskId))\\n8.1 s (2.0 s, ...)"``,
    whose total is the value. Raises ValueError on anything else.
    """
    line = text.strip().splitlines()[-1].strip() if text and text.strip() else ""
    head = line.split(" (", 1)[0].strip()
    if not head:
        raise ValueError(f"empty SQL metric: {text!r}")
    parts = head.split()
    if len(parts) == 1:
        try:
            return float(parts[0].replace(",", ""))
        except ValueError:
            raise ValueError(f"unparsable SQL metric: {text!r}") from None
    if len(parts) == 2:
        num, unit = parts
        try:
            value = float(num.replace(",", ""))
        except ValueError:
            raise ValueError(f"unparsable SQL metric: {text!r}") from None
        if unit in _TIME_UNITS:
            return value * _TIME_UNITS[unit]
        if unit in _SIZE_UNITS:
            return value * _SIZE_UNITS[unit]
    raise ValueError(f"unparsable SQL metric: {text!r}")


# -- metric names -------------------------------------------------------------


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name (starts with
    a letter or digit; at most 64 letters, digits, ``_``, ``.``, ``-``);
    raise ValueError otherwise."""
    if not isinstance(name, str) or not _NAME.fullmatch(name):
        raise ValueError(f"invalid metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    """Return ``unit`` if it is at most 16 letters, digits, ``_/%.-``."""
    if not isinstance(unit, str) or not _UNIT.fullmatch(unit):
        raise ValueError(f"invalid unit: {unit!r}")
    return unit
