#!/usr/bin/env python3
"""Compare two sets of benchmark records (``.perfbench/results/*.json``).

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

For each workload and metric, prints the median and quartile spread of each
side and the change of the medians. Refuses (exit 2) when the records do not
all share one host fingerprint, or mix traced and untraced runs: numbers from
different hosts or modes are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from host import fingerprint_mismatch  # noqa: E402
from stats import median, quartile_spread  # noqa: E402


def _load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _summary(values):
    med = median(values)
    return med, quartile_spread(values) if len(values) > 1 and med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--new", nargs="+", required=True)
    args = p.parse_args(argv)
    base, new = _load(args.base), _load(args.new)
    records = base + new
    ref = records[0]
    for rec in records[1:]:
        diff = fingerprint_mismatch(ref["fingerprint"], rec["fingerprint"])
        if diff:
            print(f"refusing to compare: host fingerprints differ on {diff}",
                  file=sys.stderr)
            return 2
        if rec["trace"] != ref["trace"]:
            print("refusing to compare traced with untraced runs", file=sys.stderr)
            return 2
    workloads = sorted({r["workload"] for r in records})
    for w in workloads:
        b = [r for r in base if r["workload"] == w]
        n = [r for r in new if r["workload"] == w]
        if not b or not n:
            print(f"{w}: missing on one side")
            continue
        for metric in b[0]["metrics"]:
            bm, bs = _summary([r["metrics"][metric] for r in b])
            nm, ns = _summary([r["metrics"][metric] for r in n])
            change = (nm - bm) / bm if bm else float("nan")
            print(f"{w:9s} {metric:30s} base {bm:12.6g} (±{bs:5.1%}, n={len(b)})"
                  f"  new {nm:12.6g} (±{ns:5.1%}, n={len(n)})  {change:+7.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
