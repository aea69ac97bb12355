"""``rio-color-spark`` CLI — the engine's analogue of the reference's
``rio color`` / ``rio atmos`` commands (reference rio_color/scripts/cli.py:33-219),
re-targeted from GeoTIFF windows to parquet/Iceberg image tables.

Mirrored behaviors (pinned by tests/test_cli.py in both repos):

- ``color SRC DST OPERATIONS...``: DSL validated EARLY on the driver (bad
  or empty ops → usage error, exit code 2, nothing written — reference
  cli.py:92-98), then applied by the fused executor chain.
- ``atmos -a -c -b SRC DST``: composes the same opstring as the reference
  (operations.py:144-151); ``--as-color`` echoes the equivalent ``color``
  command and runs nothing (reference cli.py:180-186, golden at reference
  tests/test_cli.py:233-241).
- ``-j/--jobs``: reference check_jobs semantics (cli.py:22-30) — 0 is a
  usage error, negative means all cores; here jobs become the local-mode
  core count (``local[j]``) or, under spark-submit with a real master,
  are ignored in favor of the cluster (pass -1).
- ``--out-dtype uint8|uint16``: rescale payload dtype (cli.py:36-39).
- ``--co NAME=VALUE``: creation options, forwarded to the parquet writer
  (the facade analogue of GDAL creation options, cli.py:85).

Run via ``python -m rio_color_spark.cli ...`` or ship the package with
``spark-submit --py-files rio_color_spark.zip -m``-style entry scripts.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import sys


def check_jobs(jobs: int, parser: argparse.ArgumentParser) -> int:
    """Reference check_jobs (cli.py:22-30): 0 → usage error; <0 → every core
    this process may run on (respects ``taskset``/cgroup pinning)."""
    if jobs == 0:
        parser.error("Jobs must be >= 1 or == -1")
    if jobs < 0:
        return len(os.sched_getaffinity(0))
    return jobs


def _co_pairs(values: list[str], parser: argparse.ArgumentParser) -> dict[str, str]:
    out = {}
    for v in values:
        if "=" not in v:
            parser.error(f"--co expects NAME=VALUE, got {v!r}")
        k, _, val = v.partition("=")
        out[k] = val
    return out


def _set_pairs(values: list[str], parser: argparse.ArgumentParser) -> dict[str, str]:
    out = {}
    for v in values:
        col, sep, expr = v.partition("=")
        if not sep or not col.strip() or not expr.strip():
            parser.error(f"--set expects COL=EXPR, got {v!r}")
        out[col.strip()] = expr.strip()
    return out


def _print_rowop(snap: dict, before) -> None:
    """Echo a row op's new snapshot and summary; ``noop`` when nothing
    matched (no new snapshot)."""
    out = {"version": snap["version"], "snapshot_id": snap["current_snapshot_id"]}
    if snap["current_snapshot_id"] == before:
        out["noop"] = True
    else:
        out.update(snap["snapshots"][-1].get("summary", {}))
    print(json.dumps(out))


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="rio-color-spark",
        description="Color correction over parquet image tables, Spark-native.",
    )
    sub = p.add_subparsers(dest="command", required=True)

    common = dict(
        jobs=lambda sp: sp.add_argument(
            "-j",
            "--jobs",
            type=int,
            default=1,
            help="Local cores to run on; -1 for all cores; ignored when "
            "spark-submit supplies a master. Default: 1",
        ),
        dtype=lambda sp: sp.add_argument(
            "-d",
            "--out-dtype",
            choices=["uint8", "uint16"],
            help="Integer data type for output pixels, default: same as input",
        ),
        co=lambda sp: sp.add_argument(
            "--co",
            action="append",
            default=[],
            metavar="NAME=VALUE",
            help="Writer creation option (repeatable), e.g. --co compression=zstd",
        ),
    )

    c = sub.add_parser("color", help="Apply a DSL operation chain")
    common["jobs"](c)
    common["dtype"](c)
    common["co"](c)
    c.add_argument("src_path")
    c.add_argument("dst_path")
    c.add_argument("operations", nargs="+", help='e.g. "gamma b 1.85" "sigmoidal rgb 35 0.13"')

    a = sub.add_parser("atmos", help="Atmospheric correction")
    a.add_argument("-a", "--atmo", type=float, default=0.03)
    # default kept float so the --as-color echo matches the reference
    # golden exactly ("sigmoidal rgb 10.0 0.15", tests/test_cli.py:233-241)
    a.add_argument("-c", "--contrast", type=float, default=10.0)
    a.add_argument("-b", "--bias", type=float, default=0.15)
    common["dtype"](a)
    common["co"](a)
    a.add_argument(
        "--as-color",
        action="store_true",
        help="Print the equivalent color command and exit without running",
    )
    a.add_argument("src_path")
    a.add_argument("dst_path")
    common["jobs"](a)

    o = sub.add_parser(
        "optimize",
        help="Anneal a color formula making SRC's histogram match REF's "
        "(reference scripts/optimize_color.py:193-240)",
    )
    o.add_argument("src_path", help="parquet images table to color-correct")
    o.add_argument("ref_path", help="parquet images table with the target look")
    o.add_argument("--steps", type=int, default=500, help="annealing steps")
    o.add_argument("--seed", type=int, default=0, help="deterministic seed")
    o.add_argument(
        "--max-pixels",
        type=int,
        default=250_000,
        help="driver-side sample budget (the analogue of the reference's "
        "--downsample option — bounds what leaves the cluster)",
    )
    common["jobs"](o)

    i = sub.add_parser(
        "ingest",
        help="GeoTIFF -> parquet image table (distributed tile decode; "
        "profile preserved in a _tiff_profile.json manifest)",
    )
    i.add_argument("src_tif")
    i.add_argument("dst_table")
    common["jobs"](i)

    e = sub.add_parser(
        "export",
        help="parquet image table (+ manifest) -> GeoTIFF "
        "(distributed tile encode; --co overrides compression etc.)",
    )
    e.add_argument("src_table")
    e.add_argument("dst_tif")
    common["co"](e)
    common["jobs"](e)

    t = sub.add_parser(
        "table",
        help="Snapshot-table management (sources/snapshots.py): create/"
        "append/history/files/compact/expire/evolve/delete/update/merge",
    )
    t.add_argument(
        "action",
        choices=["create", "append", "history", "files", "compact",
                 "expire", "evolve", "delete", "update", "merge"],
    )
    t.add_argument("base", help="table root directory")
    t.add_argument("src", nargs="?", help="append: source parquet path")
    t.add_argument("--schema", help="create: DDL schema 'name type, ...'")
    t.add_argument(
        "--partition",
        action="append",
        default=[],
        metavar="TRANSFORM:COL[:INT]",
        help="create: hidden-partition transform (repeatable), e.g. "
        "bucket:doc_id:16, truncate:ts:3600, identity:lang",
    )
    t.add_argument("--keep", type=int, default=1,
                   help="expire: snapshots to retain (default 1)")
    t.add_argument("--add", metavar="NAME:TYPE",
                   help="evolve: add a column")
    t.add_argument("--drop", metavar="NAME", help="evolve: drop a column")
    t.add_argument("--rename", metavar="OLD:NEW",
                   help="evolve: rename a column")
    t.add_argument("--snapshot-id", type=int, default=None,
                   help="files: plan a specific snapshot")
    t.add_argument("--sort", action="append", default=[], metavar="COL",
                   help="compact: cluster the rewrite by COL (repeatable; "
                   "range-sorted files → min/max stats prune reads)")
    t.add_argument("--zorder", action="append", default=[], metavar="COL",
                   help="compact: Morton (Z-order) cluster by 2+ numeric "
                   "columns — stats prune on EVERY listed column")
    t.add_argument("--where", metavar="SQL",
                   help="delete/update: row predicate (SQL boolean expr; "
                   "copy-on-write — only matching files rewrite)")
    t.add_argument("--set", action="append", default=[], dest="set_",
                   metavar="COL=EXPR",
                   help="update: assignment (repeatable), evaluated "
                   "against the pre-update row; merge: matched-row "
                   "assignment over src_* columns (default update_all)")
    t.add_argument("--on", action="append", default=[], metavar="COL",
                   help="merge: key column (repeatable)")
    t.add_argument("--matched", default=None,
                   choices=["update_all", "delete"],
                   help="merge: matched-row action when no --set given "
                   "(default update_all)")
    t.add_argument("--not-matched", default="insert",
                   choices=["insert", "ignore"],
                   help="merge: unmatched-source action (default insert)")
    common["jobs"](t)
    common["co"](t)
    return p


@contextlib.contextmanager
def _session(jobs: int):
    """Spark session for one command: reuse an active session when one
    exists — under spark-submit (or tests) its lifecycle belongs to its
    owner; stop only what we created. A spark-submit --master (SparkConf)
    also wins over -j: the jobs flag sizes LOCAL runs, a cluster sizes
    itself (reference -j ≈ pool size, cli.py:103-112 — here the pool is
    the cluster)."""
    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    from rio_color_spark.session import get_spark

    owned = SparkSession.getActiveSession() is None
    configured = SparkConf().get("spark.master", None)
    spark = get_spark("rio-color-spark-cli", master=configured or f"local[{jobs}]")
    try:
        yield spark
    finally:
        if owned:
            spark.stop()


def _run(src: str, dst: str, ops: str, out_dtype, jobs: int, co: dict) -> None:
    """One lazy path for every src/dst kind: source (a .tif, or a parquet
    table with its optional manifest) → ``color_correct`` → sink (a .tif,
    whose --co are GDAL-style container creation options as in reference
    cli.py:81-121; or a parquet table, whose --co are parquet writer
    options, with a manifest holding the output profile). A .tif → .tif
    run is ``color_correct_tiff``, one Python pass per tile."""
    from rio_color_spark.operators.color import color_correct
    from rio_color_spark.sources import codec
    from rio_color_spark.sources import tiff_bridge as TB

    with _session(jobs) as spark:
        if TB.is_tiff_path(src) and TB.is_tiff_path(dst):
            TB.color_correct_tiff(spark, src, dst, ops, out_dtype, co)
            return
        if TB.is_tiff_path(src):
            df, prof = TB.tiff_rows(spark, src)
        else:
            df, prof = TB.table_rows(spark, src)
        if prof is None and TB.is_tiff_path(dst):
            raise SystemExit(
                "exporting a .tif needs the source table's "
                f"{TB.MANIFEST} manifest; ingest the source tif first"
            )
        out = color_correct(df, ops, out_dtype=out_dtype)
        if TB.is_tiff_path(dst):
            fmt = codec.fmt_for_dtype(out_dtype or prof.np_dtype, prof.count)
            TB.write_tiff_rows(out, prof, fmt, dst, co)
        else:
            if prof is not None:
                prof = dataclasses.replace(prof, dtype=out_dtype or prof.dtype)
            TB.write_table(out, prof, dst, co)


def _table_cmd(args, parser) -> int:
    """Snapshot-table management. Metadata-only actions (create, history,
    files, expire, evolve) never start Spark — they are driver-side
    manifest/metadata reads, exactly like Iceberg's catalog operations;
    append and compact run distributed."""
    from rio_color_spark.sources.snapshots import SnapshotTable

    if args.action == "create":
        if not args.schema:
            parser.error("table create needs --schema 'name type, ...'")
        spec = []
        for p in args.partition:
            bits = p.split(":")
            if len(bits) == 2:
                spec.append((bits[0], bits[1]))
            elif len(bits) == 3 and bits[2].isdecimal():
                spec.append((bits[0], bits[1], int(bits[2])))
            else:
                parser.error(f"--partition expects TRANSFORM:COL[:INT], got {p!r}")
        try:
            SnapshotTable.create(args.base, args.schema, partition_spec=spec or None)
        except (FileExistsError, KeyError, ValueError) as e:
            parser.error(str(e))
        return 0

    t = SnapshotTable(args.base)
    if args.action == "history":
        for s in t.metadata()["snapshots"]:
            print(json.dumps({
                "snapshot_id": s["snapshot_id"],
                "timestamp_ms": s["timestamp_ms"],
                "operation": s["operation"],
                "schema_id": s["schema_id"],
                **s["summary"],
            }))
        return 0
    if args.action == "files":
        kept, report = t.plan_files(snapshot_id=args.snapshot_id)
        for r in kept:
            print(json.dumps({
                "file_path": r["file_path"], "n_rows": r["n_rows"],
                "n_bytes": r["n_bytes"], "schema_id": r["schema_id"],
                "spec_id": r.get("spec_id", 0),
                "partition": r.get("partition", "{}"),
            }))
        print(json.dumps(report))
        return 0
    if args.action == "expire":
        new = t.expire_snapshots(keep_last=args.keep)
        print(json.dumps({"version": new["version"],
                          "snapshots": len(new["snapshots"])}))
        return 0
    if args.action == "evolve":
        if args.add:
            name, _, type_ddl = args.add.partition(":")
            if not type_ddl:
                parser.error("--add expects NAME:TYPE")
            t.add_column(name, type_ddl)
        elif args.drop:
            t.drop_column(args.drop)
        elif args.rename:
            old, _, new = args.rename.partition(":")
            if not new:
                parser.error("--rename expects OLD:NEW")
            t.rename_column(old, new)
        else:
            parser.error("evolve needs --add, --drop, or --rename")
        print(t.schema_ddl())
        return 0

    # append / compact run distributed
    jobs = check_jobs(args.jobs, parser)
    with _session(jobs) as spark:
        if args.action == "append":
            if not args.src:
                parser.error("table append needs a source parquet path")
            snap = t.append(
                spark.read.parquet(args.src),
                write_options=_co_pairs(args.co, parser),
            )
            print(json.dumps({"version": snap["version"],
                              "snapshot_id": snap["current_snapshot_id"]}))
        elif args.action == "merge":
            if not args.src:
                parser.error("table merge needs a source parquet path")
            if not args.on:
                parser.error("table merge needs --on KEY")
            when_matched = (
                _set_pairs(args.set_, parser) if args.set_
                else args.matched or "update_all"
            )
            before = t.metadata()["current_snapshot_id"]
            try:
                snap = t.merge_into(
                    spark, spark.read.parquet(args.src), on=args.on,
                    when_matched=when_matched,
                    when_not_matched=args.not_matched,
                    write_options=_co_pairs(args.co, parser),
                )
            except (KeyError, ValueError) as e:
                parser.error(str(e))
            _print_rowop(snap, before)
        elif args.action in ("delete", "update"):
            if not args.where:
                parser.error(f"table {args.action} needs --where 'SQL predicate'")
            before = t.metadata()["current_snapshot_id"]
            if args.action == "delete":
                snap = t.delete_where(
                    spark, args.where, write_options=_co_pairs(args.co, parser)
                )
            else:
                if not args.set_:
                    parser.error("table update needs --set COL=EXPR")
                snap = t.update_where(
                    spark, args.where, _set_pairs(args.set_, parser),
                    write_options=_co_pairs(args.co, parser),
                )
            _print_rowop(snap, before)
        else:  # compact
            try:
                snap = t.compact(
                    spark, write_options=_co_pairs(args.co, parser),
                    sort_by=args.sort or None, zorder=args.zorder or None,
                )
            except (KeyError, ValueError) as e:
                parser.error(str(e))
            print(json.dumps({"version": snap["version"],
                              "snapshot_id": snap["current_snapshot_id"]}))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)

    if args.command == "color":
        ops = " ".join(args.operations)
        # validate-early (reference cli.py:92-98): a bad chain must fail
        # with a usage error before any Spark job launches
        from rio_color_spark.plans.dsl import parse_ops_spec

        try:
            parse_ops_spec(ops)
        except ValueError as e:
            parser.error(str(e))
        jobs = check_jobs(args.jobs, parser)
        _run(args.src_path, args.dst_path, ops, args.out_dtype, jobs,
             _co_pairs(args.co, parser))
        return 0

    if args.command == "optimize":
        from rio_color_spark.operators.optimize import optimize_color

        jobs = check_jobs(args.jobs, parser)
        with _session(jobs) as spark:
            res = optimize_color(
                spark.read.parquet(args.src_path),
                spark.read.parquet(args.ref_path),
                steps=args.steps,
                seed=args.seed,
                max_pixels=args.max_pixels,
            )
        # reference progress_report prints best cmd + scores
        # (scripts/optimize_color.py:29-47); final echo shape mirrors it
        print(f"rio color src dst {res['ops']}")
        print(f"score: {res['score']:.6f}")
        print(f"initial_score: {res['initial_score']:.6f}")
        return 0

    if args.command == "ingest":
        from rio_color_spark.sources import tiff_bridge as TB

        jobs = check_jobs(args.jobs, parser)
        with _session(jobs) as spark:
            TB.ingest_tiff(spark, args.src_tif, args.dst_table)
        return 0

    if args.command == "export":
        from rio_color_spark.sources import tiff_bridge as TB

        jobs = check_jobs(args.jobs, parser)
        with _session(jobs) as spark:
            TB.export_tiff(
                spark, args.src_table, args.dst_tif,
                creation_options=_co_pairs(args.co, parser),
            )
        return 0

    if args.command == "table":
        return _table_cmd(args, parser)

    # atmos
    from rio_color_spark.functions.operations import simple_atmo_opstring

    ops = simple_atmo_opstring(args.atmo, args.contrast, args.bias)
    if args.as_color:
        # exact echo shape pinned by reference tests/test_cli.py:233-241
        print(f"rio color {args.src_path} {args.dst_path} {ops}")
        return 0
    jobs = check_jobs(args.jobs, parser)
    _run(args.src_path, args.dst_path, ops, args.out_dtype, jobs,
         _co_pairs(args.co, parser))
    return 0


if __name__ == "__main__":
    sys.exit(main())
