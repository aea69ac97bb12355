"""The flagship end-to-end pipeline (BASELINE.json metric):

    read images → spatial index (lon/lat, XYZ tiles, cells)
        → PIP assignment (fused, pixel-free poly_ids column)
        → fused color-correct (single mapInPandas)
        → task-written parquet files → chunk commit (images + lineage)

Plan properties at scale:

- **exactly ONE Python crossing per image, ever**: decode, color chain,
  tile/cell encode, the PIP ray cast and the parquet write all run in
  the same ``index_and_color`` batch loop (operators/color.py): each task
  writes its own file of the chunk and returns one row (file, rows,
  assignment rows, bytes), so no pixel row goes back to the JVM and the
  chunk record takes its counts from those rows. ONE output per chunk:
  tile assignments are the view :func:`assignments`, a JVM-side
  ``explode(poly_ids)`` over the committed images, ``bytes`` pruned
- **no source re-scan**: when the input is a path, chunks are deterministic
  stripes of the source's data FILES (the Parquet-facade analogue of
  Iceberg manifest-level split planning) — chunk k's job reads ONLY chunk
  k's files, so resume prunes at the scan and a full run reads each input
  byte once. A plain DataFrame input (no files) falls back to hash
  chunking, which re-scans the (in-memory/small) source per chunk.
- no wide dependency anywhere: a chunk's job is one stage of narrow map
  work, one task per scan split and one file per task
- **chunks run concurrently, commit in order**: each chunk is its
  own Spark job, submitted from a thread pool so that a chunk's few tasks
  do not leave the other cores idle; both ledgers commit on the calling
  thread in chunk order, and a failed chunk lets the others finish and
  commit before its error is raised (see :func:`run_pipeline`)
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from rio_color_spark.functions.pip import PackedPolygons
from rio_color_spark.operators.color import index_and_color
from rio_color_spark.sources.catalog import CheckpointedWriter

#: the reference README's canonical example chain (README.md:29-47)
FLAGSHIP_OPS = "gamma b 1.85, gamma rg 1.95, sigmoidal rgb 35 0.13, saturation 1.15"


def _list_data_files(spark: SparkSession, path: str) -> tuple[list[str], bool]:
    """(sorted data-file URIs, is-flat-local-directory) of a parquet table.

    A local directory is listed with one ``scandir`` (the facade analogue
    of reading Iceberg's manifest list — a metadata operation, not a Spark
    job). ``spark.read.parquet(...).inputFiles()`` costs 0.3-0.9 s of
    driver-side schema inference + InMemoryFileIndex per call — a fixed,
    parallelism-independent tax that lands straight on the N-vs-4N
    efficiency ratio. Non-local paths (hdfs/s3), empty top levels AND any
    directory containing non-hidden subdirectories (partitioned layouts —
    their data files live in the subtree) fall back to Spark's listing,
    matching ``inputFiles()`` exactly. Same hidden-file rule as Spark:
    names starting with ``_`` or ``.`` are not data files; URIs match
    inputFiles' ``file://`` form so stripe fingerprints are identical
    either way.
    """
    if os.path.isdir(path):
        out = []
        flat = True
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue
                if e.is_dir():
                    flat = False  # partition dirs: defer to Spark's recursion
                    break
                if e.is_file():
                    out.append("file://" + os.path.abspath(e.path))
        if out and flat:
            return sorted(out), True
    return sorted(spark.read.parquet(path).inputFiles()), False


def _stripe_schema(spark: SparkSession, first_file: str):
    """The table schema from ONE data file's footer, as cheaply as possible.

    Measured driver costs at a 256-file/100k-row table (the bench input):
    ``spark.read.parquet(<256 paths>)`` pays ~1.3-1.8 s of per-root-path
    InMemoryFileIndex + footer schema inference on EVERY reader call — a
    serial, parallelism-independent tax that lands straight on the N-vs-4N
    ratio (it is ~16% of a clean local[8] pipeline window). Reading the
    footer of one local file with pyarrow is 13 ms, and passing the result
    via ``spark.read.schema(...)`` drops the reader-call cost to ~0.1 s.
    Equality of the pyarrow-derived StructType with Spark's own inference
    is pinned by tests/test_checkpoint.py::test_stripe_schema_matches_spark.
    Non-local files fall back to one-file Spark inference (0.14 s — still
    10x cheaper than inferring over every stripe root).
    """
    local = first_file.removeprefix("file://")
    if os.path.isfile(local):
        try:
            return from_arrow_schema(pq.read_schema(local))
        except Exception:
            pass  # unusual footer types: let Spark's own inference decide
    return spark.read.parquet(first_file).schema


def chunk_plan(
    spark: SparkSession, images: DataFrame | str, n_chunks: int
) -> tuple[list, list]:
    """(readers, fingerprints): n_chunks thunks, each yielding one chunk's
    DataFrame on call, plus a per-chunk input fingerprint (or None).

    Path input → stripe the source's files round-robin (sorted for
    determinism): chunk k's scan touches only its own files, so the whole
    run reads each source byte exactly once and resume skips committed
    chunks at the scan. With Iceberg this is manifest-level split
    planning; on the Parquet facade it is the file listing. Each stripe's
    fingerprint is the md5 of its sorted file list — recorded in the chunk
    manifest and re-checked on resume, because file-striped chunking is
    layout-DEPENDENT: if the source was rewritten/compacted between runs,
    stripe k silently maps to different rows (ADVICE r2), so a mismatch
    must fail fast instead of duplicating/dropping rows.

    DataFrame input → ``pmod(xxhash64(image_id))`` hash chunks (layout-
    stable, fingerprint None); each chunk re-evaluates the source plan
    (acceptable for in-memory test inputs, not for a 100-TB table — pass
    the path for those).
    """
    if isinstance(images, str):
        files, flat = _list_data_files(spark, images)
        if len(files) >= n_chunks:
            stripes = [files[k::n_chunks] for k in range(n_chunks)]
            if flat:
                # one footer read supplies the schema for every stripe
                # reader: schema-less spark.read.parquet(<k paths>) re-infers
                # + re-indexes per call (~1.3-1.8 s serial driver time at 256
                # files) — see _stripe_schema. The single-stripe (n_chunks=1)
                # plan reads the table DIRECTORY: same files (Spark's hidden-
                # file rule matches _list_data_files), one root path instead
                # of hundreds. Both only for flat layouts — partitioned
                # sources keep Spark's own inference (partition columns are
                # not in any footer).
                schema = _stripe_schema(spark, files[0])
                whole = [images] if n_chunks == 1 else None
                readers = [
                    (lambda s=(whole or st): spark.read.schema(schema).parquet(*s))
                    for st in stripes
                ]
            else:
                readers = [
                    (lambda st=st: spark.read.parquet(*st)) for st in stripes
                ]
            fps = [
                hashlib.md5("\n".join(stripe).encode()).hexdigest()
                for stripe in stripes
            ]
            return readers, fps
        images = spark.read.parquet(images)
    df = images
    chunk_col = F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_chunks))
    readers = [(lambda k=k: df.filter(chunk_col == k)) for k in range(n_chunks)]
    return readers, [None] * n_chunks


def run_pipeline(
    spark: SparkSession,
    images: DataFrame | str,
    out_base: str,
    packed: PackedPolygons,
    ops: str = FLAGSHIP_OPS,
    n_chunks: int = 4,
    snapshot_base: str | None = None,
) -> CheckpointedWriter:
    """Run (or resume) the pipeline; returns the writer for readback of
    the one data output per chunk, ``images`` (tile assignments are the
    :func:`assignments` view over it; the chunk records count both).

    ``images`` may be a parquet path (preferred: file-stripe chunking, one
    scan per input byte) or a DataFrame. Each chunk's tasks write their own
    files with the settings of
    :data:`~rio_color_spark.sources.images.PAYLOAD_WRITE_OPTIONS`
    (``index_and_color(..., sink=True)``, run by
    :meth:`CheckpointedWriter.write_data`).

    Chunks not yet committed run concurrently: their plans are built on
    the calling thread in chunk order, and their writes run as concurrent
    Spark jobs from ``min(pending chunks, defaultParallelism)`` threads
    (serial at ``local[1]``). Each chunk commits on the calling thread, in
    chunk order, after its write. If a chunk fails, the run still waits
    for every submitted chunk and commits those that succeeded, then
    raises the first error by chunk; a planning error stops further chunks
    from being submitted. A resume then runs only the uncommitted chunks.

    ``snapshot_base`` additionally maintains a
    :class:`~rio_color_spark.sources.snapshots.SnapshotTable` over the
    colored-images output: each chunk's committed parquet files are
    registered via the metadata-only ``add_files`` commit (zero data
    copy), stamped ``pipeline_chunk`` in the snapshot summary. The
    snapshot log then gives the pipeline output atomic visibility,
    per-chunk time travel, and a second idempotence ledger — a crash
    between the chunk manifest commit and the snapshot commit heals on
    the next run (any committed chunk missing from the log is re-added;
    any chunk already in the log is skipped).
    """
    writer = CheckpointedWriter(out_base)
    readers, fps = chunk_plan(spark, images, n_chunks)

    done = writer.committed()
    # layout-stability check (ADVICE r2): a committed chunk whose recorded
    # stripe no longer matches the current file listing means the source
    # was rewritten between runs — resuming would duplicate/drop rows
    for k, rec in done.items():
        want = rec.get("stripe_md5")
        if want is not None and k < len(fps) and fps[k] != want:
            raise RuntimeError(
                f"chunk {k}: source file stripe changed since its commit "
                f"(manifest {want}, current {fps[k]}) — the source was "
                "rewritten/compacted; restart from a fresh out_base"
            )
    snap = _SnapshotSink(snapshot_base) if snapshot_base else None
    if snap:
        # heal: chunks whose manifest commit landed but whose snapshot
        # commit didn't (crash in the window between the two ledgers)
        for k, rec in sorted(done.items()):
            snap.commit_chunk(k, rec["files"]["images"], rec.get("stripe_md5"))

    pending = [k for k in range(n_chunks) if k not in done]
    errors: dict[int, Exception] = {}
    workers = max(1, min(len(pending), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(workers, thread_name_prefix="chunk") as pool:
        futures = {}
        for k in pending:
            try:
                part = readers[k]()
                # the chunk's one job: index + PIP + color + parquet write
                # fused — exactly ONE Python worker set per task, ONE file
                # per task (see operators/color.index_and_color)
                plan = index_and_color(part, ops, packed=packed, sink=True)
            except Exception as e:  # plan no further chunks; drain the rest
                errors[k] = e
                break
            futures[k] = pool.submit(writer.write_data, plan, "images", k)
        # commits: this thread, chunk order, every chunk whose write succeeded
        for k, fut in futures.items():
            try:
                written = fut.result()
                rec = writer.commit_chunk(
                    k, {"images": written},
                    extra={"stripe_md5": fps[k]} if fps[k] else None,
                    derived_counts={
                        "assignments": sum(r["assignments"] for r in written[1])
                    },
                )
                if snap:
                    snap.commit_chunk(k, rec["files"]["images"], fps[k] or None)
            except Exception as e:
                errors[k] = e
    if errors:
        raise errors[min(errors)]
    return writer


def assignments(images: DataFrame) -> DataFrame:
    """Tile assignments, a view over committed images such as
    ``writer.read(spark, "images")``: one row per (image, containing polygon)."""
    return images.select(
        "image_id", F.explode("poly_ids").alias("poly_id"), "cell_id", "tile_xyz"
    )


class _SnapshotSink:
    """Registers pipeline chunk outputs in a SnapshotTable via metadata-
    only ``add_files`` commits, idempotent by ``pipeline_chunk``."""

    def __init__(self, base: str):
        self.base = base
        self._tbl = None

    def _table(self, sample_file: str):
        """Open the table, creating it on first use from a written file's
        footer schema (read with pyarrow like :func:`_stripe_schema`, so it
        needs no active SparkSession and works from any thread). The handle
        is kept only once open or create succeeded, so a failed create is
        retried on the next call."""
        from rio_color_spark.sources.snapshots import SnapshotTable

        if self._tbl is None:
            tbl = SnapshotTable(self.base)
            try:
                tbl.metadata()
            except FileNotFoundError:
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in from_arrow_schema(pq.read_schema(sample_file))
                )
                tbl = SnapshotTable.create(self.base, ddl)
            self._tbl = tbl
        return self._tbl

    def commit_chunk(self, k: int, files: list[str], stripe_md5) -> None:
        """Register chunk ``k``'s committed ``files`` once (a job without
        tasks commits none)."""
        if not files:
            return
        tbl = self._table(files[0])
        already = {
            s["summary"].get("pipeline_chunk")
            for s in tbl.metadata()["snapshots"]
        }
        if k in already:
            return
        extra = {"pipeline_chunk": k}
        if stripe_md5:
            extra["stripe_md5"] = stripe_md5
        tbl.add_files(files, summary_extra=extra)
