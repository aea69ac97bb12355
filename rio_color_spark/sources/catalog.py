"""Storage facade: Iceberg-style committed writes, lineage, and resume.

The north rule requires every stage to write per-partition lineage +
row-count metrics to a checkpoint table so a killed job resumes from the
last committed partition. With an Iceberg runtime on the classpath the
engine uses ``df.writeTo(table).append()`` per chunk (Iceberg commits are
already atomic, and the lineage table is a regular Iceberg table). This
container has no Iceberg jars (SURVEY.md §7), so the facade provides the
same contract over plain Parquet:

- the base is a local directory (a ``file:`` URI is taken as its path;
  any other ``scheme://`` base raises ``ValueError``), so the manifest and
  the data always share one directory; tasks write into it, so every
  executor must see it at the same path (a local master, or a shared mount)
- each named output of a chunk is a **task-written plan**: every task
  writes its own parquet file with :func:`write_task_file` and returns one
  :data:`TASK_FILE_SCHEMA` row, so no data row goes back to the JVM.
  :meth:`CheckpointedWriter.write_data` runs the plan into
  ``<base>/<name>/chunk=<k>/`` with overwrite semantics: it clears the
  directory first and afterwards deletes every file no returned row names
  (failed task attempts, partial files), so a re-run of a half-written
  chunk is idempotent
- a chunk is COMMITTED only when a manifest row exists under
  ``<base>/_manifest/``; manifest rows are one-row PARQUET files (so the
  manifest is itself a queryable lineage table — :meth:`lineage_df` — the
  Iceberg metadata-table analogue), written via tmp-file + ``os.replace``
  (atomic on POSIX), AFTER the data write returns. A record holds the
  files and row counts the tasks returned; :meth:`CheckpointedWriter.read`
  reads exactly those files.
- resume = read the manifest, skip committed chunks; chunk inputs can be
  fingerprinted (``extra={"stripe_md5": ...}``) so a resume over a
  rewritten/compacted source fails fast instead of silently reassigning
  rows (pipeline.run_pipeline does this for file-striped chunks)

The contract (committed-chunk list, per-chunk lineage/row counts,
idempotent re-run, crash between data-write and manifest-write →
chunk re-runs) is itself under test (tests/test_checkpoint.py).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: the one row each task of a task-written plan returns: its file, the
#: rows in it, the summed lengths of its ``poly_ids`` lists (the rows of
#: the pipeline's ``assignments`` view; 0 without that column), its bytes
TASK_FILE_SCHEMA = StructType([
    StructField("path", StringType()), StructField("rows", LongType()),
    StructField("assignments", LongType()), StructField("bytes", LongType()),
])

#: Spark local properties through which write_data names a task-written
#: plan's output directory and the write's token to its tasks
_SINK_DIR = "rio_color_spark.sink.dir"
_SINK_TOKEN = "rio_color_spark.sink.token"


def write_task_file(frames, schema, options: dict):
    """Write one task's pandas ``frames`` to its own parquet file; runs in
    the task, returns its one :data:`TASK_FILE_SCHEMA` row as a frame.

    The file is ``part-<partition>-<attempt>-<token>.parquet`` in the
    directory :meth:`CheckpointedWriter.write_data` names; ``schema`` is a
    ``pyarrow.Schema``, ``options`` are ``pyarrow.parquet.ParquetWriter``
    arguments. A task without rows writes a zero-row file, so an empty
    chunk stays readable.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    ctx = TaskContext.get()
    out_dir = ctx.getLocalProperty(_SINK_DIR)
    if out_dir is None:
        raise RuntimeError("a task-written plan runs only through CheckpointedWriter.write_data")
    token = ctx.getLocalProperty(_SINK_TOKEN)
    path = os.path.join(
        out_dir, f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}-{token}.parquet"
    )
    rows = assignments = 0
    with pq.ParquetWriter(path, schema, **options) as w:
        for pdf in frames:
            w.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))
            rows += len(pdf)
            if "poly_ids" in pdf:
                assignments += int(pdf["poly_ids"].map(len).sum())
    return pd.DataFrame({
        "path": [path], "rows": [rows], "assignments": [assignments],
        "bytes": [os.path.getsize(path)],
    })


class CheckpointedWriter:
    """Chunked, resumable, lineage-tracked writer over the Parquet facade."""

    def __init__(self, base_path: str):
        if base_path.startswith("file:"):
            base_path = unquote(urlsplit(base_path).path)
        elif "://" in base_path:
            # the manifest and the tasks' files are written with local file
            # calls: a remote base would split them
            raise ValueError(f"CheckpointedWriter needs a local base: {base_path!r}")
        self.base = base_path.rstrip("/")
        self.manifest_dir = os.path.join(self.base, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def committed(self) -> dict[int, dict]:
        """chunk_id → manifest record for every committed chunk."""
        import pyarrow.parquet as pq

        out: dict[int, dict] = {}
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(self.manifest_dir, name)
                rec = pq.read_table(path).to_pylist()[0]
                out[rec["chunk"]] = rec
        return out

    def _commit(self, record: dict) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"chunk-{record['chunk']:06d}.parquet"
        tmp = os.path.join(self.manifest_dir, f".{name}.{uuid.uuid4().hex}.tmp")
        pq.write_table(pa.Table.from_pylist([record]), tmp)
        os.replace(tmp, os.path.join(self.manifest_dir, name))  # atomic

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """The manifest as a queryable lineage table: one row per
        (chunk, counted output) with row count, path (null for a derived
        count), lineage id, commit time — the Parquet-facade analogue of
        Iceberg's metadata tables."""
        rows = [
            (int(rec["chunk"]), name, rec["paths"].get(name), int(n),
             rec["lineage_id"], float(rec["committed_at"]))
            for rec in self.committed().values()
            for name, n in rec["counts"].items()
        ]
        return spark.createDataFrame(
            rows,
            "chunk int, name string, path string, n_rows long, "
            "lineage_id string, committed_at double",
        )

    # -- data ----------------------------------------------------------------

    def write_data(self, df: DataFrame, name: str, chunk: int):
        """Run the task-written plan ``df`` as one named output of a chunk
        (no commit yet); returns ``(path, rows)``, the chunk directory and
        the :data:`TASK_FILE_SCHEMA` rows its tasks returned.

        Overwrite semantics: the directory is cleared first, and after the
        job every file that no returned row names is deleted (attempts that
        failed after writing, partial files). Each call names its files
        with a fresh token, so a rewritten chunk never reuses a file name.
        If the job fails, the directory is removed and the error raised.
        """
        path = os.path.join(self.base, name, f"chunk={chunk}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        sc = df.sparkSession.sparkContext
        # local properties are per thread: concurrent chunks keep their own
        sc.setLocalProperty(_SINK_DIR, path)
        sc.setLocalProperty(_SINK_TOKEN, uuid.uuid4().hex)
        try:
            rows = df.collect()
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        finally:
            sc.setLocalProperty(_SINK_DIR, None)
            sc.setLocalProperty(_SINK_TOKEN, None)
        keep = {os.path.basename(r["path"]) for r in rows}
        for f in os.listdir(path):
            if f not in keep:
                os.remove(os.path.join(path, f))
        return path, rows

    def commit_chunk(
        self, chunk: int, outputs: dict, extra: dict | None = None,
        derived_counts: dict[str, int] | None = None,
    ) -> dict:
        """Commit a chunk atomically. ``outputs`` maps each output name to
        its :meth:`write_data` result; the record keeps each output's
        directory, files and row count as the tasks returned them.
        ``derived_counts`` (rows of views over the outputs, which have no
        path) are recorded in ``counts`` as given."""
        counts = {name: sum(r["rows"] for r in rows) for name, (_, rows) in outputs.items()}
        counts.update(derived_counts or {})
        record = {
            "chunk": chunk,
            "counts": counts,
            "paths": {name: path for name, (path, _) in outputs.items()},
            "files": {
                name: sorted(r["path"] for r in rows)
                for name, (_, rows) in outputs.items()
            },
            "lineage_id": uuid.uuid4().hex,
            "committed_at": time.time(),
            **(extra or {}),
        }
        self._commit(record)
        return record

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """All committed data for one named output: exactly the files the
        chunk records name (uncommitted dirs and stray files ignored)."""
        files = [
            f for r in self.committed().values() for f in r["files"].get(name, ())
        ]
        if not files:
            raise FileNotFoundError(f"no committed chunks for {name!r} under {self.base}")
        return spark.read.parquet(*files)
