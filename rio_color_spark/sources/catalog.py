"""Storage facade: Iceberg-style committed writes, lineage, and resume.

The north rule requires every stage to write per-partition lineage +
row-count metrics to a checkpoint table so a killed job resumes from the
last committed partition. With an Iceberg runtime on the classpath the
engine uses ``df.writeTo(table).append()`` per chunk (Iceberg commits are
already atomic, and the lineage table is a regular Iceberg table). This
container has no Iceberg jars (SURVEY.md §7), so the facade provides the
same contract over plain Parquet:

- each named output lands under ``<base>/<name>/chunk=<k>/``
  (:meth:`CheckpointedWriter.write_data`; overwrite semantics, so a re-run
  of a half-written chunk is idempotent)
- a chunk is COMMITTED only when a manifest row exists under
  ``<base>/_manifest/``; manifest rows are one-row PARQUET files (so the
  manifest is itself a queryable lineage table — :meth:`lineage_df` — the
  Iceberg metadata-table analogue), written via tmp-file + ``os.replace``
  (atomic on POSIX), AFTER the data write returns.
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
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CheckpointedWriter:
    """Chunked, resumable, lineage-tracked writer over the Parquet facade."""

    def __init__(self, base_path: str, write_options: dict | None = None):
        """``write_options`` are writer creation options applied to every
        data write (the facade analogue of GDAL creation options /
        Iceberg table properties — reference cli.py:85 ``--co``), e.g.
        ``{"compression": "zstd"}``."""
        self.base = base_path.rstrip("/")
        self.write_options = dict(write_options or {})
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

    def write_data(self, df: DataFrame, name: str, chunk: int) -> str:
        """Write one named output of a chunk (no commit yet); returns path."""
        path = os.path.join(self.base, name, f"chunk={chunk}")
        df.write.mode("overwrite").options(**self.write_options).parquet(path)
        return path

    @staticmethod
    def _count_rows(path: str) -> int:
        """Row count of a written parquet dir from footers only.

        Local paths read footers driver-side via pyarrow (milliseconds, no
        Spark job); non-local paths fall back to a metadata-only Spark count.
        """
        if os.path.isdir(path):
            import pyarrow.parquet as pq

            return sum(
                pq.read_metadata(os.path.join(path, f)).num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        spark = SparkSession.getActiveSession()
        return spark.read.parquet(path).count()

    def commit_chunk(
        self, chunk: int, paths: dict[str, str], extra: dict | None = None,
        derived_counts: dict[str, int] | None = None,
    ) -> dict:
        """Count the written outputs (parquet footers) and commit atomically.
        ``derived_counts`` (rows of views over the outputs, which have no
        path) are recorded in ``counts`` as given."""
        counts = {name: self._count_rows(p) for name, p in paths.items()}
        counts.update(derived_counts or {})
        record = {
            "chunk": chunk,
            "counts": counts,
            "paths": dict(paths),
            "lineage_id": uuid.uuid4().hex,
            "committed_at": time.time(),
            **(extra or {}),
        }
        self._commit(record)
        return record

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """All committed data for one named output (uncommitted dirs ignored)."""
        paths = [
            r["paths"][name] for r in self.committed().values() if name in r["paths"]
        ]
        if not paths:
            raise FileNotFoundError(f"no committed chunks for {name!r} under {self.base}")
        return spark.read.parquet(*paths)

