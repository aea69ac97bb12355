"""Structured Streaming variants of the engine's operators.

The reference is strictly batch (SURVEY.md §2.4 "Streaming: none"); these
are net-new, for continuously-arriving image tables:

- :func:`stream_color_correct` — the fused color operator is a narrow
  ``mapInPandas``, so it lifts to streaming unchanged: file-source →
  index → color → parquet sink with exactly-once checkpointing. With
  ``availableNow`` it doubles as an incremental batch runner (the
  streaming analogue of the chunked resume loop in sources/catalog.py).
- :func:`stream_windowed_counts` — watermarked tumbling-window counts for
  late-data-tolerant event aggregation.
- :func:`stream_cell_counts_stateful` — custom stateful operator via
  ``applyInPandasWithState``: running per-cell image counts maintained in
  GroupState across micro-batches.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rio_color_spark.operators.color import index_and_color
from rio_color_spark.sources.images import IMAGES_SCHEMA


def read_image_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(IMAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_color_correct(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    ops: str,
    available_now: bool = True,
):
    """Streaming index + fused color-correct → parquet sink.

    Returns the started StreamingQuery; with ``available_now`` the query
    drains everything currently in ``input_path`` then stops (incremental
    batch mode — re-running picks up only new files, exactly-once via the
    checkpoint).
    """
    stream = read_image_stream(spark, input_path)
    # fused index+color: ONE Python worker set per micro-batch task (the
    # with_spatial_index → color_correct chain is two, which collapses at
    # high local parallelism — see operators/color.index_and_color)
    out = index_and_color(stream, ops)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late-data safe)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win")["start"].alias("win_start"), "event_type", "n")
    )


def drain_windowed_agg(
    spark: SparkSession, events_path: str, window: str = "1 minute"
) -> DataFrame:
    """AvailableNow drain of a static events table THROUGH the streaming
    engine: file source → tumbling-window count/sum agg → memory sink in
    ``complete`` output mode; returns the drained result as a batch
    DataFrame (win struct, event_type, n, sum_value).

    Complete mode (not append+watermark) because a drain of a bounded
    input must emit every window — append mode would hold back windows the
    watermark hasn't passed at end-of-stream. The result is the hash-exact
    twin of the batch windowed aggregation over the same files, which is
    the driver gate for the streaming lane (the micro-batch partial aggs
    merge to the same totals the batch plan computes).
    """
    import os
    import shutil
    import tempfile
    import uuid

    schema = spark.read.parquet(events_path).schema  # footer read, no job
    src_dir = None
    if os.path.isfile(events_path):
        # FileStreamSource requires a directory basePath; expose a single
        # parquet FILE through a symlink dir (zero copy)
        src_dir = tempfile.mkdtemp(prefix="rcs_drain_src_")
        os.symlink(os.path.abspath(events_path), os.path.join(src_dir, "part-0.parquet"))
        events_path = src_dir
    ckpt_dir = tempfile.mkdtemp(prefix="rcs_drain_ckpt_")
    name = "drain_" + uuid.uuid4().hex[:10]
    try:
        stream = spark.readStream.schema(schema).parquet(events_path)
        agg = stream.groupBy(
            F.window(F.col("ts"), window).alias("win"), F.col("event_type")
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()  # idempotent for a terminated availableNow query
        # materialize off the memory sink so the temp view (which pins the
        # full complete-mode result in driver memory) can be dropped and
        # the checkpoint/symlink dirs removed before returning (ADVICE r3)
        out = spark.createDataFrame(
            spark.table(name).collect(), schema=spark.table(name).schema
        )
        return out
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        if src_dir is not None:
            shutil.rmtree(src_dir, ignore_errors=True)


_STATE_SCHEMA = "total long"
_OUTPUT_SCHEMA = "cell_id long, total long"


def _update_cell_count(key, pdfs, state: GroupState):
    (cell_id,) = key
    seen = state.get[0] if state.exists else 0
    for pdf in pdfs:
        seen += len(pdf)
    state.update((seen,))
    yield pd.DataFrame({"cell_id": [cell_id], "total": [seen]})


def stream_cell_counts_stateful(indexed_stream: DataFrame) -> DataFrame:
    """Running per-cell image counts via applyInPandasWithState.

    State = one int64 per cell; output = the updated running total each
    micro-batch. ``indexed_stream`` needs a ``cell_id`` column.
    """
    return (
        indexed_stream.select("cell_id")
        .groupBy("cell_id")
        .applyInPandasWithState(
            _update_cell_count,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_snapshot_table(
    spark: SparkSession,
    input_path: str,
    table,
    checkpoint_path: str,
    transform=None,
    available_now: bool = True,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """foreachBatch sink into a :class:`~rio_color_spark.sources.
    snapshots.SnapshotTable`: each micro-batch commits ONE append
    snapshot stamped with ``(checkpoint, batch_id)`` in its summary.

    Exactly-once at the table level: Spark's foreachBatch is
    at-least-once (a crash between the table commit and the streaming
    checkpoint advance replays the batch with the SAME batch id), so the
    sink consults the snapshot log first and skips any batch id already
    committed under this checkpoint — the Iceberg connector's
    idempotent-commit protocol, realized on the facade. Snapshot
    summaries double as per-batch lineage + row-count metrics (the north
    rule's checkpoint-table requirement, table-native).

    ``transform`` (optional) maps each micro-batch DataFrame before the
    append. ``schema`` overrides the source read schema DDL (defaults to
    the table's current schema). Returns the started StreamingQuery.
    """
    ckpt_key = os.path.abspath(checkpoint_path)

    def _committed_batches() -> set[int]:
        return {
            s["summary"]["stream_batch_id"]
            for s in table.metadata()["snapshots"]
            if s["summary"].get("stream_checkpoint") == ckpt_key
            and "stream_batch_id" in s["summary"]
        }

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in _committed_batches():
            return  # replay of an already-committed batch — idempotent skip
        out = transform(batch_df) if transform else batch_df
        table.append(
            out,
            summary_extra={
                "stream_checkpoint": ckpt_key,
                "stream_batch_id": batch_id,
            },
        )

    reader = spark.readStream.schema(schema or table.schema_ddl())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(input_path)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
