"""Checkpoint/lineage/resume contract tests (SURVEY.md §7 M6) + the
end-to-end pipeline kill-and-resume integration test."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import rio_color_spark.pipeline as P
from rio_color_spark.functions.pip import pack_polygons
from rio_color_spark.pipeline import FLAGSHIP_OPS, assignments, run_pipeline
from rio_color_spark.sources.catalog import CheckpointedWriter
from rio_color_spark.sources.images import images_df
from rio_color_spark.sources.polygons import make_polygons


def _commit(w, df, chunk, name="data"):
    return w.commit_chunk(chunk, {name: w.write_data(df, name, chunk)})


def _crash_after(monkeypatch, n: int) -> None:
    """Make the run die after committing exactly ``n`` chunks: the
    pipeline's (n+1)-th chunk plan raises, so no later chunk is submitted;
    the run still commits the ``n`` chunks already in flight, then raises."""
    real = P.index_and_color
    calls = []

    def crashing(*args, **kwargs):
        calls.append(1)
        if len(calls) > n:
            raise RuntimeError(f"simulated crash after {n} chunks")
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "index_and_color", crashing)


def test_chunked_write_and_lineage(spark, tmp_path):
    w = CheckpointedWriter(str(tmp_path / "out"))
    for k in range(4):
        _commit(w, spark.range(k * 10, (k + 1) * 10).withColumn("chunk", F.lit(k)), k)
    recs = w.committed()
    assert sorted(recs) == [0, 1, 2, 3]
    assert all(r["counts"] == {"data": 10} for r in recs.values())
    assert len({r["lineage_id"] for r in recs.values()}) == 4
    assert w.read(spark, "data").count() == 40
    # the manifest is itself a queryable lineage table
    lin = w.lineage_df(spark)
    assert lin.filter("name = 'data'").count() == 4
    assert lin.groupBy().sum("n_rows").collect()[0][0] == 40


def test_pipeline_resume_equals_uninterrupted(spark, tmp_path, monkeypatch):
    """Kill the pipeline mid-run, resume, compare to an uninterrupted run."""
    n = 400
    images = images_df(spark, n)
    packed = pack_polygons(make_polygons(20))

    a_base = str(tmp_path / "a")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        _crash_after(m, 2)
        run_pipeline(spark, images, a_base, packed, n_chunks=4)
    assert sorted(CheckpointedWriter(a_base).committed()) == [0, 1]

    def part_files():
        return {
            k: sorted(os.listdir(os.path.join(a_base, "images", f"chunk={k}")))
            for k in (0, 1)
        }

    # Spark names part files afresh on every write: unchanged names prove
    # the resume skipped the committed chunks instead of recomputing them
    before = part_files()
    run_pipeline(spark, images, a_base, packed, n_chunks=4)  # resume
    assert part_files() == before
    assert sorted(CheckpointedWriter(a_base).committed()) == [0, 1, 2, 3]

    b_base = str(tmp_path / "b")
    run_pipeline(spark, images, b_base, packed, n_chunks=4)  # uninterrupted

    # one data output per chunk: assignments are a view, not a write
    assert sorted(os.listdir(a_base)) == ["_manifest", "images"]

    wa, wb = CheckpointedWriter(a_base), CheckpointedWriter(b_base)
    ia, ib = wa.read(spark, "images"), wb.read(spark, "images")
    for da, db in ((ia, ib), (assignments(ia), assignments(ib))):
        assert da.count() == db.count()
        assert da.exceptAll(db).isEmpty()
        assert db.exceptAll(da).isEmpty()

    # caption invariant: every input caption survives byte-equal
    src = {r["image_id"]: r["caption"] for r in images.collect()}
    out = wa.read(spark, "images").select("image_id", "caption").collect()
    assert len(out) == n
    for r in out:
        assert r["caption"] == src[r["image_id"]]


def test_pipeline_failed_chunk_keeps_later_commits(spark, tmp_path, monkeypatch):
    """A chunk whose write fails does not abandon the chunks around it: the
    run commits every other chunk, raises the failure, and a resume
    rewrites only the failed chunk and equals an uninterrupted run."""
    images = images_df(spark, 400)
    packed = pack_polygons(make_polygons(20))
    a_base = str(tmp_path / "a")
    real = CheckpointedWriter.write_data

    def failing(self, df, name, chunk):
        if chunk == 1:
            raise RuntimeError("simulated write failure in chunk 1")
        return real(self, df, name, chunk)

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="chunk 1"):
        m.setattr(CheckpointedWriter, "write_data", failing)
        run_pipeline(spark, images, a_base, packed, n_chunks=4)
    assert sorted(CheckpointedWriter(a_base).committed()) == [0, 2, 3]

    def part_files():
        root = os.path.join(a_base, "images")
        return {d: sorted(os.listdir(os.path.join(root, d))) for d in os.listdir(root)}

    before = part_files()
    assert sorted(before) == ["chunk=0", "chunk=2", "chunk=3"]
    run_pipeline(spark, images, a_base, packed, n_chunks=4)  # resume
    after = part_files()
    assert sorted(after) == ["chunk=0", "chunk=1", "chunk=2", "chunk=3"]
    assert {d: after[d] for d in before} == before
    assert sorted(CheckpointedWriter(a_base).committed()) == [0, 1, 2, 3]

    b_base = str(tmp_path / "b")
    run_pipeline(spark, images, b_base, packed, n_chunks=4)  # uninterrupted
    ia = CheckpointedWriter(a_base).read(spark, "images")
    ib = CheckpointedWriter(b_base).read(spark, "images")
    for da, db in ((ia, ib), (assignments(ia), assignments(ib))):
        assert da.count() == db.count()
        assert da.exceptAll(db).isEmpty()
        assert db.exceptAll(da).isEmpty()


def test_pipeline_chunks_run_concurrently(spark, tmp_path, monkeypatch):
    """Two chunk writes are in flight at once: each waits at a two-party
    barrier before writing, which only a concurrent run can pass. Both
    commits still run on the calling thread, in chunk order."""
    import threading

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs at least 2 cores")
    barrier = threading.Barrier(2, timeout=60)
    real_write = CheckpointedWriter.write_data
    real_commit = CheckpointedWriter.commit_chunk
    commits = []

    def meeting(self, df, name, chunk):
        barrier.wait()
        return real_write(self, df, name, chunk)

    def recording(self, chunk, *a, **k):
        commits.append((chunk, threading.current_thread() is threading.main_thread()))
        return real_commit(self, chunk, *a, **k)

    monkeypatch.setattr(CheckpointedWriter, "write_data", meeting)
    monkeypatch.setattr(CheckpointedWriter, "commit_chunk", recording)
    base = str(tmp_path / "out")
    w = run_pipeline(spark, images_df(spark, 40), base,
                     pack_polygons(make_polygons(5)), n_chunks=2)
    assert sorted(w.committed()) == [0, 1]
    assert commits == [(0, True), (1, True)]
    assert w.read(spark, "images").count() == 40


def test_writer_base_is_local(spark, tmp_path, monkeypatch):
    """A ``file://`` base keeps its manifest beside its data; a remote
    ``scheme://`` base is refused before anything is created."""
    monkeypatch.chdir(tmp_path)
    out = tmp_path / "out"
    w = CheckpointedWriter(out.as_uri())
    _commit(w, spark.range(5), 0)
    assert sorted(os.listdir(out)) == ["_manifest", "data"]
    assert w.read(spark, "data").count() == 5
    with pytest.raises(ValueError, match="local base"):
        CheckpointedWriter("s3://b/x")
    assert os.listdir(tmp_path) == ["out"]


def test_pipeline_file_chunking_single_scan(spark, tmp_path):
    """Path input stripes source FILES across chunks: each chunk reads only
    its own files (no re-scan), union of chunk outputs == full input."""
    from rio_color_spark.pipeline import chunk_plan

    n = 300
    src = str(tmp_path / "src")
    images_df(spark, n).repartition(8).write.parquet(src)

    readers = chunk_plan(spark, src, 4)[0]
    seen_files: set[str] = set()
    total = 0
    for r in readers:
        df = r()
        files = set(df.inputFiles())
        assert not (files & seen_files)  # disjoint stripes
        seen_files |= files
        total += df.count()
    assert total == n
    assert seen_files == set(spark.read.parquet(src).inputFiles())


def test_fused_pip_matches_standalone_join(spark, tmp_path):
    """index_and_color(packed=...)'s poly_ids == the standalone
    point_in_polygon_join's pair set (bbox candidates vs tile-cover
    candidates, same ray-cast kernel); the pipeline's ``assignments`` view
    over its committed images is set-equal to that join on
    (image_id, poly_id, cell_id, tile_xyz), and the chunk records and the
    lineage table count its rows."""
    from rio_color_spark.operators.color import index_and_color
    from rio_color_spark.operators.spatial import with_spatial_index
    from rio_color_spark.operators.spatial_join import point_in_polygon_join

    images = images_df(spark, 400)
    packed = pack_polygons(make_polygons(25))

    fused = index_and_color(images, FLAGSHIP_OPS, packed=packed)
    got = {
        (r["image_id"], pid)
        for r in fused.select("image_id", "poly_ids").collect()
        for pid in r["poly_ids"]
    }
    idx = with_spatial_index(images.drop("bytes"), zoom=12, level=12)
    keys = ["image_id", "poly_id", "cell_id", "tile_xyz"]
    joined = {
        tuple(r) for r in point_in_polygon_join(idx, packed, zoom=12)
        .select(*keys).collect()
    }
    want = {(image_id, poly_id) for image_id, poly_id, _, _ in joined}
    assert got == want
    assert len(got) > 0

    w = run_pipeline(spark, images, str(tmp_path / "out"), packed, n_chunks=3)
    view = assignments(w.read(spark, "images")).select(*keys).collect()
    assert len(view) == len(joined)  # no duplicate rows
    assert {tuple(r) for r in view} == joined
    assert sum(r["counts"]["assignments"] for r in w.committed().values()) == len(view)
    lin = w.lineage_df(spark).filter("name = 'assignments'")
    assert lin.filter("path IS NULL").count() == lin.count() == 3
    assert lin.groupBy().sum("n_rows").collect()[0][0] == len(view)


def test_writer_creation_options_applied(spark, tmp_path):
    """--co analogue: writer creation options reach every chunk write."""
    w = CheckpointedWriter(str(tmp_path / "o"), {"compression": "gzip"})
    rec = _commit(w, spark.range(10), 0)
    files = [
        f for f in os.listdir(rec["paths"]["data"])
        if f.endswith(".parquet")
    ]
    assert files and all(".gz." in f for f in files)
    assert w.read(spark, "data").count() == 10


def test_resume_rejects_rewritten_source(spark, tmp_path, monkeypatch):
    """File-striped resume must fail fast when the source layout changed
    between runs (the manifest records each stripe's file-list hash)."""
    src = str(tmp_path / "src")
    images_df(spark, 200, partitions=4).write.mode("overwrite").parquet(src)
    packed = pack_polygons(make_polygons(5))
    base = str(tmp_path / "out")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        _crash_after(m, 1)
        run_pipeline(spark, src, base, packed, n_chunks=2)
    # rewrite/compact the source: same rows, different file layout
    images_df(spark, 200, partitions=7).write.mode("overwrite").parquet(src)
    with pytest.raises(RuntimeError, match="stripe changed"):
        run_pipeline(spark, src, base, packed, n_chunks=2)


def test_pipeline_snapshot_sink_addfiles(spark, tmp_path, monkeypatch):
    """With snapshot_base, each chunk lands as a metadata-only add-files
    snapshot (zero data copy): per-chunk time travel, idempotent resume,
    and crash-window healing between the two ledgers."""
    from rio_color_spark.sources.snapshots import SnapshotTable

    n = 300
    images = images_df(spark, n)
    packed = pack_polygons(make_polygons(12))
    base = str(tmp_path / "out")
    snap_base = str(tmp_path / "snap")

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        _crash_after(m, 2)
        run_pipeline(spark, images, base, packed, n_chunks=3,
                     snapshot_base=snap_base)
    t = SnapshotTable(snap_base)
    snaps = t.metadata()["snapshots"]
    assert [s["summary"]["pipeline_chunk"] for s in snaps] == [0, 1]
    assert all(s["operation"] == "add-files" for s in snaps)
    mid_rows = t.read(spark).count()
    mid_sid = t.metadata()["current_snapshot_id"]

    run_pipeline(spark, images, base, packed, n_chunks=3,
                 snapshot_base=snap_base)  # resume: no duplicate commits
    snaps = t.metadata()["snapshots"]
    assert [s["summary"]["pipeline_chunk"] for s in snaps] == [0, 1, 2]

    # snapshot read == the writer's own readback, bytes included
    via_snap = t.read(spark)
    via_writer = CheckpointedWriter(base).read(spark, "images")
    assert via_snap.count() == via_writer.count() == n
    assert (via_snap.select("image_id", F.md5("bytes").alias("h"))
            .exceptAll(via_writer.select("image_id", F.md5("bytes").alias("h")))
            .count() == 0)
    # time travel back to the 2-chunk state
    assert t.read(spark, snapshot_id=mid_sid).count() == mid_rows

    # crash-window healing: wipe the snapshot log, rerun — all committed
    # chunks re-register without recomputation (no new chunk parquet)
    import shutil
    shutil.rmtree(snap_base)
    run_pipeline(spark, images, base, packed, n_chunks=3,
                 snapshot_base=snap_base)
    t2 = SnapshotTable(snap_base)
    assert [s["summary"]["pipeline_chunk"]
            for s in t2.metadata()["snapshots"]] == [0, 1, 2]
    assert t2.read(spark).count() == n


def test_pipeline_payload_has_no_dictionary(spark, tmp_path):
    """Chunk writes turn dictionary encoding off for the unique ``bytes``
    payloads only; the small repeated columns such as ``fmt`` keep it."""
    import pyarrow.parquet as pq

    packed = pack_polygons(make_polygons(5))
    w = run_pipeline(spark, images_df(spark, 60), str(tmp_path / "out"), packed,
                     n_chunks=1)
    path = w.committed()[0]["paths"]["images"]
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            col = {n: rg.column(i) for i, n in enumerate(names)}
            assert not col["bytes"].has_dictionary_page, f
            assert not any("DICTIONARY" in e for e in col["bytes"].encodings), f
            assert col["fmt"].has_dictionary_page, f


def _sink_chunk(spark, path: str, n: int = 40) -> str:
    """One written chunk output dir, as run_pipeline hands to the sink."""
    images_df(spark, n).coalesce(1).write.parquet(path)
    return path


def test_snapshot_sink_commits_from_worker_thread(spark, tmp_path):
    """The sink creates its table from the chunk's parquet footer, so a
    first commit_chunk on a non-driver thread (no active SparkSession
    there) works and yields the same schema Spark infers."""
    import threading

    from rio_color_spark.pipeline import _SnapshotSink
    from rio_color_spark.sources.snapshots import SnapshotTable

    chunk = _sink_chunk(spark, str(tmp_path / "chunk0"))
    snap_base = str(tmp_path / "snap")
    sink = _SnapshotSink(snap_base)
    errors = []

    def body():
        try:
            sink.commit_chunk(0, chunk, "md5-0")
        except Exception as e:  # re-raised on the main thread below
            errors.append(e)

    th = threading.Thread(target=body)
    th.start()
    th.join(timeout=300)
    assert not th.is_alive()
    assert errors == []
    t = SnapshotTable(snap_base)
    snaps = t.metadata()["snapshots"]
    assert [s["summary"]["pipeline_chunk"] for s in snaps] == [0]
    assert snaps[0]["summary"]["stripe_md5"] == "md5-0"
    assert [(f["name"], f["type"]) for f in t.schema()["fields"]] == [
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(chunk).schema.fields
    ]
    assert t.read(spark).count() == 40


def test_snapshot_sink_retries_failed_create(spark, tmp_path, monkeypatch):
    """A failed first create caches no table handle: the next
    commit_chunk creates the table and commits the chunk once."""
    from rio_color_spark.pipeline import _SnapshotSink
    from rio_color_spark.sources.snapshots import SnapshotTable

    chunk = _sink_chunk(spark, str(tmp_path / "chunk0"))
    snap_base = str(tmp_path / "snap")
    real = SnapshotTable.create.__func__
    calls = []

    def flaky(cls, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("simulated create failure")
        return real(cls, *a, **k)

    monkeypatch.setattr(SnapshotTable, "create", classmethod(flaky))
    sink = _SnapshotSink(snap_base)
    with pytest.raises(OSError, match="simulated create failure"):
        sink.commit_chunk(0, chunk, None)
    sink.commit_chunk(0, chunk, None)
    sink.commit_chunk(0, chunk, None)  # idempotent by chunk
    assert len(calls) == 2
    snaps = SnapshotTable(snap_base).metadata()["snapshots"]
    assert [s["summary"]["pipeline_chunk"] for s in snaps] == [0]


def test_add_files_contract(spark, tmp_path):
    """add_files validates schema coverage, refuses partitioned specs, and
    never lets expire GC imported (external) files."""
    from rio_color_spark.sources.snapshots import SnapshotTable

    ext = str(tmp_path / "ext")
    spark.range(0, 20).selectExpr("id AS a", "id * 2 AS b").write.parquet(ext)
    files = sorted(os.path.join(ext, f) for f in os.listdir(ext)
                   if f.endswith(".parquet"))

    t = SnapshotTable.create(str(tmp_path / "t"), "a bigint, b bigint")
    t.add_files(files, summary_extra={"src": "ext"})
    assert t.read(spark).count() == 20
    assert t.current_snapshot()["operation"] == "add-files"
    # min/max stats came from footers → pruning works on imported files
    kept, report = t.plan_files(predicates={"a": (1000, None)})
    assert report["files_scanned"] == 0

    # imported files survive expire (they live outside data/)
    t.overwrite(spark.range(0, 5).selectExpr("id AS a", "id AS b"))
    t.expire_snapshots(keep_last=1)
    assert all(os.path.exists(p) for p in files)

    t2 = SnapshotTable.create(str(tmp_path / "t2"), "a bigint, missing int")
    with pytest.raises(ValueError, match="missing table columns"):
        t2.add_files(files)
    t3 = SnapshotTable.create(str(tmp_path / "t3"), "a bigint, b bigint",
                              partition_spec=[("bucket", "a", 4)])
    with pytest.raises(ValueError, match="unpartitioned"):
        t3.add_files(files)
    with pytest.raises(ValueError, match="at least one"):
        t.add_files([])


def test_stripe_schema_matches_spark(spark, tmp_path):
    """The pyarrow footer→StructType shortcut used by chunk_plan must equal
    Spark's own inference exactly (it feeds spark.read.schema on every
    stripe), including binary/string/int widths of the images table."""
    from rio_color_spark.pipeline import _list_data_files, _stripe_schema

    src = str(tmp_path / "src")
    images_df(spark, 50).write.parquet(src)
    files, flat = _list_data_files(spark, src)
    assert flat and files
    assert _stripe_schema(spark, files[0]) == spark.read.parquet(src).schema


def test_single_stripe_reads_whole_dir(spark, tmp_path):
    """n_chunks=1 takes the directory fast path (one root path, no per-file
    index) and still reads exactly the table's data files."""
    from rio_color_spark.pipeline import chunk_plan

    src = str(tmp_path / "src")
    images_df(spark, 60).repartition(4).write.parquet(src)
    readers, fps = chunk_plan(spark, src, 1)
    df = readers[0]()
    assert df.count() == 60
    assert set(df.inputFiles()) == set(spark.read.parquet(src).inputFiles())
    assert df.schema == spark.read.parquet(src).schema
    assert fps[0] is not None
