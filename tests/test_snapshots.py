"""SnapshotTable: Iceberg-semantics facade (snapshots, time travel,
id-based schema evolution, min/max file pruning, CAS commits,
compaction, snapshot expiry). The round-4 verdict named these as the
catalog facade's gap vs the north rule's Iceberg target."""

import os
import time

import pytest
from pyspark.sql import functions as F

from rio_color_spark.sources.snapshots import (
    CommitConflict,
    SnapshotTable,
    _META_FMT,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "t"), "doc_id bigint, lang string, n_chars bigint"
    )
    return t


def _docs(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' "
        "ELSE 'fr' END AS lang",
        "id * 7 % 100 AS n_chars",
    )


def test_create_append_read_roundtrip(spark, tbl):
    tbl.append(_docs(spark, 0, 50))
    got = tbl.read(spark)
    assert got.count() == 50
    assert [f.name for f in got.schema.fields] == ["doc_id", "lang", "n_chars"]
    assert got.filter("doc_id = 7").first()["lang"] == "de"


def test_create_twice_fails(spark, tmp_path):
    SnapshotTable.create(str(tmp_path / "x"), "a int")
    with pytest.raises(FileExistsError):
        SnapshotTable.create(str(tmp_path / "x"), "a int")


def test_append_accumulates_and_history(spark, tbl):
    s1 = tbl.append(_docs(spark, 0, 30))
    s2 = tbl.append(_docs(spark, 30, 80))
    assert tbl.read(spark).count() == 80
    h = tbl.history(spark).orderBy("timestamp_ms").collect()
    assert [r["operation"] for r in h] == ["append", "append"]
    assert h[-1]["total_rows"] == 80
    assert h[0]["total_rows"] == 30
    assert s2["version"] > s1["version"]


def test_time_travel_by_snapshot_and_timestamp(spark, tbl):
    tbl.append(_docs(spark, 0, 30))
    sid1 = tbl.metadata()["current_snapshot_id"]
    ts1 = tbl.current_snapshot()["timestamp_ms"]
    time.sleep(0.01)
    tbl.append(_docs(spark, 30, 80))
    assert tbl.read(spark).count() == 80
    assert tbl.read(spark, snapshot_id=sid1).count() == 30
    assert tbl.read(spark, as_of_ms=ts1).count() == 30
    with pytest.raises(KeyError):
        tbl.read(spark, as_of_ms=ts1 - 10_000)
    with pytest.raises(KeyError):
        tbl.read(spark, snapshot_id=123456)


def test_overwrite_replaces_but_history_survives(spark, tbl):
    tbl.append(_docs(spark, 0, 30))
    sid1 = tbl.metadata()["current_snapshot_id"]
    tbl.overwrite(_docs(spark, 100, 110))
    assert tbl.read(spark).count() == 10
    assert tbl.read(spark).agg({"doc_id": "min"}).first()[0] == 100
    assert tbl.read(spark, snapshot_id=sid1).count() == 30


def test_add_column_old_files_read_null(spark, tbl):
    tbl.append(_docs(spark, 0, 20))
    tbl.add_column("quality", "double")
    df2 = _docs(spark, 20, 40).selectExpr("*", "doc_id * 0.5 AS quality")
    tbl.append(df2)
    got = tbl.read(spark)
    assert got.filter("quality IS NULL").count() == 20
    assert got.filter("quality IS NOT NULL").count() == 20
    # time travel BEFORE the evolution reads the OLD schema (no quality)
    first_sid = tbl.history(spark).orderBy("timestamp_ms").first()["snapshot_id"]
    old = tbl.read(spark, snapshot_id=first_sid)
    assert "quality" not in old.columns


def test_rename_is_metadata_only_and_id_based(spark, tbl):
    tbl.append(_docs(spark, 0, 20))
    files_before = {r["file_path"] for r in tbl.files(spark).collect()}
    tbl.rename_column("lang", "language")
    tbl.append(
        _docs(spark, 20, 30).withColumnRenamed("lang", "language")
    )
    got = tbl.read(spark)
    assert "language" in got.columns and "lang" not in got.columns
    # old files (written under the physical name `lang`) resolve by id
    assert got.filter("doc_id < 20 AND language = 'de'").count() > 0
    # the rename itself rewrote nothing
    files_after = {r["file_path"] for r in tbl.files(spark).collect()}
    assert files_before <= files_after


def test_drop_then_readd_does_not_resurrect(spark, tbl):
    tbl.append(_docs(spark, 0, 20))
    tbl.drop_column("n_chars")
    tbl.add_column("n_chars", "bigint")  # NEW field id
    got = tbl.read(spark)
    # old data for the dropped column must NOT reappear under the new id
    assert got.filter("n_chars IS NOT NULL").count() == 0
    with pytest.raises(KeyError):
        tbl.drop_column("nope")
    with pytest.raises(ValueError):
        tbl.add_column("lang", "string")
    with pytest.raises(ValueError):
        tbl.rename_column("doc_id", "lang")


def test_conform_fills_missing_and_rejects_extra(spark, tbl):
    tbl.append(spark.range(0, 5).selectExpr("id AS doc_id"))
    assert tbl.read(spark).filter("lang IS NULL").count() == 5
    with pytest.raises(ValueError):
        tbl.append(spark.range(5).selectExpr("id AS doc_id", "id AS zzz"))


def test_minmax_pruning_plans_fewer_files(spark, tbl):
    # three appends with disjoint doc_id ranges → three file groups
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        tbl.append(_docs(spark, lo, hi).coalesce(1))
    kept, report = tbl.plan_files(predicates={"doc_id": (120, 180)})
    assert report["files_total"] == 3
    assert report["files_scanned"] == 1
    assert report["rows_scanned"] == 100
    got = tbl.read(spark, predicates={"doc_id": (120, 180)})
    want = tbl.read(spark).filter("doc_id BETWEEN 120 AND 180")
    assert got.count() == want.count() == 61
    assert got.exceptAll(want).count() == 0
    # string stats prune too
    _, rep2 = tbl.plan_files(predicates={"lang": ("zz", None)})
    assert rep2["files_scanned"] == 0


def test_pruning_after_rename_uses_field_ids(spark, tbl):
    tbl.append(_docs(spark, 0, 100).coalesce(1))
    tbl.rename_column("doc_id", "document_id")
    tbl.append(
        _docs(spark, 500, 600).withColumnRenamed("doc_id", "document_id")
        .coalesce(1)
    )
    kept, report = tbl.plan_files(predicates={"document_id": (550, None)})
    assert report["files_total"] == 2
    assert report["files_scanned"] == 1  # the pre-rename file pruned BY ID
    got = tbl.read(spark, predicates={"document_id": (550, None)})
    assert got.count() == 50


def test_cas_commit_conflict_retries(spark, tbl):
    tbl.append(_docs(spark, 0, 10))
    # simulate a concurrent writer landing the next version first
    meta = tbl.metadata()
    loser = dict(meta, version=meta["version"] + 1)
    tbl._cas_write(loser)
    tbl.append(_docs(spark, 10, 20))  # must retry past the conflict
    assert tbl.read(spark).count() == 20
    with pytest.raises(CommitConflict):
        tbl._cas_write(dict(meta, version=meta["version"] + 1))


def test_compact_rewrites_to_fewer_files(spark, tbl):
    for lo in range(0, 100, 20):
        tbl.append(_docs(spark, lo, lo + 20).repartition(4))
    n_before = tbl.files(spark).count()
    assert n_before >= 20
    tbl.compact(spark, target_file_bytes=64 * 1024 * 1024)
    assert tbl.files(spark).count() < n_before
    assert tbl.read(spark).count() == 100
    assert tbl.current_snapshot()["operation"] == "rewrite"
    # logical content identical
    ids = sorted(r["doc_id"] for r in tbl.read(spark).collect())
    assert ids == list(range(100))


def test_expire_snapshots_deletes_unreachable_files(spark, tbl):
    tbl.append(_docs(spark, 0, 30))
    old_sid = tbl.metadata()["current_snapshot_id"]
    tbl.overwrite(_docs(spark, 100, 120))
    old_files = {r["file_path"]
                 for r in tbl.files(spark, snapshot_id=old_sid).collect()}
    assert all(os.path.exists(p) for p in old_files)
    tbl.expire_snapshots(keep_last=1)
    assert tbl.read(spark).count() == 20
    assert not any(os.path.exists(p) for p in old_files)
    with pytest.raises(KeyError):
        tbl.read(spark, snapshot_id=old_sid)
    with pytest.raises(ValueError):
        tbl.expire_snapshots(keep_last=0)


def test_expire_cleans_nested_partition_dirs(spark, tmp_path):
    """Dead files under hidden-partition subdirs (data/<uuid>/_p_x=v/...)
    are deleted and their emptied dirs removed — the one-level walk this
    replaces silently skipped them."""
    t = SnapshotTable.create(
        str(tmp_path / "tp"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("bucket", "doc_id", 4)],
    )
    t.append(_docs(spark, 0, 40))
    old_sid = t.metadata()["current_snapshot_id"]
    t.overwrite(_docs(spark, 100, 120))
    old_files = {r["file_path"]
                 for r in t.files(spark, snapshot_id=old_sid).collect()}
    assert old_files and all("_p_" in p for p in old_files)
    t.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(p) for p in old_files)
    # the dead commit's whole uuid dir tree is gone; live one intact
    dead_roots = {p.split("/_p_")[0] for p in old_files}
    assert not any(os.path.exists(d) for d in dead_roots)
    assert t.read(spark).count() == 20


def test_ddl_parser_matches_fromddl(spark):
    """The Spark-free DDL parser must emit fromDDL's simpleString
    normalization byte-for-byte — manifests written with and without an
    active session must agree."""
    from pyspark.sql import types as T

    from rio_color_spark.sources.snapshots import _parse_fields_ddl

    ddls = [
        "a int, b string",
        "doc_id bigint, lang string, n_chars bigint",
        "x INTEGER, y LONG, z Short, w BYTE, r REAL",
        "f float, d double, bin binary, dt date, ts timestamp, "
        "tn timestamp_ntz, ok boolean",
        "p decimal(12,3), q decimal(5), plain decimal",
        "emb array<float>, tags array<string>, m map<string, int>",
        "nested struct<a: int, b: array<double>>, "
        "deep array<struct<k:string, v:map<string,bigint>>>",
        "`weird name` string, `x` int",
        "colon_style: int, other: string",
    ]
    for ddl in ddls:
        ref = [(f.name, f.dataType.simpleString())
               for f in T.StructType.fromDDL(ddl).fields]
        assert _parse_fields_ddl(ddl) == ref, ddl
    for bad in ["a", "a notatype", "a decimal(40,2)", "a array<int",
                "a map<int>", ", b int", "1bad int"]:
        with pytest.raises(ValueError):
            _parse_fields_ddl(bad)


def test_metadata_ops_need_no_spark(tmp_path):
    """create / evolve / history / plan_files / expire run in a bare
    interpreter with no SparkSession — the Iceberg catalog-op posture."""
    import subprocess
    import sys

    code = f"""
import sys
sys.path.insert(0, {str(os.path.dirname(os.path.dirname(__file__)))!r})
from rio_color_spark.sources.snapshots import SnapshotTable
import pyspark
assert not pyspark.sql.SparkSession.getActiveSession()
t = SnapshotTable.create(
    {str(tmp_path / 'nospark')!r},
    "doc_id bigint, emb array<float>, lang string",
    partition_spec=[("bucket", "doc_id", 4)],
)
t.add_column("quality", "double")
t.rename_column("lang", "language")
t.drop_column("emb")
assert t.schema_ddl() == "doc_id bigint, language string, quality double"
kept, report = t.plan_files()
assert kept == []
t.expire_snapshots(keep_last=1)
assert not pyspark.sql.SparkSession.getActiveSession()
print("NOSPARK_OK")
"""
    r = subprocess.run([sys.executable, "-c", code],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "NOSPARK_OK" in r.stdout


def test_empty_table_reads_empty(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "e"), "a int, b string")
    assert t.read(spark).count() == 0
    assert t.read(spark).columns == ["a", "b"]
    kept, report = t.plan_files()
    assert kept == [] and report["files_scanned"] == 0


def test_metadata_versions_are_immutable_files(spark, tbl):
    tbl.append(_docs(spark, 0, 5))
    tbl.add_column("x", "int")
    vs = tbl._versions()
    assert vs == list(range(1, len(vs) + 1))
    assert os.path.exists(
        os.path.join(tbl.meta_dir, _META_FMT.format(vs[-1]))
    )
    # every historical version still parseable
    for v in vs:
        assert tbl.metadata(v)["version"] == v


# -- streaming sink ----------------------------------------------------------


def _stream_src(spark, tmp_path, n_files=3, rows_per=10):
    src = str(tmp_path / "src")
    for k in range(n_files):
        (
            spark.range(k * rows_per, (k + 1) * rows_per)
            .selectExpr("id AS doc_id", "'en' AS lang", "id * 2 AS n_chars")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    return src


def test_stream_sink_commits_stamped_snapshots(spark, tbl, tmp_path):
    from rio_color_spark.streaming.pipeline import stream_to_snapshot_table

    src = _stream_src(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    q = stream_to_snapshot_table(
        spark, src, tbl, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination()
    assert tbl.read(spark).count() == 30
    snaps = tbl.metadata()["snapshots"]
    stamps = [s["summary"].get("stream_batch_id") for s in snaps]
    assert sorted(stamps) == [0, 1, 2]  # one snapshot per micro-batch
    assert all(
        s["summary"]["stream_checkpoint"] == os.path.abspath(ckpt)
        for s in snaps
    )


def test_stream_sink_restart_is_incremental(spark, tbl, tmp_path):
    from rio_color_spark.streaming.pipeline import stream_to_snapshot_table

    src = _stream_src(spark, tmp_path, n_files=2)
    ckpt = str(tmp_path / "ckpt")
    stream_to_snapshot_table(spark, src, tbl, ckpt).awaitTermination()
    n1 = tbl.read(spark).count()
    assert n1 == 20
    # restart with the same checkpoint: nothing new → no new snapshots
    v_before = tbl.metadata()["version"]
    stream_to_snapshot_table(spark, src, tbl, ckpt).awaitTermination()
    assert tbl.read(spark).count() == 20
    assert tbl.metadata()["version"] == v_before
    # new file arrives → exactly the delta lands
    (
        spark.range(100, 105)
        .selectExpr("id AS doc_id", "'de' AS lang", "id AS n_chars")
        .coalesce(1).write.mode("append").parquet(src)
    )
    stream_to_snapshot_table(spark, src, tbl, ckpt).awaitTermination()
    assert tbl.read(spark).count() == 25


def test_stream_sink_skips_replayed_batch(spark, tbl, tmp_path):
    """The crash window foreachBatch can't close alone: table commit
    landed, streaming checkpoint didn't → Spark replays batch 0 with the
    same id. Pre-stamping batch 0 simulates that half-committed state;
    the sink must skip it instead of double-appending."""
    from rio_color_spark.streaming.pipeline import stream_to_snapshot_table

    src = _stream_src(spark, tmp_path, n_files=1)
    ckpt = str(tmp_path / "ckpt")
    tbl.append(
        spark.range(1000, 1003).selectExpr(
            "id AS doc_id", "'xx' AS lang", "id AS n_chars"
        ),
        summary_extra={
            "stream_checkpoint": os.path.abspath(ckpt),
            "stream_batch_id": 0,
        },
    )
    stream_to_snapshot_table(spark, src, tbl, ckpt).awaitTermination()
    got = tbl.read(spark)
    assert got.count() == 3  # only the pre-stamped rows; batch 0 skipped
    assert got.filter("lang = 'xx'").count() == 3


def test_stream_sink_transform_applied(spark, tbl, tmp_path):
    from rio_color_spark.streaming.pipeline import stream_to_snapshot_table
    from pyspark.sql import functions as F

    src = _stream_src(spark, tmp_path, n_files=1)
    ckpt = str(tmp_path / "ckpt")
    q = stream_to_snapshot_table(
        spark, src, tbl, ckpt,
        transform=lambda df: df.withColumn("lang", F.lit("zz")),
    )
    q.awaitTermination()
    assert tbl.read(spark).filter("lang = 'zz'").count() == 10


# -- hidden partitioning -----------------------------------------------------


def test_bucket_partitioning_prunes_point_lookups(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "b"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("bucket", "doc_id", 8)],
    )
    t.append(_docs(spark, 0, 200))
    # hidden: readers never see a partition column
    assert t.read(spark).columns == ["doc_id", "lang", "n_chars"]
    n_files = t.files(spark).count()
    assert n_files >= 8  # one file set per bucket value
    kept, report = t.plan_files(predicates={"doc_id": (42, 42)})
    assert report["files_scanned"] < report["files_total"]
    got = t.read(spark, predicates={"doc_id": (42, 42)})
    assert got.count() == 1 and got.first()["doc_id"] == 42
    # every doc still findable through its bucket (twin-hash consistency)
    for v in (0, 7, 55, 199):
        assert t.read(spark, predicates={"doc_id": (v, v)}).count() == 1


def test_bucket_driver_twin_matches_spark(spark, tmp_path):
    """_transform_value (driver) must equal _transform_col (Spark) — the
    pruning decision hangs on it."""
    from pyspark.sql import functions as F

    from rio_color_spark.sources.snapshots import (
        _transform_col,
        _transform_value,
    )

    pf = {"transform": "bucket", "param": 16, "name": "x_bucket"}
    df = spark.range(0, 500, 7).select(
        F.col("id").alias("x"),
        _transform_col(pf, "x", "bigint").alias("b"),
    )
    for r in df.collect():
        assert r["b"] == _transform_value(pf, "bigint", r["x"])
    # string source too
    sdf = spark.range(0, 50).selectExpr("concat('doc-', id) AS x").select(
        "x", _transform_col(pf, "x", "string").alias("b")
    )
    for r in sdf.collect():
        assert r["b"] == _transform_value(pf, "string", r["x"])


def test_truncate_partitioning_prunes_ranges(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "tr"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("truncate", "doc_id", 100)],
    )
    t.append(_docs(spark, 0, 300))
    kept, report = t.plan_files(predicates={"doc_id": (120, 180)})
    assert report["files_total"] >= 3  # bins 0, 100, 200
    assert all(
        '_p_doc_id_trunc=100' in r["file_path"] for r in kept
    )
    got = t.read(spark, predicates={"doc_id": (120, 180)})
    assert got.count() == 61


def test_identity_string_partitioning(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "ids"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("identity", "lang")],
    )
    t.append(_docs(spark, 0, 90))
    kept, report = t.plan_files(predicates={"lang": ("de", "de")})
    assert report["files_scanned"] < report["files_total"]
    got = t.read(spark, predicates={"lang": ("de", "de")})
    assert got.count() == 30
    assert got.filter("lang != 'de'").count() == 0


def test_spec_evolution_old_files_stay_readable(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "ev"), "doc_id bigint, lang string, n_chars bigint"
    )
    t.append(_docs(spark, 0, 50).coalesce(1))  # unpartitioned generation
    t.set_partition_spec([("bucket", "doc_id", 4)])
    t.append(_docs(spark, 50, 100))  # bucketed generation
    assert t.read(spark).count() == 100
    # point lookup: the unpartitioned file has no tuple → kept
    # conservatively; bucketed files prune to one bucket
    kept, report = t.plan_files(predicates={"doc_id": (77, 77)})
    assert report["files_scanned"] < report["files_total"]
    assert t.read(spark, predicates={"doc_id": (77, 77)}).count() == 1
    specs = t.metadata()["partition_specs"]
    assert [s["spec_id"] for s in specs] == [0, 1]


def test_null_partition_value_kept_conservatively(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "nul"), "doc_id bigint, lang string",
        partition_spec=[("truncate", "doc_id", 10)],
    )
    t.append(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id, 'xx' AS lang "
                  "UNION ALL SELECT 5L, 'en'")
    )
    # the null-partition file survives every predicate
    kept, report = t.plan_files(predicates={"doc_id": (1000, 2000)})
    assert any("HIVE_DEFAULT" in r["file_path"] for r in kept)
    assert t.read(spark).count() == 2


def test_compact_preserves_partition_layout(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "cp"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("bucket", "doc_id", 4)],
    )
    for lo in range(0, 80, 20):
        t.append(_docs(spark, lo, lo + 20))
    n_before = t.files(spark).count()
    t.compact(spark)
    n_after = t.files(spark).count()
    assert n_after < n_before
    assert t.read(spark).count() == 80
    # compacted files still carry partition tuples and still prune
    kept, report = t.plan_files(predicates={"doc_id": (13, 13)})
    assert report["files_scanned"] < report["files_total"]
    assert t.read(spark, predicates={"doc_id": (13, 13)}).count() == 1


def test_sorted_compaction_makes_stats_prune(spark, tmp_path):
    """compact(sort_by=...) range-clusters the rewrite so per-file min/max
    bounds are disjoint and a point/range predicate scans ~one file; the
    unsorted rewrite leaves every file covering the full key range."""
    t = SnapshotTable.create(str(tmp_path / "ts"), "doc_id bigint, lang string, n_chars bigint")
    # interleaved appends: partition by doc_id % 8 so every non-empty file
    # holds at least one full residue class {r, r+8, ..., 392+r} — its
    # [min,max] provably spans doc_id=10 (min<=7, max>=392), deterministically
    # (a rand-shuffle baseline only spans the probe with probability ~0.75/file)
    t.append(_docs(spark, 0, 400).repartition(8, F.col("doc_id") % 8))

    kept, before = t.plan_files(predicates={"doc_id": (10, 10)})
    assert before["files_total"] >= 2
    assert before["files_scanned"] == before["files_total"]

    t.compact(spark, target_file_bytes=2048, sort_by=["doc_id"])
    kept, after = t.plan_files(predicates={"doc_id": (10, 10)})
    assert after["files_total"] > 1
    assert after["files_scanned"] == 1  # disjoint ranges → one file hit
    # logical content unchanged
    assert t.read(spark).count() == 400
    assert t.read(spark, predicates={"doc_id": (10, 10)}).count() == 1
    ids = sorted(r["doc_id"] for r in t.read(spark).collect())
    assert ids == list(range(400))

    with pytest.raises(KeyError, match="sort_by"):
        t.compact(spark, sort_by=["nope"])


# -- round-6 concurrency + typed-stats hardening ---------------------------


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two-writer race: B commits between A's metadata read and A's CAS.
    The manifest must be re-merged against the fresh parent on A's retry
    (Iceberg re-applies the manifest merge on commit retry) — without
    that, A's retried commit wins with a manifest missing B's files."""
    base = str(tmp_path / "cc")
    a = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    b = SnapshotTable(base)
    real = a._cas_write
    state = {"fired": False}

    def racy(meta):
        if not state["fired"]:
            state["fired"] = True
            b.append(_docs(spark, 100, 150))  # B steals A's version
        real(meta)

    a._cas_write = racy
    a.append(_docs(spark, 0, 50))
    ids = sorted(r["doc_id"] for r in a.read(spark).collect())
    assert ids == list(range(0, 50)) + list(range(100, 150))
    ops = [s["operation"] for s in a.metadata()["snapshots"]]
    assert ops == ["append", "append"]


def test_compact_race_preserves_concurrent_append(spark, tmp_path):
    """A concurrent append landing mid-compaction must survive: the
    rewrite replaces exactly the files it read, merged against the
    manifest current at commit time."""
    base = str(tmp_path / "cr")
    a = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    a.append(_docs(spark, 0, 40))
    a.append(_docs(spark, 40, 80))
    b = SnapshotTable(base)
    real = a._cas_write
    state = {"fired": False}

    def racy(meta):
        if not state["fired"]:
            state["fired"] = True
            b.append(_docs(spark, 100, 120))
        real(meta)

    a._cas_write = racy
    a.compact(spark)
    ids = sorted(r["doc_id"] for r in a.read(spark).collect())
    assert ids == list(range(0, 80)) + list(range(100, 120))


def test_compact_race_lost_files_conflict(spark, tmp_path):
    """If a concurrent OVERWRITE removed the files a compaction rewrote,
    the compaction must refuse to commit (its inputs vanished)."""
    base = str(tmp_path / "cl")
    a = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    a.append(_docs(spark, 0, 40))
    b = SnapshotTable(base)
    real = a._cas_write
    state = {"fired": False}

    def racy(meta):
        if not state["fired"]:
            state["fired"] = True
            b.overwrite(_docs(spark, 500, 510))
        real(meta)

    a._cas_write = racy
    with pytest.raises(CommitConflict, match="lost a race"):
        a.compact(spark)
    # the overwrite's view is intact
    assert sorted(r["doc_id"] for r in b.read(spark).collect()) == list(
        range(500, 510)
    )


def test_date_timestamp_column_stats_and_pruning(spark, tmp_path):
    """pyarrow footer stats for date/timestamp come back as datetime
    objects; the manifest must serialize them (ISO, fixed width) and
    pruning must compare predicate bounds type-consistently."""
    import datetime as dt

    t = SnapshotTable.create(
        str(tmp_path / "dt"), "doc_id bigint, d date, ts timestamp"
    )
    df = spark.range(0, 10).selectExpr(
        "id AS doc_id",
        "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
        "to_timestamp(date_add(DATE'2024-01-01', CAST(id AS INT))) AS ts",
    )
    # two files with disjoint date ranges
    t.append(df.repartitionByRange(2, "doc_id"))
    assert t.read(spark).count() == 10

    kept, rep = t.plan_files(predicates={"d": (dt.date(2024, 1, 9), None)})
    assert rep["files_total"] == 2
    assert rep["files_scanned"] == 1
    got = t.read(spark, predicates={"d": (dt.date(2024, 1, 9), None)})
    assert got.count() == 2  # jan 9, jan 10

    # compaction re-collects stats over the typed columns — must not crash
    t.compact(spark)
    assert t.read(spark).count() == 10


def test_drop_partition_source_column_rejected(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "dp"), "doc_id bigint, lang string",
        partition_spec=[("bucket", "doc_id", 4)],
    )
    t.append(spark.range(0, 20).selectExpr("id AS doc_id", "'en' AS lang"))
    with pytest.raises(ValueError, match="partition"):
        t.drop_column("doc_id")
    # table is NOT bricked: schema unchanged, writes still succeed
    assert [f["name"] for f in t.schema()["fields"]] == ["doc_id", "lang"]
    t.append(spark.range(20, 30).selectExpr("id AS doc_id", "'de' AS lang"))
    assert t.read(spark).count() == 30
    # dropping a non-source column still works
    t.drop_column("lang")
    assert [f["name"] for f in t.schema()["fields"]] == ["doc_id"]


# -- round-6 row-level operations (DELETE FROM / UPDATE, copy-on-write) ----


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "dw"), "doc_id bigint, lang string, n_chars bigint"
    )
    # three single-file appends with disjoint doc_id ranges
    for lo in (0, 100, 200):
        t.append(_docs(spark, lo, lo + 100).coalesce(1))
    before = {r["file_path"] for r in t.plan_files()[0]}
    assert len(before) == 3

    t.delete_where(spark, "doc_id >= 100 AND doc_id < 110")
    after = {r["file_path"] for r in t.plan_files()[0]}
    # the 0-99 and 200-299 files survive UNTOUCHED (same manifest entries);
    # only the middle file was rewritten
    assert len(before & after) == 2
    assert len(after - before) == 1
    ids = sorted(r["doc_id"] for r in t.read(spark).collect())
    assert ids == list(range(0, 100)) + list(range(110, 300))
    snap = t.metadata()["snapshots"][-1]
    assert snap["operation"] == "delete"
    assert snap["summary"]["matched_rows"] == 10
    assert snap["summary"]["rewritten_files"] == 1
    # time travel still sees the pre-delete rows
    pre = t.metadata()["snapshots"][-2]["snapshot_id"]
    assert t.read(spark, snapshot_id=pre).count() == 300


def test_delete_where_noop_and_full_file_drop(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "dn"), "doc_id bigint, lang string, n_chars bigint"
    )
    for lo in (0, 100):
        t.append(_docs(spark, lo, lo + 100).coalesce(1))
    n_snaps = len(t.metadata()["snapshots"])
    # matching nothing is a no-op: no new snapshot
    t.delete_where(spark, "doc_id > 100000")
    assert len(t.metadata()["snapshots"]) == n_snaps
    # deleting EVERY row of one file drops it without a replacement
    t.delete_where(spark, "doc_id >= 100")
    kept = t.plan_files()[0]
    assert len(kept) == 1
    assert t.read(spark).count() == 100
    assert t.metadata()["snapshots"][-1]["summary"]["added_files"] == 0


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "dnul"), "doc_id bigint, lang string")
    t.append(
        spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS doc_id, 'xx' AS lang "
            "UNION ALL SELECT 5L, 'en' UNION ALL SELECT 6L, 'de'"
        )
    )
    t.delete_where(spark, "doc_id = 5")  # NULL = 5 is NULL -> keep
    rows = t.read(spark).collect()
    assert sorted(r["lang"] for r in rows) == ["de", "xx"]


def test_update_where_pre_row_semantics(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "up"), "a bigint, b bigint")
    t.append(spark.sql("SELECT 1L AS a, 10L AS b UNION ALL SELECT 2L, 20L"))
    # classic swap: both expressions must see the PRE-update row
    t.update_where(spark, "a = 1", {"a": "b", "b": "a"})
    rows = {r["a"]: r["b"] for r in t.read(spark).collect()}
    assert rows == {10: 1, 2: 20}
    snap = t.metadata()["snapshots"][-1]
    assert snap["operation"] == "update"
    assert snap["summary"]["matched_rows"] == 1
    with pytest.raises(KeyError, match="no column"):
        t.update_where(spark, "a = 2", {"nope": "1"})


def test_row_ops_respect_hidden_partitioning(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "dp"), "doc_id bigint, lang string, n_chars bigint",
        partition_spec=[("bucket", "doc_id", 4)],
    )
    t.append(_docs(spark, 0, 200))
    t.delete_where(spark, "n_chars < 10")
    t.update_where(spark, "lang = 'de'", {"n_chars": "n_chars + 1000"})
    df = t.read(spark)
    assert df.filter("n_chars < 10").count() == 0
    assert df.filter("lang = 'de' AND n_chars < 1000").count() == 0
    # rewritten files still carry partition tuples and still prune
    kept, report = t.plan_files(predicates={"doc_id": (13, 13)})
    assert report["files_scanned"] < report["files_total"]
    assert t.read(spark, predicates={"doc_id": (13, 13)}).count() == 1


def test_delete_after_schema_evolution(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "de"), "doc_id bigint, lang string")
    t.append(_docs(spark, 0, 50).select("doc_id", "lang").coalesce(1))
    t.add_column("flag", "bigint")
    t.append(
        _docs(spark, 50, 100)
        .select("doc_id", "lang")
        .withColumn("flag", F.expr("doc_id % 2"))
        .coalesce(1)
    )
    # predicate on the evolved column: old rows project flag=NULL -> kept
    t.delete_where(spark, "flag = 1")
    df = t.read(spark)
    assert df.count() == 50 + 25
    assert df.filter("flag = 1").count() == 0
    assert df.filter("doc_id < 50").count() == 50  # old file untouched
    # old file's manifest entry survived verbatim (no rewrite of clean files)
    assert t.metadata()["snapshots"][-1]["summary"]["rewritten_files"] == 1


def test_delete_race_with_compaction_conflicts(spark, tmp_path):
    """A compaction that removes a touched file between the delete's scan
    and its commit must raise CommitConflict, never resurrect rows."""
    base = str(tmp_path / "dr")
    a = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    for lo in (0, 100):
        a.append(_docs(spark, lo, lo + 100).coalesce(1))
    b = SnapshotTable(base)
    real = a._cas_write
    state = {"fired": False}

    def racy(meta):
        if not state["fired"]:
            state["fired"] = True
            b.compact(spark)  # rewrites (removes) every current file
        real(meta)

    a._cas_write = racy
    with pytest.raises(CommitConflict):
        a.delete_where(spark, "doc_id < 10")
    # the conflict aborted cleanly: table state is the compaction's
    assert b.read(spark).count() == 200


def test_merge_into_upsert(spark, tmp_path):
    """MERGE: one atomic snapshot applies update_all to matched keys and
    inserts unmatched source rows; only matched files rewrite."""
    t = SnapshotTable.create(
        str(tmp_path / "mg"), "doc_id bigint, lang string, n_chars bigint"
    )
    for lo in (0, 100, 200):
        t.append(_docs(spark, lo, lo + 100).coalesce(1))
    before = {r["file_path"] for r in t.plan_files()[0]}
    src = spark.sql(
        "SELECT id * 10 AS doc_id, 'xx' AS lang, id AS n_chars "
        "FROM range(9, 12)"  # 90, 100, 110 update; plus inserts below
    ).union(
        spark.sql("SELECT 1000 + id AS doc_id, 'zz' AS lang, id AS n_chars "
                  "FROM range(0, 5)")
    )
    t.merge_into(spark, src, on="doc_id")
    after = {r["file_path"] for r in t.plan_files()[0]}
    # file 200-299 held no matched keys -> manifest entry untouched
    assert len(before & after) == 1
    df = t.read(spark)
    assert df.count() == 305
    assert df.filter("lang = 'xx'").count() == 3
    assert {r["doc_id"] for r in df.filter("lang = 'zz'").collect()} == {
        1000, 1001, 1002, 1003, 1004
    }
    assert df.filter("doc_id = 90 AND n_chars = 9").count() == 1
    snap = t.metadata()["snapshots"][-1]
    assert snap["operation"] == "merge"
    assert snap["summary"]["matched_rows"] == 3
    assert snap["summary"]["inserted_rows"] == 5
    assert snap["summary"]["rewritten_files"] == 2


def test_merge_into_variants_and_errors(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "mg2"), "doc_id bigint, lang string, n_chars bigint")
    t.append(_docs(spark, 0, 50).coalesce(1))
    # delete-on-match + ignore-unmatched
    src = spark.sql("SELECT id AS doc_id, 'aa' AS lang, 0L AS n_chars FROM range(40, 60)")
    t.merge_into(spark, src, on="doc_id", when_matched="delete",
                 when_not_matched="ignore")
    assert t.read(spark).count() == 40
    assert t.read(spark).filter("doc_id >= 40").count() == 0
    # custom assignment referencing src_ columns
    src2 = spark.sql("SELECT id AS doc_id, 'bb' AS lang, 7L AS n_chars FROM range(0, 10)")
    t.merge_into(spark, src2, on="doc_id",
                 when_matched={"n_chars": "n_chars + src_n_chars"},
                 when_not_matched="ignore")
    got = {r["doc_id"]: r["n_chars"] for r in t.read(spark).filter("doc_id < 10").collect()}
    assert got == {i: (i * 7 % 100) + 7 for i in range(10)}
    # merge into matching nothing with inserts only -> append-like snapshot
    n0 = t.read(spark).count()
    t.merge_into(spark, spark.sql(
        "SELECT 9000 + id AS doc_id, 'cc' AS lang, 1L AS n_chars FROM range(0, 3)"
    ), on="doc_id")
    assert t.read(spark).count() == n0 + 3
    # duplicate source keys are ambiguous
    dup = spark.sql("SELECT 1L AS doc_id, 'd' AS lang, 0L AS n_chars "
                    "UNION ALL SELECT 1L, 'e', 0L")
    with pytest.raises(ValueError, match="key-unique"):
        t.merge_into(spark, dup, on="doc_id")
    with pytest.raises(KeyError, match="key column"):
        t.merge_into(spark, dup, on="nope")
    with pytest.raises(ValueError, match="cannot assign key"):
        t.merge_into(spark, src2, on="doc_id", when_matched={"doc_id": "1"})


def test_merge_respects_partitioning_and_evolution(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "mg3"), "doc_id bigint, lang string",
        partition_spec=[("bucket", "doc_id", 4)],
    )
    t.append(_docs(spark, 0, 80).select("doc_id", "lang"))
    t.add_column("flag", "bigint")
    src = spark.sql("SELECT id AS doc_id, 'up' AS lang, id % 2 AS flag FROM range(70, 90)")
    t.merge_into(spark, src, on="doc_id")
    df = t.read(spark)
    assert df.count() == 90
    assert df.filter("lang = 'up'").count() == 20
    # old unmatched rows surface flag as NULL; merged/inserted carry it
    assert df.filter("doc_id < 70 AND flag IS NOT NULL").count() == 0
    assert df.filter("doc_id >= 70 AND flag IS NULL").count() == 0
    # rewritten + inserted files still prune by hidden partition
    kept, report = t.plan_files(predicates={"doc_id": (85, 85)})
    assert report["files_scanned"] < report["files_total"]
    assert t.read(spark, predicates={"doc_id": (85, 85)}).count() == 1


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Z-ORDER rewrite: files cover key-space hyper-rectangles, so footer
    stats prune point reads on EVERY clustered column; a linear sort only
    prunes its leading column."""
    t = SnapshotTable.create(str(tmp_path / "zo"), "x bigint, y bigint, v bigint")
    grid = spark.range(0, 4096).selectExpr(
        "id % 64 AS x", "CAST(id / 64 AS BIGINT) AS y", "id AS v"
    )
    t.append(grid.orderBy(F.rand(seed=3)).repartition(8))

    t.compact(spark, target_file_bytes=2048, zorder=["x", "y"])
    kept, rep = t.plan_files(predicates={"x": (10, 12)})
    assert rep["files_total"] >= 8
    x_scan = rep["files_scanned"]
    kept, rep_y = t.plan_files(predicates={"y": (50, 52)})
    y_scan = rep_y["files_scanned"]
    assert x_scan < rep["files_total"] and y_scan < rep["files_total"]
    # content identical
    assert t.read(spark).count() == 4096
    assert t.read(spark).agg(F.sum("v")).first()[0] == 4096 * 4095 // 2
    assert t.read(spark, predicates={"x": (10, 12)}).count() == 3 * 64
    # schema untouched: the _zv clustering key never lands in the files
    assert [f["name"] for f in t.schema()["fields"]] == ["x", "y", "v"]
    import pyarrow.parquet as pq
    f0 = t.plan_files()[0][0]["file_path"]
    assert pq.read_schema(f0).names == ["x", "y", "v"]

    # linear sort on x for contrast: y point reads scan everything
    t2 = SnapshotTable.create(str(tmp_path / "lin"), "x bigint, y bigint, v bigint")
    t2.append(grid.orderBy(F.rand(seed=3)).repartition(8))
    t2.compact(spark, target_file_bytes=2048, sort_by=["x"])
    _, rep2 = t2.plan_files(predicates={"y": (50, 52)})
    assert rep2["files_scanned"] == rep2["files_total"]

    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(spark, sort_by=["x"], zorder=["x", "y"])
    with pytest.raises(ValueError, match="at least 2"):
        t.compact(spark, zorder=["x"])
    with pytest.raises(ValueError, match="non-numeric"):
        SnapshotTable.create(str(tmp_path / "zs"), "a bigint, s string")
        t3 = SnapshotTable(str(tmp_path / "zs"))
        t3.append(spark.sql("SELECT 1L AS a, 'q' AS s"))
        t3.compact(spark, zorder=["a", "s"])


# -- one metadata read per scan; one copy-on-write core ----------------------


def test_read_plans_from_its_one_metadata_read(spark, tmp_path):
    """An add_column + append committed right after read() takes its
    metadata must not tear the read: planning uses that same document, so
    the scan sees the old snapshot under the old schema (no KeyError for
    the new file's schema id)."""
    base = str(tmp_path / "torn")
    t = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    t.append(_docs(spark, 0, 50))
    other = SnapshotTable(base)
    real = t.metadata
    state = {"fired": False}

    def racy(version=None):
        doc = real(version)
        if not state["fired"]:
            state["fired"] = True
            other.add_column("score", "double")
            other.append(_docs(spark, 50, 60).withColumn("score", F.lit(1.0)))
        return doc

    t.metadata = racy
    got = t.read(spark)
    assert state["fired"]
    assert got.columns == ["doc_id", "lang", "n_chars"]
    assert got.count() == 50
    # the concurrent commit is visible to the next read
    assert other.read(spark).count() == 60


def test_merge_race_with_compaction_conflicts(spark, tmp_path):
    """MERGE shares the delete/update conflict path: a compaction that
    removes a touched file between the merge's scan and its commit raises
    CommitConflict and leaves the compaction's state intact."""
    base = str(tmp_path / "mr")
    a = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    for lo in (0, 100):
        a.append(_docs(spark, lo, lo + 100).coalesce(1))
    b = SnapshotTable(base)
    real = a._cas_write
    state = {"fired": False}

    def racy(meta):
        if not state["fired"]:
            state["fired"] = True
            b.compact(spark)  # rewrites (removes) every current file
        real(meta)

    a._cas_write = racy
    src = spark.sql(
        "SELECT id AS doc_id, 'xx' AS lang, 0L AS n_chars FROM range(5, 15)"
    ).union(spark.sql("SELECT 500L AS doc_id, 'zz' AS lang, 1L AS n_chars"))
    with pytest.raises(CommitConflict):
        a.merge_into(spark, src, on="doc_id")
    assert state["fired"]
    got = b.read(spark)
    assert got.count() == 200
    assert got.filter("lang IN ('xx', 'zz')").count() == 0
    assert b.metadata()["snapshots"][-1]["operation"] == "rewrite"


@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_rowops_reject_rows_attributed_outside_manifest(
    spark, tmp_path, monkeypatch, op
):
    """A matched row whose data file does not map back to a manifest
    entry is an error for every row-level op, never a silently lost
    rewrite; nothing is committed."""
    t = SnapshotTable.create(
        str(tmp_path / op), "doc_id bigint, lang string, n_chars bigint"
    )
    t.append(_docs(spark, 0, 20))
    n_snaps = len(t.metadata()["snapshots"])
    monkeypatch.setattr(
        SnapshotTable, "_uri_path", staticmethod(lambda uri: "/elsewhere.parquet")
    )
    with pytest.raises(RuntimeError, match="outside the manifest"):
        if op == "delete":
            t.delete_where(spark, "doc_id < 5")
        elif op == "update":
            t.update_where(spark, "doc_id < 5", {"n_chars": "0"})
        else:
            src = spark.sql("SELECT 3L AS doc_id, 'xx' AS lang, 0L AS n_chars")
            t.merge_into(spark, src, on="doc_id")
    assert len(t.metadata()["snapshots"]) == n_snaps
