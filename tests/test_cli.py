"""CLI tests — the repo analogue of the reference tests/test_cli.py surface:
e2e runs on a real table, jobs-count determinism, out-dtype, bad/empty ops
exit codes, the --as-color golden echo, and check_jobs branches."""

import os

import numpy as np
import pytest

from rio_color_spark.cli import main
from rio_color_spark.sources import codec
from rio_color_spark.sources.images import images_df

N = 200


@pytest.fixture(scope="module")
def src_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "src")
    images_df(spark, N).write.parquet(path)
    return path


def _read_pixels(spark, path):
    rows = spark.read.parquet(path).select("image_id", "bytes", "fmt").collect()
    return {r["image_id"]: (bytes(r["bytes"]), r["fmt"]) for r in rows}


def test_color_e2e_and_jobs_determinism(spark, src_table, tmp_path):
    """j=1 output equals j=2 output byte-for-byte (reference
    tests/test_cli.py:19-81's j1-vs-j2 equality)."""
    out1 = str(tmp_path / "o1")
    out2 = str(tmp_path / "o2")
    ops = ["gamma", "b", "1.85,", "gamma", "rg", "1.95,", "sigmoidal", "rgb", "35", "0.13"]
    assert main(["color", "-j", "1", src_table, out1] + ops) == 0
    assert main(["color", "-j", "2", src_table, out2] + ops) == 0
    p1 = _read_pixels(spark, out1)
    p2 = _read_pixels(spark, out2)
    assert p1.keys() == p2.keys() and len(p1) == N
    assert p1 == p2
    src = _read_pixels(spark, src_table)
    changed = [k for k in src if p1[k][0] != src[k][0]]
    assert len(changed) > N * 0.9  # the chain actually recolors


def test_color_out_dtype(spark, src_table, tmp_path):
    out = str(tmp_path / "o16")
    assert main(["color", "-d", "uint16", "--co", "compression=zstd",
                 src_table, out, "gamma", "rgb", "1.2"]) == 0
    for r in spark.read.parquet(out).select("bytes", "fmt", "w", "h").take(20):
        info = codec.format_info(r["fmt"])
        assert info.dtype == np.dtype("uint16")
        assert len(r["bytes"]) == info.bands * r["w"] * r["h"] * 2


def test_co_compression_reaches_parquet_footer(src_table, tmp_path):
    """--co compression=... demonstrably changes the output files
    (round-4 verdict item 7; the parquet analogue of reference
    tests/test_cli.py:121-169's compress=jpeg assertions). The session
    default is zstd (session.py), so the option is proven by overriding
    it the other way: every column chunk's footer codec is SNAPPY with
    --co compression=snappy, ZSTD without."""
    import pyarrow.parquet as pq

    def codecs(path):
        out = set()
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(path, f)).metadata
                for rg in range(md.num_row_groups):
                    for col in range(md.num_columns):
                        out.add(md.row_group(rg).column(col).compression)
        return out

    out_s = str(tmp_path / "snappy")
    out_d = str(tmp_path / "default")
    assert main(["color", "--co", "compression=snappy", src_table, out_s,
                 "gamma", "rgb", "1.2"]) == 0
    assert main(["color", src_table, out_d, "gamma", "rgb", "1.2"]) == 0
    assert codecs(out_s) == {"SNAPPY"}
    assert codecs(out_d) == {"ZSTD"}


def test_color_bad_and_empty_ops_exit_2(src_table, tmp_path):
    out = str(tmp_path / "bad")
    with pytest.raises(SystemExit) as e:
        main(["color", src_table, out, "gamme", "1.85"])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["color", src_table, out])  # empty operations
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["color", src_table, out, ",", ",", ","])
    assert e.value.code == 2
    assert not os.path.exists(out)


def test_as_color_golden(capsys):
    """Exact echo pinned to the reference golden
    (tests/test_cli.py:233-241)."""
    assert main(["atmos", "-a", "0.03", "--as-color", "foo.parquet", "bar.parquet"]) == 0
    assert (
        capsys.readouterr().out.strip()
        == "rio color foo.parquet bar.parquet gamma g 0.99, gamma b 0.97, sigmoidal rgb 10.0 0.15"
    )
    assert not os.path.exists("bar.parquet")


def test_atmos_e2e_matches_color_of_opstring(spark, src_table, tmp_path):
    """atmos output == color output of its own opstring (reference
    tests/test_operations.py:200-205 equivalence, e2e)."""
    oa = str(tmp_path / "atmos")
    oc = str(tmp_path / "color")
    assert main(["atmos", "-a", "0.05", "-c", "12", "-b", "0.2", src_table, oa]) == 0
    assert main(["color", src_table, oc, "gamma", "g",
                 f"{1 - 0.05 / 3.0},", "gamma", "b", "0.95,",
                 "sigmoidal", "rgb", "12.0", "0.2"]) == 0
    assert _read_pixels(spark, oa) == _read_pixels(spark, oc)


def test_check_jobs_branches():
    from rio_color_spark.cli import _build_parser, check_jobs

    parser = _build_parser()
    assert check_jobs(4, parser) == 4
    assert check_jobs(-1, parser) == len(os.sched_getaffinity(0))
    with pytest.raises(SystemExit) as e:
        check_jobs(0, parser)
    assert e.value.code == 2


def test_optimize_cli_golden(spark, tmp_path, capsys):
    """`optimize` subcommand (reference scripts/optimize_color.py:193-240)
    reproduces the seed-0 pinned golden of the optimize_color oracle gate
    (__spark_entry__.OPTIMIZE_GOLDEN) from parquet tables."""
    from __spark_entry__ import OPTIMIZE_GOLDEN

    imgs = images_df(spark, 120)
    src = str(tmp_path / "opt_src")
    ref = str(tmp_path / "opt_ref")
    imgs.filter("phash % 2 == 0").write.parquet(src)
    imgs.filter("phash % 2 != 0").write.parquet(ref)

    assert main(["optimize", src, ref, "--steps", "40", "--seed", "0",
                 "--max-pixels", "100000", "-j", "4"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == f"rio color src dst {OPTIMIZE_GOLDEN['ops']}"
    assert out[1] == f"score: {OPTIMIZE_GOLDEN['score']:.6f}"
    assert out[2] == f"initial_score: {OPTIMIZE_GOLDEN['initial_score']:.6f}"


def test_table_subcommand_lifecycle(spark, tmp_path, capsys):
    """table create → append → history/files → evolve → compact → expire,
    metadata actions Spark-free (driver-side, like Iceberg catalog ops)."""
    import json

    base = str(tmp_path / "snap_tbl")
    src = str(tmp_path / "src_pq")
    spark.range(0, 60).selectExpr(
        "id AS doc_id", "'en' AS lang", "id * 2 AS n_chars"
    ).write.parquet(src)

    assert main(["table", "create", base,
                 "--schema", "doc_id bigint, lang string, n_chars bigint",
                 "--partition", "bucket:doc_id:4"]) == 0
    assert main(["table", "append", base, src, "-j", "2"]) == 0
    capsys.readouterr()

    assert main(["table", "history", base]) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(hist) == 1 and hist[0]["operation"] == "append"
    assert hist[0]["total_rows"] == 60

    assert main(["table", "files", base]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    report = json.loads(lines[-1])
    assert report["files_total"] == len(lines) - 1 >= 4  # one per bucket

    assert main(["table", "evolve", base, "--add", "quality:double"]) == 0
    assert "quality double" in capsys.readouterr().out

    assert main(["table", "compact", base, "-j", "2", "--sort", "doc_id"]) == 0
    assert main(["table", "expire", base, "--keep", "1"]) == 0
    capsys.readouterr()
    assert main(["table", "history", base]) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(hist) == 1 and hist[0]["operation"] == "rewrite"

    from rio_color_spark.sources.snapshots import SnapshotTable
    got = SnapshotTable(base).read(spark)
    assert got.count() == 60 and "quality" in got.columns


def test_table_subcommand_errors(tmp_path):
    base = str(tmp_path / "t2")
    with pytest.raises(SystemExit) as e:
        main(["table", "create", base])  # no schema
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "create", base, "--schema", "a int",
              "--partition", "bogus"])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "create", base, "--schema", "doc_id bigint",
              "--partition", "bucket:doc_id:x"])
    assert e.value.code == 2
    assert main(["table", "create", base, "--schema", "a int"]) == 0
    with pytest.raises(SystemExit) as e:
        main(["table", "append", base])  # no src
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "evolve", base])  # no op
    assert e.value.code == 2


def test_table_delete_update_cli(spark, tmp_path, capsys):
    """table delete/update: copy-on-write row ops through the CLI, with
    the matched/rewritten summary echoed and no-op deletes flagged."""
    import json

    base = str(tmp_path / "rowops_tbl")
    src = str(tmp_path / "rowops_src")
    spark.range(0, 100).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
        "id * 3 AS n_chars",
    ).write.parquet(src)
    assert main(["table", "create", base,
                 "--schema", "doc_id bigint, lang string, n_chars bigint"]) == 0
    assert main(["table", "append", base, src, "-j", "2"]) == 0
    capsys.readouterr()

    assert main(["table", "delete", base, "--where", "doc_id < 10",
                 "-j", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["matched_rows"] == 10

    assert main(["table", "update", base, "--where", "lang = 'de'",
                 "--set", "n_chars=n_chars + 1000", "-j", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["matched_rows"] == 45  # odd ids >= 10

    assert main(["table", "delete", base, "--where", "doc_id > 10000",
                 "-j", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out.get("noop") is True

    from rio_color_spark.sources.snapshots import SnapshotTable
    df = SnapshotTable(base).read(spark)
    assert df.count() == 90
    assert df.filter("lang = 'de' AND n_chars < 1000").count() == 0

    with pytest.raises(SystemExit) as e:
        main(["table", "delete", base])  # no --where
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "update", base, "--where", "1=1"])  # no --set
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "update", base, "--where", "1=1", "--set", "oops"])
    assert e.value.code == 2


def test_table_merge_cli(spark, tmp_path, capsys):
    import json

    base = str(tmp_path / "merge_tbl")
    src0 = str(tmp_path / "merge_src0")
    src1 = str(tmp_path / "merge_src1")
    spark.range(0, 50).selectExpr(
        "id AS doc_id", "'en' AS lang", "id AS n_chars"
    ).write.parquet(src0)
    spark.range(40, 60).selectExpr(
        "id AS doc_id", "'xx' AS lang", "id * 2 AS n_chars"
    ).write.parquet(src1)
    assert main(["table", "create", base,
                 "--schema", "doc_id bigint, lang string, n_chars bigint"]) == 0
    assert main(["table", "append", base, src0, "-j", "2"]) == 0
    capsys.readouterr()
    assert main(["table", "merge", base, src1, "--on", "doc_id",
                 "-j", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["matched_rows"] == 10 and out["inserted_rows"] == 10

    from rio_color_spark.sources.snapshots import SnapshotTable
    df = SnapshotTable(base).read(spark)
    assert df.count() == 60
    assert df.filter("lang = 'xx'").count() == 20

    # --set: matched rows get the assignment over the pre-merge target row
    assert main(["table", "merge", base, src1, "--on", "doc_id",
                 "--set", "n_chars=n_chars+1", "-j", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["matched_rows"] == 20 and out["inserted_rows"] == 0
    df = SnapshotTable(base).read(spark)
    assert df.count() == 60
    assert df.filter("doc_id >= 40 AND n_chars = doc_id * 2 + 1").count() == 20
    assert df.filter("doc_id < 40 AND n_chars = doc_id").count() == 40

    with pytest.raises(SystemExit) as e:
        main(["table", "merge", base, src1])  # no --on
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["table", "merge", base, src1, "--on", "doc_id", "--set", "oops"])
    assert e.value.code == 2


def test_tif_table_directions_leave_no_temp_files(spark, tmp_path, monkeypatch):
    """.tif → table and table → .tif (successful or failing) stream
    through one plan: nothing is left in the temp dir."""
    import tempfile

    from rio_color_spark.sources import tiff as T

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    arr = np.random.default_rng(0).integers(0, 256, (3, 48, 64), dtype=np.uint8)
    src = str(tmp_path / "src.tif")
    T.write_tiff(src, arr, T.TiffProfile(width=64, height=48, count=3, dtype="uint8"))
    tbl = str(tmp_path / "tbl")
    assert main(["color", src, tbl, "gamma rgb 1.5"]) == 0
    assert main(["color", tbl, str(tmp_path / "out.tif"), "gamma rgb 1.5"]) == 0
    with pytest.raises(FileNotFoundError):
        main(["color", tbl, str(tmp_path / "no_dir" / "out.tif"), "gamma rgb 1.5"])
    assert os.listdir(tmp) == []
