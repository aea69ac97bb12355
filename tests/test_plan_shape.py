"""Physical-plan guards for the pipeline's scale properties:

- the ``assignments`` view over the committed images prunes ``bytes`` at
  the parquet scan (the 60-byte metadata path never pays for pixel
  payloads)
- the PIP join broadcasts the polygon cover — the fact side is never
  shuffled (no Exchange between the fact scan and the join)
- chunk scans read only their own files (pruning at planning time)
- the LSH self-joins run their bucket UDF once, behind a reused exchange
- the dedup hashes tokenize each document once

These are the properties that keep the flagship pipeline viable at 100 TB;
value correctness is gated elsewhere (oracles + resume tests).
"""

import numpy as np
import pytest

from rio_color_spark.functions.pip import pack_polygons
from rio_color_spark.operators.spatial import with_spatial_index
from rio_color_spark.operators.spatial_join import point_in_polygon_join
from rio_color_spark.pipeline import FLAGSHIP_OPS, assignments, run_pipeline
from rio_color_spark.sources.images import images_df
from rio_color_spark.sources.polygons import make_polygons


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assignments_scan_prunes_bytes(spark, tmp_path):
    """The engine's assignments view over the committed images reads them
    with bytes pruned: ReadSchema of that scan must not contain the pixel
    column."""
    src = str(tmp_path / "src")
    images_df(spark, 200).write.parquet(src)
    packed = pack_polygons(make_polygons(10))
    w = run_pipeline(spark, src, str(tmp_path / "out"), packed, n_chunks=2)

    plan = _plan(assignments(w.read(spark, "images")))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema
    assert "image_id" in read_schema


def test_pip_join_broadcasts_cover_no_fact_shuffle(spark):
    idx = with_spatial_index(images_df(spark, 300).drop("bytes"), zoom=8, level=8)
    packed = pack_polygons(make_polygons(12))
    out = point_in_polygon_join(idx, packed, zoom=8, pip_zoom=4)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the ONLY exchange in the whole plan is the broadcast of the tiny
    # cover; the fact side must not hash-partition
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_chunk_scan_reads_only_own_files(spark, tmp_path):
    from rio_color_spark.pipeline import chunk_plan

    src = str(tmp_path / "src")
    images_df(spark, 200).repartition(6).write.parquet(src)
    readers = chunk_plan(spark, src, 3)[0]
    all_files = set(spark.read.parquet(src).inputFiles())
    for r in readers:
        files = set(r().inputFiles())
        assert files and files < all_files  # strict subset: pruned scan


def test_rowops_rewrite_plans_are_jvm_joins(spark, tmp_path, monkeypatch):
    """Row-level DELETE/UPDATE/MERGE plans: no Python eval stages and no
    cartesian products anywhere in the rewrite path — the detection is a
    key join, the rewrite a filtered/left-joined scan of touched files.
    The plans are the engine's own: every detection and rewrite frame the
    shared copy-on-write core builds is recorded as it runs."""
    from rio_color_spark.sources.snapshots import SnapshotTable

    plans = []
    real = SnapshotTable._copy_on_write

    def recording(self, spark, meta, detect, rewrite, write_options):
        def rec(step):
            def run(df):
                out = step(df)
                plans.append(_plan(out))
                return out
            return run
        return real(self, spark, meta, rec(detect), rec(rewrite), write_options)

    monkeypatch.setattr(SnapshotTable, "_copy_on_write", recording)
    t = SnapshotTable.create(
        str(tmp_path / "ppt"), "doc_id bigint, lang string, n_chars bigint"
    )
    t.append(
        spark.range(0, 500).selectExpr(
            "id AS doc_id", "'en' AS lang", "id * 3 AS n_chars"
        )
    )
    t.delete_where(spark, "doc_id % 7 = 0")
    t.update_where(spark, "doc_id % 5 = 0", {"n_chars": "n_chars + 1"})
    src = spark.range(0, 50).selectExpr(
        "id AS doc_id", "'xx' AS lang", "0L AS n_chars"
    )
    t.merge_into(spark, src, on=["doc_id"])

    assert len(plans) == 6  # detection + rewrite for each of the three ops
    for plan in plans:
        assert "EvalPython" not in plan and "ArrowEval" not in plan
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


@pytest.mark.parametrize("name", ["ann_lsh", "ann_lsh_multi", "cosine_neardup"])
def test_lsh_bucket_udf_runs_once_via_reused_exchange(spark, name):
    """The bucket UDF crosses the table once: both self-join legs read one
    (tbl, bucket) exchange, which AQE reuses at runtime. Checked on the
    final adaptive plan, which exists only after execution."""
    import __spark_entry__ as E
    from test_oracle_parity import SF

    df = getattr(E, "q_" + name)(spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython [_b(") == 1
    reused = [line for line in final.splitlines() if "ReusedExchange" in line]
    assert any("Exchange hashpartitioning(tbl" in line for line in reused)


def test_lsh_pairs_tokenizes_once_via_reused_exchanges(spark):
    """minhash_lsh_pairs tokenizes the corpus once: the band self-join
    reads one (band, band_sig) exchange and the exact-Jaccard verify
    re-reads the token exchange, both reused by AQE at runtime. Checked
    on the final adaptive plan, which exists only after execution."""
    import __spark_entry__ as E
    from test_oracle_parity import SF

    df = E.q_lsh_pairs(spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    tokenize = [
        line for line in final.splitlines()
        if "Generate" in line and "split(trim(lower(_text" in line
    ]
    assert len(tokenize) == 1
    reused = [line for line in final.splitlines() if "ReusedExchange" in line]
    assert any("Exchange hashpartitioning(band#" in line and "band_sig#" in line
               for line in reused)
    assert any("Exchange RoundRobinPartitioning(" in line for line in reused)


def test_simhash_tokenizes_once(spark):
    """with_simhash splits each document once: the token hashes and the
    token count both read the one materialized token array."""
    import __spark_entry__ as E
    from test_oracle_parity import SF

    df = E.q_simhash(spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("split(trim(lower(_text") == 1
