"""Oracle-twin drift guard (round-4 verdict item 8).

plans/sql_oracles.py mirrors engine math as DuckDB SQL. Most of its
inputs already import from engine modules (texthash constants, ANN
hyperplanes — drift-proof by construction); the remaining duplicated
literals are pinned here so a future engine change cannot silently
decouple engine from oracle:

- colorspace constants (sql_oracles re-derives _XN/_ZN/α/δ/κ locally)
- EARTH_RADIUS_KM (duplicated vs operators/knn.py)
- the PX_*/DOC_* synthetic-channel formulas (SQL strings vs the Column
  expressions in __spark_entry__), checked by EVALUATING both engines
  over the same ids and requiring exact float equality
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from rio_color_spark.functions import colorspace as CS  # noqa: E402
from rio_color_spark.operators import knn  # noqa: E402
from rio_color_spark.plans import sql_oracles as S  # noqa: E402


def test_colorspace_constants_identical():
    assert S._XN == CS._XN
    assert S._ZN == CS._ZN
    assert S._DELTA == CS._DELTA
    assert S._ALPHA == CS._ALPHA
    assert S._BI == CS._BINTERCEPT
    assert S._KAPPA == CS._KAPPA
    # whitepoint-derived u'/v' (LUV) must come out of the same _XN/_ZN
    assert S._DENOM_N == CS._DENOM_N
    assert S._UPRIME_N == CS._UPRIME_N


def test_earth_radius_identical():
    assert S.EARTH_RADIUS_KM == knn.EARTH_RADIUS_KM


def test_px_formula_twins_evaluate_identically(spark):
    ids = list(range(0, 400, 7))
    rows = [
        (i * 3 + 1, i % 7 + 1, i * 11 + 5, i * 13 + 3) for i in ids
    ]
    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    sdf = E._px_cols(
        spark.createDataFrame(rows, ", ".join(f"{c} long" for c in cols))
    ).toPandas().sort_values("l_orderkey").reset_index(drop=True)
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=cols))
    ddf = con.execute(
        f"SELECT l_orderkey, l_linenumber, {S.PX_R} AS px_r, "
        f"{S.PX_G} AS px_g, {S.PX_B} AS px_b FROM t ORDER BY l_orderkey"
    ).df()
    for c in ("px_r", "px_g", "px_b"):
        assert (sdf[c].to_numpy() == ddf[c].to_numpy()).all(), c


def test_doc_lonlat_twins_evaluate_identically(spark):
    ids = list(range(0, 1000, 13))
    sdf = E._doc_lonlat(
        spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"doc_id": ids}))
    ddf = con.execute(
        f"SELECT doc_id, {S.DOC_LON} AS lon, {S.DOC_LAT} AS lat "
        "FROM t ORDER BY doc_id"
    ).df()
    assert (sdf["lon"].to_numpy() == ddf["lon"].to_numpy()).all()
    assert (sdf["lat"].to_numpy() == ddf["lat"].to_numpy()).all()


def test_hyperplanes_and_texthash_are_imports_not_copies():
    """The drift-proof-by-construction families really are imports: the
    oracle module must not grow its own literals for them."""
    import inspect

    src = inspect.getsource(S)
    assert "from rio_color_spark.functions import texthash as TH" in src
    assert "from rio_color_spark.operators.ann import hyperplanes" in src
    # no local MINHASH table redefinition
    assert "MINHASH_A =" not in src and "MINHASH_P =" not in src
