"""Driver-contract guard: every queries() entry matches its DuckDB oracle
exactly at sf0.001 (the full sf0.01 sweep runs via scripts/check_oracles.py
and the driver itself)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.check_oracles import run_all

SF = "/root/testdata/sf0.001"


def test_all_queries_match_oracles(spark):
    results = run_all(spark, SF, verbose=False)
    failures = {k: v for k, v in results.items() if v}
    assert not failures, failures
    assert len(results) >= 25


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "image_id", "caption", "fmt", "w", "h", "tile_x", "tile_y", "cell_id",
    }


def test_missing_golden_fails_only_its_gate(monkeypatch):
    """One golden that cannot be built (a missing fixture) turns into an
    erroring oracle for its own gate; every other gate keeps its SQL."""
    import duckdb

    import __spark_entry__ as E
    from scripts.check_oracles import TABLES

    def missing():
        raise FileNotFoundError("rgb8.tif")

    monkeypatch.setattr(E, "_golden_tiff_values", missing)
    oracles = E.oracle_sql()
    assert set(oracles) == set(E.queries())

    failed = set()
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        for name, sql in oracles.items():
            try:
                con.execute(sql).fetchall()
            except duckdb.Error as ex:
                failed.add(name)
                assert "FileNotFoundError: rgb8.tif" in str(ex)
    assert failed == {"tiff_ingest"}
