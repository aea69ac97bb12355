"""Local driver-sim: run every queries() entry and its oracle_sql() twin and
compare row count + schema + sorted values exactly (the driver's value-hash
requires exact equality after column-name sort)."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare_query(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """[] when the Spark result and the oracle result match exactly."""
    a, b = normalize(sdf), normalize(ddf)
    status = []
    if len(a) != len(b):
        status.append(f"ROWS {len(a)} vs {len(b)}")
    if list(a.columns) != list(b.columns):
        status.append(f"SCHEMA {list(a.columns)} vs {list(b.columns)}")
    if status:
        return status
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            bad = ~(
                (pd.isna(av) & pd.isna(bv)) | (av.astype(float) == bv.astype(float))
            )
        else:
            bad = av != bv
        n = int(np.sum(bad))
        if n:
            i = int(np.nonzero(bad)[0][0])
            status.append(f"{c}: {n} diffs e.g. {av[i]!r} vs {bv[i]!r}")
    return status


def run_all(spark, sf_dir: str, only=None, verbose=True) -> dict[str, list[str]]:
    """name → failure reasons ([] = OK); rows-only queries get a row count."""
    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = E.oracle_sql()
    results: dict[str, list[str]] = {}
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            results[name] = [f"SPARK ERROR {type(ex).__name__}: {str(ex)[:200]}"]
        else:
            if name not in oracles:
                results[name] = []
                if verbose:
                    print(f"{name:18s} rows-only: {len(sdf)} rows (no oracle)")
                continue
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception as ex:
                results[name] = [f"DUCKDB ERROR {type(ex).__name__}: {str(ex)[:200]}"]
            else:
                results[name] = compare_query(sdf, ddf)
        if verbose:
            mark = "OK" if not results[name] else "FAIL: " + " | ".join(results[name])[:400]
            print(f"{name:18s} {mark}" + ("" if results[name] else f" ({len(sdf)} rows)"))
    return results


if __name__ == "__main__":
    from rio_color_spark.session import get_spark

    spark = get_spark("oracle-check")
    res = run_all(spark, "/root/testdata/sf0.01", set(sys.argv[1:]) or None)
    failures = {k: v for k, v in res.items() if v}
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)
