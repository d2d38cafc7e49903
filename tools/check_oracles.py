"""Local stand-in for the driver's correctness harness: run every queries()
entry and its oracle_sql() twin, compare row count + sorted values."""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str:
    if len(got) != len(want):
        return f"ROWS {len(got)} != {len(want)}"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"SCHEMA {list(g.columns)} != {list(w.columns)}"
    for c in g.columns:
        gc, wc = g[c], w[c]
        # The driver hashes rendered values, so int64 `500` vs float64 `500.0`
        # is a hash mismatch even when numerically equal (DuckDB HUGEINT
        # aggregates surface as float64 in pandas). Flag it here instead of
        # coercing, so this harness predicts the driver.
        if pd.api.types.is_integer_dtype(gc) != pd.api.types.is_integer_dtype(wc) and (
            pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(wc)
        ):
            return (
                f"DTYPE col={c}: spark={gc.dtype} vs oracle={wc.dtype} "
                "(int-vs-float hash mismatch at the driver; CAST the oracle column)"
            )
        if pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(wc):
            import numpy as np

            a = gc.astype(float).to_numpy()
            b = wc.astype(float).to_numpy()
            both_nan = pd.isna(a) & pd.isna(b)
            ok = both_nan | np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not ok.all():
                i = int((~ok).argmax())
                return f"VALUES col={c} row{i}: {a[i]!r} != {b[i]!r}"
        else:
            if not gc.equals(wc):
                diff = (gc != wc) & ~(pd.isna(gc) & pd.isna(wc))
                if not diff.any():
                    continue
                i = int(diff[diff].index[0])
                return f"VALUES col={c} row{i}: {gc[i]!r} != {wc[i]!r}"
    return "OK"


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as e
    from deep_ner_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"{name:28s} SPARK-ERROR {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:28s} rows-only  rows={len(got)}  [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"{name:28s} ORACLE-ERROR {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        verdict = compare(name, got, want)
        print(f"{name:28s} {verdict}  rows={len(got)}  [{time.time()-t0:.1f}s]")
        if verdict != "OK":
            failures += 1
    print("FAILURES:", failures)
    spark.stop()
    return failures


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", dest="sf_dir", help="table directory (default: main's)")
    ap.add_argument("--only", type=lambda s: s.split(","), help="query names, comma-separated")
    given = {k: v for k, v in vars(ap.parse_args()).items() if v}
    raise SystemExit(1 if main(**given) else 0)
