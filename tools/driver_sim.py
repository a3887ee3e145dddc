"""Driver-gate simulation: run entry() + EVERY queries() entry and
value-compare against its DuckDB oracle (columns sorted by name, rows
sorted, exact equality) — the verify-skill recipe, kept in-repo.

    python tools/driver_sim.py [sf_dir] [q1,q2,...]   # default /root/testdata/sf0.01

An optional comma-separated second argument restricts the run to those
registry entries — the scoped re-verify after touching one operator
(full runs still gate every commit batch and the round end).

Mirrors tests/test_oracle_parity.py but covers the driver's scale and the
FULL registry (the external driver only checks the first 50 entries)."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as em
from tdataframe_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(x):
        if isinstance(x, (list, tuple)) or (hasattr(x, "tolist") and not isinstance(x, str)):
            try:
                return tuple(x.tolist() if hasattr(x, "tolist") else x)
            except Exception:
                return x
        return x

    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(norm)
    # normalize unsigned integer columns to int64: ok_dtype treats i/u as
    # equivalent, and DataFrame.equals would otherwise report a spurious
    # value mismatch for dtype alone
    for c in df.columns:
        if df[c].dtype.kind == "u":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def main():
    spark = get_spark("driver-sim", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    if only is None:
        n = em.entry(spark).count()
        print(f"entry(): {n} rows", flush=True)
    Q, O = em.queries(), em.oracle_sql()
    if only is not None:
        unknown = only - set(Q)
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
        Q = {k: v for k, v in Q.items() if k in only}
    # the connection and views are query-invariant: create them once
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    bad = []
    for name, fn in Q.items():
        try:
            s = fn(spark, SF).toPandas()
        except Exception as e:
            print(f"{name}: ERR {type(e).__name__}: {e}", flush=True)
            bad.append(name)
            continue
        if name not in O:
            print(f"{name}: rows-only ({len(s)} rows)", flush=True)
            continue
        d = con.sql(O[name]).df()
        ok_cols = sorted(s.columns) == sorted(d.columns)
        ok_rows = len(s) == len(d)
        ok_dtype = ok_cols and all(
            s2k == d2k or {s2k, d2k} <= {"i", "u"} or "O" in {s2k, d2k}
            for s2k, d2k in (
                (s[c].dtype.kind, d[c].dtype.kind) for c in s.columns
            )
        )
        ok_vals = ok_cols and ok_rows and canon(s).equals(canon(d))
        if ok_cols and ok_rows and ok_vals and ok_dtype:
            print(f"{name}: MATCH ({len(s)} rows)", flush=True)
        else:
            print(
                f"{name}: MISMATCH cols={ok_cols} rows={ok_rows} "
                f"({len(s)} vs {len(d)}) vals={ok_vals} dtype={ok_dtype}",
                flush=True,
            )
            bad.append(name)
    print("RESULT:", "ALL MATCH" if not bad else f"FAILURES: {bad}")


if __name__ == "__main__":
    main()
