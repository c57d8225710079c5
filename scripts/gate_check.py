"""Emulate the driver's correctness gate: run every __spark_entry__ query on
Spark AND its oracle SQL on DuckDB at the given sf dir; compare row count,
schema arity, and exact values (floats bit-compared as float32)."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

# --spark-runner: every query on the Spark runner (LOCAL_MAX_POSTINGS -1)
SPARK_RUNNER = "--spark-runner" in sys.argv
ARGS = [a for a in sys.argv[1:] if a != "--spark-runner"]
SF_DIR = ARGS[0] if ARGS else "/root/testdata/sf0.01"
ONLY = ARGS[1].split(",") if len(ARGS) > 1 else None

import __spark_entry__ as e
from lucenenet_spark.operators import index_build
from lucenenet_spark.session import get_spark

if SPARK_RUNNER:
    index_build.LOCAL_MAX_POSTINGS = -1


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == np.float64 or df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float32)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    spark = get_spark(cores=8)
    qs, os_ = e.queries(), e.oracle_sql()
    missing = set(qs) - set(os_)
    if missing:
        print("queries without oracle:", missing)
    fails = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            continue
        if name not in os_:
            # rows-only entry (no SQL oracle) — mirror the driver's weak check
            print(f"PASS {name}: {len(got)} rows (rows-only, no oracle) ({time.time()-t0:.1f}s)")
            continue
        try:
            want = con.sql(os_[name]).df()
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {ex}")
            continue
        g, w = canon(got), canon(want)
        status = []
        if len(g) != len(w):
            status.append(f"rows {len(g)} vs {len(w)}")
        elif list(g.columns) != list(w.columns):
            status.append(f"cols {list(g.columns)} vs {list(w.columns)}")
        else:
            for c in g.columns:
                a, b = g[c].to_numpy(), w[c].to_numpy()
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    eq = np.array_equal(
                        a.astype(np.float32), b.astype(np.float32)
                    )
                else:
                    eq = list(map(str, a)) == list(map(str, b))
                if not eq:
                    nbad = int(sum(1 for x, y in zip(a, b) if str(x) != str(y)))
                    status.append(f"col {c}: {nbad}/{len(a)} differ; first: ")
                    for x, y in zip(a, b):
                        if str(x) != str(y):
                            status[-1] += f"{x!r} vs {y!r}"
                            break
        if status:
            fails.append(name)
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"PASS {name}: {len(g)} rows ({time.time()-t0:.1f}s)")
    print("====", "ALL GATE CHECKS PASS" if not fails else f"{len(fails)} FAILURES: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    if ONLY:
        _q, _o = e.queries(), e.oracle_sql()
        e.queries = lambda: {k: _q[k] for k in ONLY}
        e.oracle_sql = lambda: {k: _o[k] for k in ONLY if k in _o}
    main()
