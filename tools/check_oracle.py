"""Local replica of the driver's t2 correctness check.

Runs every __spark_entry__.queries() entry at a given SF and compares with
the DuckDB oracle: row count, schema (column names), and order-insensitive
values (columns sorted by name, rows sorted, 6dp float tolerance check plus
an exact-match indicator to predict the driver's value-hash).

Usage: python tools/check_oracle.py [SF_DIR] [name,name,...]

DuckDB runs in this process with a fixed memory limit and thread cap, and
the process's address space is capped once the Spark JVM is up: DuckDB's
memory_limit bounds its buffer manager only, and the oracle SQL of
curate_batch / streaming_curation allocates past it (uncapped, the process
grew past 13 GiB).  Such a query then reports an ORACLE ERROR instead of
exhausting the machine, and the full sf0.01 contract runs on a 4-core,
15 GB machine.
"""

from __future__ import annotations

import os
import resource
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

DUCKDB_CONFIG = {"memory_limit": "2GB", "threads": 2}
ADDRESS_SPACE_BYTES = 8 * 2**30
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    import __spark_entry__ as E
    from entitymatchingmodel_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    # set once the JVM runs: a child process keeps the limits it started with
    resource.setrlimit(resource.RLIMIT_AS, (ADDRESS_SPACE_BYTES, ADDRESS_SPACE_BYTES))

    con = duckdb.connect(config=DUCKDB_CONFIG)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {type(e).__name__}: {str(e)[:200]}"
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = f"rows-only ({len(got)} rows, {t_spark:.1f}s)"
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {str(e)[:200]}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            results[name] = f"SCHEMA MISMATCH spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWCOUNT MISMATCH spark={len(got)} oracle={len(exp)}"
            continue
        g, e_ = canon(got), canon(exp)
        exact = True
        approx = True
        detail = ""
        for c in g.columns:
            gv, ev = g[c].values, e_[c].values
            if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(e_[c].dtype, np.floating):
                gv2 = pd.to_numeric(g[c]).values.astype(float)
                ev2 = pd.to_numeric(e_[c]).values.astype(float)
                both_nan = np.isnan(gv2) & np.isnan(ev2)
                eq = (gv2 == ev2) | both_nan
                cl = np.isclose(gv2, ev2, atol=1e-6, equal_nan=True)
                if not eq.all():
                    exact = False
                    if not cl.all():
                        approx = False
                        i = int(np.argmin(cl))
                        detail += f" [{c}: spark={gv2[i]} oracle={ev2[i]} @row{i}]"
                    else:
                        i = int(np.argmin(eq))
                        detail += f" [~{c}: {gv2[i]} vs {ev2[i]}]"
            else:
                eq = (gv == ev)
                if not eq.all():
                    exact = approx = False
                    i = int(np.argmin(eq))
                    detail += f" [{c}: spark={gv[i]!r} oracle={ev[i]!r} @row{i}]"
        tag = "EXACT" if exact else ("APPROX" if approx else "VALUE MISMATCH")
        results[name] = f"{tag} ({len(got)} rows, {t_spark:.1f}s){detail}"

    print("\n" + "=" * 70)
    ok = 0
    for name, r in results.items():
        status = "PASS " if r.startswith(("EXACT", "rows-only")) else ("WARN " if r.startswith("APPROX") else "FAIL ")
        ok += status == "PASS "
        print(f"{status} {name:24s} {r}")
    print(f"{ok}/{len(results)} exact-pass")


if __name__ == "__main__":
    main()
