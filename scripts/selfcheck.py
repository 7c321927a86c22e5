"""Run every queries() entry and diff against its oracle_sql() via DuckDB —
the same comparison the grading driver makes (row count + schema + order-
insensitive value hash), plus a numeric max-abs-diff report so float
drift is visible before it becomes a hash mismatch. A ``warmup`` line (one
trivial Spark job) prints first, so per-query times exclude executor
start-up.

Usage: python scripts/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    sort_cols = list(pdf.columns)
    return pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.md5()
    for c in pdf.columns:
        col = pdf[c]
        if np.issubdtype(col.dtype, np.floating):
            h.update(np.round(col.to_numpy(), 9).tobytes())
        else:
            h.update(str(col.tolist()).encode())
    return h.hexdigest()


def main():
    import duckdb
    import __spark_entry__ as E
    from mdbloom.spark.session import get_spark

    spark = get_spark("selfcheck", master="local[8]", shuffle_partitions=8)
    # one trivial job first: executor start-up lands here, not in the
    # first query's time
    t0 = time.monotonic()
    spark.range(1).count()
    print(f"warmup: {time.monotonic() - t0:.1f}s")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs, osql = E.queries(), E.oracle_sql()
    # every query carries an oracle and vice versa — a one-sided add is a
    # contract bug, not a weaker rows-only check
    assert set(qs) == set(osql), (
        f"queries()/oracle_sql() key drift: only in queries: "
        f"{sorted(set(qs) - set(osql))}; only in oracles: "
        f"{sorted(set(osql) - set(qs))}")
    failures = []
    for name, fn in sorted(qs.items()):
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            failures.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in osql:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {dt:.1f}s)")
            continue
        try:
            odf = con.sql(osql[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {ex}")
            failures.append(name)
            continue
        s, o = norm_frame(sdf), norm_frame(odf)
        problems = []
        if list(s.columns) != list(o.columns):
            problems.append(f"columns {list(s.columns)} vs {list(o.columns)}")
        if len(s) != len(o):
            problems.append(f"rows {len(s)} vs {len(o)}")
        if not problems:
            max_diff = 0.0
            for c in s.columns:
                if np.issubdtype(s[c].dtype, np.floating):
                    d = np.nanmax(np.abs(s[c].to_numpy()
                                         - o[c].to_numpy())) if len(s) else 0
                    max_diff = max(max_diff, float(d))
                elif not s[c].equals(o[c]):
                    problems.append(f"column {c} values differ")
            hs, ho = value_hash(s), value_hash(o)
            if hs != ho:
                problems.append(f"value-hash mismatch (max float diff "
                                f"{max_diff:.2e})")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(s)} rows match oracle ({dt:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries consistent with oracles")


if __name__ == "__main__":
    main()
