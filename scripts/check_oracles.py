#!/usr/bin/env python3
"""Local replica of the driver's correctness harness: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf, compare
row-count + schema-ish + order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon_pdf(pdf):
    """Replicate the driver's canonicalizer: column-sort, pandas
    sort_values over ALL columns (this is what raises `unhashable type:
    'list'` on array cells — faithfully reproduced, do NOT pre-stringify),
    then raw str() per cell with NO float normalization (np.float64 3.0
    renders '3.0' while int 3 renders '3' — a real driver mismatch class
    that a %.6g normalizer would mask; see VERDICT r01 sessionize_events).

    Float COLUMNS are rounded to 6 decimals first — inferred from the
    driver's observed behavior: ann cos values diverging at the 8th
    decimal (float32 DuckDB vs float64 Spark) hash-MATCHED in r01, while
    int64-vs-float64 3 vs 3.0 MISmatched, so the driver normalizes float
    values but not float-vs-int dtypes."""
    import numpy as np

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(6)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
        pdf = pdf.reset_index(drop=True)
    return pdf


def table_hash(pdf):
    pdf = canon_pdf(pdf)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update("|".join(str(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from pdfminer_six_spark.spark.session import build_session

    # the workers import the package too (every Python UDF): give them
    # the repo root as well, whatever the cwd and PYTHONPATH
    spark = build_session(
        app_name="oracle-check", master="local[8]",
        extra_conf={"spark.executorEnv.PYTHONPATH": ROOT},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            # rows-only queries still pass through the driver's
            # canonicalizer (it row-counts via sort+hash), so array-typed
            # columns crash even without an oracle — reproduce that
            try:
                table_hash(spdf)
            except Exception as e:
                print(f"FAIL  {name}: canonicalizer crash "
                      f"{type(e).__name__}: {e}")
                n_fail += 1
                continue
            print(f"rows  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            opdf = rel.df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {e}")
            n_fail += 1
            continue
        ok_count = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        try:
            ok_hash = table_hash(spdf) == table_hash(opdf)
        except Exception as e:
            print(f"FAIL  {name}: canonicalizer crash {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if ok_count and ok_cols and ok_hash:
            print(f"PASS  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: rows {len(spdf)}/{len(opdf)} cols_ok={ok_cols}"
                f" hash_ok={ok_hash}"
            )
            if not ok_cols:
                print(f"      spark cols: {sorted(spdf.columns)}")
                print(f"      duck  cols: {sorted(opdf.columns)}")
            else:
                sc = canon_pdf(spdf)
                oc = canon_pdf(opdf)
                sset = {
                    "|".join(str(v) for v in r)
                    for r in sc.itertuples(index=False)
                }
                oset = {
                    "|".join(str(v) for v in r)
                    for r in oc.itertuples(index=False)
                }
                print("      only-spark:", sorted(sset - oset)[:3])
                print("      only-duck :", sorted(oset - sset)[:3])
            n_fail += 1
    print(f"\npass={n_pass} fail={n_fail} rows_only={n_rowsonly}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
