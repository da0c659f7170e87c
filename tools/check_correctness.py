"""Local stand-in for the driver's t2 gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row-count + columns + values (sorted rows/cols, 9-sig-digit rounding).

Usage: python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from polars_ts_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _round_sig(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        if x == 0:
            return "0"
        return f"{x:.9g}"
    return x


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind in "fc":
            df[c] = df[c].map(_round_sig)
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: _round_sig(v) if isinstance(v, float) else v)
    df = df.astype(str)  # neutralize int32-vs-int64 etc. dtype mismatches
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs, os_ = queries(), oracle_sql()
    n_pass = n_fail = n_nooracle = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark: {e}"[:300]}
            n_fail += 1
            continue
        if name not in os_:
            print(f"skip  {name}: no oracle ({len(sdf)} rows)")
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(sdf),
                             "oracle_rows": None, "err": None}
            n_nooracle += 1
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(sdf),
                             "oracle_rows": None, "err": f"oracle: {e}"[:300]}
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        rec = {"rows_match": len(a) == len(b),
               "schema_match": list(a.columns) == list(b.columns),
               "hash_match": False,
               "spark_rows": len(a), "oracle_rows": len(b), "err": None}
        results[name] = rec
        if not rec["schema_match"]:
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        if not rec["rows_match"]:
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            diff_rows = a[neq].head(3)
            diff_rows_o = b[neq].head(3)
            print(f"FAIL  {name}: value mismatch on {int(neq.sum())}/{len(a)} rows")
            print("  spark:", diff_rows.to_dict("records"))
            print("  oracle:", diff_rows_o.to_dict("records"))
            n_fail += 1
            continue
        rec["hash_match"] = True
        print(f"pass  {name} ({len(a)} rows)")
        n_pass += 1
    if not only:  # full runs snapshot the per-query outcome for the repo
        import json
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "CORRECTNESS_LOCAL.json")
        with open(out, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
        print(f"wrote {out}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_nooracle} oracle-less")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
