"""Local replica of the validation driver's cross-engine correctness gate.

Runs every ``queries()`` entry in ``__spark_entry__.py`` against its DuckDB
oracle on the same parquet tables and compares row count, column set, and a
sorted-column value hash — the same three checks the driver records in
CORRECTNESS_r{N}.json.  Use it to pre-flight new or changed queries before a
driver round instead of waiting for the round result.

Usage (from anywhere; workers get the repo on PYTHONPATH automatically):

    python tools/oracle_sweep.py                   # full registry at sf0.01
    python tools/oracle_sweep.py dd_exact q1_pricing_summary
    python tools/oracle_sweep.py --sf /root/testdata/sf0.001 --out /tmp/s.json

Exit status is non-zero if any checked query is red, so it can gate scripts.
The canonicalization mirrors the driver: columns sorted by name, integers
widened to int64, floats to float64, everything else stringified, rows
sorted, then an md5 over the cell reprs.  Oracle outputs must already be
driver-hash-safe dtypes (see CLAUDE.md; pinned by test_oracle_output_dtypes).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark's Python workers inherit the driver env: put the repo on PYTHONPATH
# BEFORE the session starts or mapInPandas kernels fail to import the package
# when launched from outside the repo root.
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_hash(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif not pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    h.update(("|".join(df.columns)).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="sf dir of parquet tables")
    ap.add_argument("--out", default="/tmp/oracle_sweep_results.json", help="results JSON path")
    ap.add_argument("--cores", type=int, default=16, help="local[N] parallelism")
    args = ap.parse_args()

    import duckdb
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .config("spark.driver.memory", "24g")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("oracle_sweep").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.names or list(queries)

    results = {}
    for name in names:
        try:
            sp = queries[name](spark, args.sf).toPandas()
            sql = oracles.get(name)
            if sql is None:
                results[name] = {"status": "no_oracle", "spark_rows": len(sp)}
                print(f"--  {name} no_oracle rows={len(sp)}", flush=True)
                continue
            od = con.execute(sql).fetchdf()
            rows = len(sp) == len(od)
            schema = sorted(sp.columns) == sorted(od.columns)
            value_hash = canon_hash(sp)
            hmatch = rows and schema and value_hash == canon_hash(od)
            results[name] = {"rows": rows, "schema": schema, "hash": hmatch,
                             "spark_rows": len(sp), "oracle_rows": len(od),
                             "value_hash": value_hash}
            print(("OK " if hmatch else "RED") + f" {name} {results[name]}", flush=True)
        except Exception as e:  # record and keep sweeping
            results[name] = {"status": "error", "err": f"{type(e).__name__}: {e}"}
            print(f"ERR {name} {type(e).__name__}: {e}", flush=True)
            traceback.print_exc()

    red = [k for k, v in results.items()
           if v.get("status") == "error"
           or (v.get("status") != "no_oracle"
               and not (v.get("rows") and v.get("schema") and v.get("hash")))]
    print(f"\n=== SUMMARY: {len(results)} checked, {len(red)} red: {red}", flush=True)
    json.dump(results, open(args.out, "w"), indent=1)
    spark.stop()
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
