"""Driver-mimic: run entry() smoke + full queries() vs oracle_sql() diff.

Usage:
    python tools/drive_entry.py [--json OUT.json] [QUERY ...]

With QUERY names given, only those are differentialed (fast re-check
after editing a verified querydef — VERDICT r6 item 2's
pre-differential discipline). ``--json`` writes driver-row-shaped
results ({rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}) so ``tools/update_ledger.py --file`` can fold a
LOCAL differential into the verification ledger: same oracle, same
sf0.01 tables, same order-insensitive sorted-column compare as the
driver's check (rows sorted by normalized cell tuples over
name-sorted columns).
"""
import math
import sys, time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def norm(v):
    """Normalize a cell the way the driver's pandas hash effectively
    does: nulls (None/NaN) unify, list-likes (Spark list vs duckdb
    numpy array) unify, integral floats drop the .0."""
    if hasattr(v, "tolist"):
        v = v.tolist()  # numpy scalar -> python scalar, ndarray -> list
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if v is None:
        return "NULL"
    try:
        import pandas as pd

        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float) and math.isinf(v):
        # int(inf) raises OverflowError; both engines print inf the
        # same way, so normalize textually (code-review r8)
        return "inf" if v > 0 else "-inf"
    if isinstance(v, float) and not math.isnan(v) and v == int(v):
        return str(int(v))
    return str(v)

import duckdb
from pyspark.sql import SparkSession

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF01 = "/root/testdata/sf0.01"

def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--json", help="write driver-row-shaped results here")
    ap.add_argument("--skip-entry", action="store_true")
    ap.add_argument("names", nargs="*", help="only differential these")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive-entry")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    if not args.skip_entry:
        rows = e.entry(spark).collect()
        print(f"entry(): {len(rows)} rows", flush=True)
        assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF01}/{t}.parquet')"
        )

    qs = e.queries()
    if args.names:
        unknown = [n for n in args.names if n not in qs]
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        qs = {n: qs[n] for n in args.names}
    oracles = e.oracle_sql()
    fails = []
    results = {}
    t_all = time.time()
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF01)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(norm(r[c]) for c in scols) for r in sdf.collect()
            )
            if name not in oracles:
                print(f"  rows-only {name}: {len(srows)} rows", flush=True)
                results[name] = {
                    "rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": len(srows),
                    "oracle_rows": None, "err": "no_oracle",
                }
                continue
            odf = con.execute(oracles[name]).df()
            ocols = sorted(odf.columns)
            orows = sorted(
                tuple(norm(odf[c].iloc[i]) for c in ocols) for i in range(len(odf))
            )
            ok_cols = scols == ocols
            ok_rows = len(srows) == len(orows)
            ok_vals = srows == orows
            results[name] = {
                "rows_match": ok_rows, "schema_match": ok_cols,
                "hash_match": ok_vals, "spark_rows": len(srows),
                "oracle_rows": len(orows), "err": None,
                "sec": round(time.time() - t0, 2),
            }
            if not (ok_cols and ok_rows and ok_vals):
                fails.append((name, ok_cols, ok_rows, ok_vals))
                print(f"  FAIL {name}: cols={ok_cols} rows={ok_rows} vals={ok_vals}", flush=True)
        except Exception as ex:
            fails.append((name, "err", str(ex)[:200]))
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": str(ex)[:200],
            }
            print(f"  ERR {name}: {str(ex)[:200]}", flush=True)
    print(f"checked {len(qs)} queries in {time.time()-t_all:.0f}s; fails: {len(fails)}")
    for f in fails:
        print("  ", f)
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
