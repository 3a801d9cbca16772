"""Drive the driver contract end-to-end: Spark queries vs DuckDB oracle.

Mimics the driver's pandas canonicalizer (sort columns by name, sort rows,
dtype-sensitive hash) so dtype divergence (e.g. DuckDB HUGEINT -> float64
vs Spark int64) is caught locally, not just value divergence.

Usage: python scripts/drive_contract.py [query_name ...]
"""

import importlib.util
import os
import sys

spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# sized to the machine like session.get_spark
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
spark = (SparkSession.builder.master(f"local[{CPUS}]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false").getOrCreate())
only = set(sys.argv[1:])
if not only:
    print("ENTRY rows:", len(mod.entry(spark).collect()))
con = duckdb.connect()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    p = f"{SF_DIR}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def hashable(df: pd.DataFrame):
    return pd.util.hash_pandas_object(df, index=False).sum()


qs, osql = mod.queries(), mod.oracle_sql()
n_ok = n_ro = n_fail = 0
for name in sorted(qs):
    if only and name not in only:
        continue
    try:
        sdf = canon(qs[name](spark, SF_DIR).toPandas())
        if name in osql:
            ddf = canon(con.execute(osql[name]).df())
            rows_ok = len(sdf) == len(ddf)
            schema_ok = list(sdf.columns) == list(ddf.columns)
            dtypes_ok = list(sdf.dtypes) == list(ddf.dtypes)
            hash_ok = (rows_ok and schema_ok
                       and hashable(sdf) == hashable(ddf))
            if rows_ok and schema_ok and hash_ok:
                n_ok += 1
                note = "" if dtypes_ok else " [dtype-width note]"
                print(f"OK   {name} ({len(sdf)} rows){note}")
            else:
                n_fail += 1
                print(f"FAIL {name}: rows={rows_ok} schema={schema_ok} "
                      f"dtypes={dtypes_ok} hash={hash_ok}")
                if not dtypes_ok:
                    for c in sdf.columns:
                        if sdf[c].dtype != ddf[c].dtype:
                            print(f"  dtype {c}: spark={sdf[c].dtype} "
                                  f"duckdb={ddf[c].dtype}")
                elif rows_ok and schema_ok:
                    neq = (sdf != ddf) & ~(sdf.isna() & ddf.isna())
                    bad = neq.any(axis=1)
                    print(f"  {int(bad.sum())} differing rows; first:")
                    print(sdf[bad].head(2))
                    print(ddf[bad].head(2))
        else:
            n_ro += 1
            print(f"ROWS {name} ({len(sdf)} rows, no oracle)")
    except Exception as e:  # noqa: BLE001
        n_fail += 1
        print(f"ERR  {name}: {str(e)[:300]}")
print(f"SUMMARY oracle-matched={n_ok} rows-only={n_ro} "
      f"failed={n_fail} total={len(qs)}")
spark.stop()
