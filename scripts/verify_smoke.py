"""Verify-skill smoke: drive the driver contract from a fresh process.

Run from any cwd (catches sys.path assumptions):
    cd /tmp && python <checkout>/scripts/verify_smoke.py [query ...]
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

from python_fmask_spark.session import get_spark  # noqa: E402

spark = get_spark(long_lived=True)
print("entry rows:", len(mod.entry(spark).collect()))

con = duckdb.connect()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    p = f"/root/testdata/sf0.01/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

names = sys.argv[1:] or ["pass1_cell_counts"]
ok = True
for name in names:
    s = sorted(tuple(map(str, r))
               for r in mod.queries()[name](spark, "/root/testdata/sf0.01")
               .collect())
    d = sorted(tuple(map(str, r))
               for r in con.execute(mod.oracle_sql()[name]).fetchall())
    print(name, "match:", s == d)
    ok = ok and s == d
spark.stop()
sys.exit(0 if ok else 1)
