"""Mirror of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row counts and
order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod


def _duck_con(sf_dir: str):
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _row_set(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_oracle, name):
    q = entrymod.queries()[name]
    sdf = q(spark, sf_oracle)
    spark_rows = sdf.collect()
    spark_cols = [c.lower() for c in sdf.columns]

    osql = entrymod.oracle_sql().get(name)
    if osql is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    con = _duck_con(sf_oracle)
    res = con.execute(osql)
    duck_cols = [c[0].lower() for c in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")
    s = _row_set([tuple(r) for r in spark_rows], spark_cols)
    d = _row_set(duck_rows, duck_cols)
    if s != d:
        diff = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns
