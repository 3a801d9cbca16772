"""Spark-free correctness reference for the benchmark's classify jobs.

Expected output = DuckDB pass 1..3 (the DUCKDB rendering of the same
derive.py SQL, no Spark) followed, per cell, by the independent
straight-line scene transcription in scripts/independent_oracle.py
(none of operators/kernels.py). The output is reduced to a digest that
the Spark job computes in its terminal aggregate:

  per fmask_class: (row count, sum over rows of the first 60 bits of
  md5(url|fmask_class|cloud_id|cloud_height_du|base_temp_milli|sha))

Sums are order-insensitive, so the digest is independent of Spark's
partitioning, and one aggregate gives both the CLI's per-class counts
and the check.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os

import duckdb
import pandas as pd

from python_fmask_spark import oracle
from python_fmask_spark.dialect import DUCKDB

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the pass-3 columns the scene chain consumes (as in
# scripts/make_shadow_fixture.py, which builds the repository's fixture)
KERNEL_COLS = ("url, cell_id, r, c, sha256(text) AS text_sha256, nir, bt, "
               "nullmask, water_test, snow, cloud_raw, "
               "g_tlow, g_thigh, g_b4_17, sun_az, sun_zen, sat_az, sat_zen, "
               "sat_az_cdn, sat_zen_cdn")

# Spark SQL rendering of _row_hash; spark_digest is the terminal
# aggregate every benchmark job runs over its classify output.
ROW_HASH_SQL = """cast(conv(substr(md5(concat_ws('|', url,
    cast(fmask_class as string), cast(cloud_id as string),
    cast(cloud_height_du as string),
    CASE WHEN cloud_base_temp_c IS NULL OR isnan(cloud_base_temp_c)
         THEN 'n'
         ELSE cast(cast(floor(cloud_base_temp_c * 1000 + 0.5) as bigint)
                   as string) END,
    text_sha256)), 1, 15), 16, 10) as decimal(38, 0))"""


def spark_digest(out) -> dict[str, list[int]]:
    """Run the terminal aggregate over a classify output DataFrame."""
    from pyspark.sql import functions as F

    rows = (out.select("fmask_class", F.expr(ROW_HASH_SQL).alias("h"))
            .groupBy("fmask_class")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
            .collect())
    return {str(r["fmask_class"]): [int(r["n"]), int(r["s"])] for r in rows}


def _row_hash(url, cls, cid, hdu, btc, sha) -> int:
    bt = "n" if btc is None or math.isnan(btc) \
        else str(math.floor(btc * 1000 + 0.5))
    s = f"{url}|{cls}|{cid}|{hdu}|{bt}|{sha}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def frame_digest(df: pd.DataFrame) -> dict[str, list[int]]:
    """The digest of a classify-shaped pandas frame."""
    out: dict[str, list[int]] = {}
    for row in zip(df["url"], df["fmask_class"], df["cloud_id"],
                   df["cloud_height_du"], df["cloud_base_temp_c"],
                   df["text_sha256"]):
        d = out.setdefault(str(int(row[1])), [0, 0])
        d[0] += 1
        d[1] += _row_hash(*row)
    return out


def merge_digests(parts) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for part in parts:
        for k, (n, s) in part.items():
            d = out.setdefault(k, [0, 0])
            d[0] += n
            d[1] += s
    return out


def pass3_frame(input_dir: str) -> pd.DataFrame:
    """DuckDB pass 1..3 over ``input_dir/documents.parquet``."""
    con = duckdb.connect()
    path = os.path.join(input_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    ctes = oracle._ctes(DUCKDB, "pass3", angles=True)
    return con.execute(f"{ctes} SELECT {KERNEL_COLS} FROM pass3").df()


def classify_cells(p3: pd.DataFrame) -> list[pd.DataFrame]:
    """The independent transcription, one cell at a time."""
    spec = importlib.util.spec_from_file_location(
        "independent_oracle",
        os.path.join(REPO, "scripts", "independent_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return [mod.classify_scene_independent(pdf.reset_index(drop=True))
            for _, pdf in p3.groupby("cell_id", sort=True)]


def expected_digest(p3: pd.DataFrame) -> dict[str, list[int]]:
    return merge_digests(frame_digest(df) for df in classify_cells(p3))


def self_check(sf_dir: str) -> bool:
    """The reference must reproduce the repository's shadow-chain fixture
    (built from the same transcription at sf0.01) row for row."""
    want = pd.read_parquet(os.path.join(
        REPO, "tests", "fixtures", "shadow_oracle_final.parquet"))
    got = pd.concat(classify_cells(pass3_frame(sf_dir)), ignore_index=True)
    key = ["url"]
    want = want.sort_values(key).reset_index(drop=True)
    got = got[list(want.columns)].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=True)
    return frame_digest(got) == frame_digest(want)
