"""End-to-end pipeline invariants (BASELINE.json north rule):

1. byte-identical carried text per url through the full classify
2. partitioning invariance: identical output at different parallelism /
   shuffle-partition settings (the two-cluster-size determinism claim)
3. every pixel gets exactly one class; nulls stay null after buffering
   (maskAndBuffer contract, fmask/fmask.py:1363-1368)
"""

from __future__ import annotations

import hashlib

from python_fmask_spark import pipeline
from python_fmask_spark.sources import load_table, register_views


def _classify_rows(spark, sf_dir):
    register_views(spark, sf_dir)
    return pipeline.classify(spark).collect()


def test_text_byte_identity(spark, sf_small):
    rows = _classify_rows(spark, sf_small)
    out_sha = {r.url: r.text_sha256 for r in rows}
    docs = load_table(spark, sf_small, "documents").collect()
    in_sha = {}
    for d in docs:
        url = f"https://{d.source}.example/p/{d.doc_id}"
        in_sha[url] = hashlib.sha256(d.text.encode()).hexdigest()
    assert out_sha == in_sha


def test_partitioning_invariance(spark, sf_small):
    rows_a = {tuple(r) for r in _classify_rows(spark, sf_small)}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows_b = {tuple(r) for r in _classify_rows(spark, sf_small)}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows_a == rows_b


def test_one_class_per_pixel_and_null_reset(spark, sf_small):
    register_views(spark, sf_small)
    out = pipeline.classify(spark)
    rows = out.collect()
    assert all(0 <= r.fmask_class <= 5 for r in rows)
    # nulls: exactly the docs the oracle derivation marks null
    # (any band == nodata 0, incl. jitter-produced zeros;
    # fmask/fmask.py:349-357)
    import duckdb

    from python_fmask_spark import oracle as osql
    from python_fmask_spark.dialect import DUCKDB
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_small}/documents.parquet')")
    null_urls = {r[0] for r in con.execute(
        "SELECT url FROM (" + osql.q_fmask_interim_class(DUCKDB) +
        ") WHERE fmask_class = 0").fetchall()}
    got_null = {r.url for r in rows if r.fmask_class == 0}
    assert got_null == null_urls
