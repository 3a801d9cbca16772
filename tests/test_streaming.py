"""Structured Streaming ingest: micro-batch pass-1 counts equal the
batch result on the same data."""

from __future__ import annotations

import shutil
import tempfile

from python_fmask_spark import oracle
from python_fmask_spark.dialect import SPARK
from python_fmask_spark.sources import register_views
from python_fmask_spark.streaming import ingest


def test_stream_pass1_equals_batch(spark, sf_small):
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(f"{sf_small}/documents.parquet", f"{d}/part1.parquet")
        counts = ingest.pass1_stream_counts(spark, d, window="24 hours")
        ingest.run_available_now(counts, "p1stream")
        got = {(r.cell_id, r.n_docs, r.n_pcp, r.n_water, r.n_snow)
               for r in spark.sql("SELECT * FROM p1stream").collect()}

    register_views(spark, sf_small)
    batch = spark.sql(oracle.q_pass1_cell_counts(SPARK)).collect()
    want = {(r.cell_id, r.n_docs, r.n_pcp, r.n_water, r.n_snow)
            for r in batch}
    assert got == want


def _write_batches(d, src_pdf, batches):
    """Write per-batch parquet files with mtimes forcing batch order."""
    import os
    import time

    now = time.time()
    for i, pdf in enumerate(batches):
        p = f"{d}/part{i}.parquet"
        pdf.to_parquet(p, index=False)
        os.utime(p, (now - 60 * (len(batches) - i), ) * 2)


def test_stream_dedup_first_suppresses_duplicates(spark, sf_small):
    """Two micro-batches, the second a full duplicate corpus under new
    doc_ids (different urls, later timestamps, same texts): per-digest
    state must swallow every batch-2 row (n_emits == 1)."""
    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        src = pd.read_parquet(f"{sf_small}/documents.parquet").head(20)
        dup = src.copy()
        dup["doc_id"] = dup["doc_id"] + 1_000_000
        _write_batches(d, src, [src, dup])
        out = ingest.stream_dedup_first(spark, d, max_files_per_trigger=1)
        ingest.run_available_now(out, "t_dedup_nottl", output_mode="update")
        rows = spark.sql(
            "SELECT digest, count(*) AS n FROM t_dedup_nottl "
            "GROUP BY digest").collect()
    assert len(rows) == 20
    assert all(r.n == 1 for r in rows)


def test_stream_dedup_ttl_readmits_expired_digest(spark, sf_small):
    """state_ttl_sec ages digest state out in EVENT time: a duplicate
    arriving more than the TTL after the retained first occurrence is
    re-admitted as a fresh first sighting (n_emits == 2, with the LATER
    timestamp the second time), while inside the TTL it stays
    suppressed — and the available-now query terminates (the reason the
    operator uses EventTimeTimeout, not ProcessingTimeTimeout)."""
    import pandas as pd

    # warc_ts = 2024-01-01 + doc_id seconds, so a doc_id shift IS an
    # event-time shift: +1_000_000 s ≈ 11.6 days >> ttl 3600 s
    with tempfile.TemporaryDirectory() as d:
        src = pd.read_parquet(f"{sf_small}/documents.parquet").head(10)
        dup = src.copy()
        dup["doc_id"] = dup["doc_id"] + 1_000_000
        _write_batches(d, src, [src, dup])
        out = ingest.stream_dedup_first(spark, d, max_files_per_trigger=1,
                                        state_ttl_sec=3600)
        ingest.run_available_now(out, "t_dedup_ttl", output_mode="update")
        rows = spark.sql(
            "SELECT digest, count(*) AS n, max(warc_ts) AS last_ts, "
            "min(warc_ts) AS first_ts FROM t_dedup_ttl "
            "GROUP BY digest").collect()
    assert len(rows) == 10
    # every digest re-admitted once, with the later (expired-era) ts
    assert all(r.n == 2 for r in rows), [(r.digest, r.n) for r in rows]
    assert all((r.last_ts - r.first_ts).total_seconds() == 1_000_000
               for r in rows)


def test_stream_dedup_ttl_inside_window_still_suppresses(spark, sf_small):
    """Duplicates whose event-time gap is INSIDE the TTL stay
    suppressed in TTL mode (the ageing must not break the core
    dedup contract)."""
    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        src = pd.read_parquet(f"{sf_small}/documents.parquet").head(10)
        dup = src.copy()
        dup["doc_id"] = dup["doc_id"] + 600  # +600 s < ttl 3600 s
        _write_batches(d, src, [src, dup])
        out = ingest.stream_dedup_first(spark, d, max_files_per_trigger=1,
                                        state_ttl_sec=3600)
        ingest.run_available_now(out, "t_dedup_ttl2", output_mode="update")
        rows = spark.sql(
            "SELECT digest, count(*) AS n FROM t_dedup_ttl2 "
            "GROUP BY digest").collect()
    assert len(rows) == 10
    assert all(r.n == 1 for r in rows)


def test_stream_dedup_ttl_epoch_scan_is_batch_slicing_independent(
        spark, sf_small):
    """An in-TTL duplicate landing in the SAME micro-batch as a
    beyond-TTL occurrence must not swallow the re-admission: the epoch
    scan evaluates every occurrence against the retained first
    occurrence, so the emitted rows match the separate-batches case
    (code-review r5 finding: the old batch-min-only check made output
    depend on trigger slicing)."""
    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        src = pd.read_parquet(f"{sf_small}/documents.parquet").head(10)
        dup_in = src.copy()
        dup_in["doc_id"] = dup_in["doc_id"] + 600       # inside ttl
        dup_out = src.copy()
        dup_out["doc_id"] = dup_out["doc_id"] + 1_000_000  # beyond ttl
        # batch 1 = originals; batch 2 = BOTH duplicates together
        _write_batches(d, src, [src, pd.concat([dup_in, dup_out])])
        out = ingest.stream_dedup_first(spark, d, max_files_per_trigger=1,
                                        state_ttl_sec=3600)
        ingest.run_available_now(out, "t_dedup_ttl3", output_mode="update")
        rows = spark.sql(
            "SELECT digest, count(*) AS n, max(warc_ts) AS last_ts, "
            "min(warc_ts) AS first_ts FROM t_dedup_ttl3 "
            "GROUP BY digest").collect()
    assert len(rows) == 10
    # original emit + the beyond-TTL epoch emit; the in-TTL duplicate
    # stays suppressed even though it shared the batch
    assert all(r.n == 2 for r in rows), [(r.digest, r.n) for r in rows]
    assert all((r.last_ts - r.first_ts).total_seconds() == 1_000_000
               for r in rows)


def test_no_per_row_python_in_package():
    """The input-hint contract is vectorized pandas/Arrow UDFs
    throughout — no itertuples/iterrows row loops anywhere in the
    package (ADVICE r4 / VERDICT r4 ask #6)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "python_fmask_spark"
    hits = []
    for p in root.rglob("*.py"):
        text = p.read_text()
        for pat in ("itertuples", "iterrows"):
            if pat in text:
                hits.append((str(p), pat))
    assert not hits, hits
