"""S3/S4 sinks: writeTo surface, partitioning, thematic metadata
(color table + class-name RAT; fmask/fmask.py:1338-1351)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrameWriterV2

from python_fmask_spark.plans import sinks


def _mask_df(spark):
    rows = [("u%03d" % i, "cellA" if i % 2 else "cellB", i // 8, i % 8,
             i % 6) for i in range(64)]
    return spark.createDataFrame(
        rows, "url string, cell_id string, r int, c int, fmask_class int")


def test_write_mask_roundtrip_with_metadata(spark):
    df = _mask_df(spark)
    try:
        used = sinks.write_mask(df, "test_mask_sink")
        assert used in ("iceberg", "parquet")
        back = spark.table("test_mask_sink")
        assert back.count() == 64
        assert set(back.columns) == set(df.columns)
        meta = sinks.read_mask_metadata(spark, "test_mask_sink")
        assert meta["class_names"] == sinks.CLASS_NAMES
        assert meta["color_table"] == [list(r) for r in sinks.COLOR_TABLE]

        rat = spark.table("test_mask_sink_rat").collect()
        by_val = {r.class_value: r for r in rat}
        assert len(by_val) == 6
        assert by_val[2].class_name == "Cloud"
        assert (by_val[2].red, by_val[2].green, by_val[2].blue) == (255, 0, 255)
        assert by_val[5].class_name == "Water"
        assert by_val[0].red is None  # Null class has no color entry

        # the RAT joins onto the mask (the thematic lookup the reference
        # bakes into the raster sidecar)
        joined = back.join(spark.table("test_mask_sink_rat"),
                           back.fmask_class ==
                           spark.table("test_mask_sink_rat").class_value)
        assert joined.count() == 64
    finally:
        spark.sql("DROP TABLE IF EXISTS test_mask_sink")
        spark.sql("DROP TABLE IF EXISTS test_mask_sink_rat")


def test_write_mask_partitioned_by_cell(spark):
    df = _mask_df(spark)
    try:
        sinks.write_mask(df, "test_mask_sink_p")
        parts = spark.sql("SHOW PARTITIONS test_mask_sink_p").collect()
        assert {p[0] for p in parts} == {"cell_id=cellA", "cell_id=cellB"}
    finally:
        spark.sql("DROP TABLE IF EXISTS test_mask_sink_p")
        spark.sql("DROP TABLE IF EXISTS test_mask_sink_p_rat")


def test_provider_check_matches_the_session(spark):
    """The tier-1 session has the parquet source and no Iceberg."""
    assert sinks.provider_resolves(spark, "parquet")
    assert not sinks.provider_resolves(spark, "iceberg")


def _write_warned(spark, name: str) -> tuple[str, str]:
    """write_mask's return value and the text of its one warning."""
    try:
        with pytest.warns(RuntimeWarning) as warned:
            used = sinks.write_mask(_mask_df(spark), name)
        assert spark.table(name).count() == 64
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_rat")
    (w,) = warned
    return used, str(w.message)


def test_no_iceberg_goes_straight_to_parquet(spark, monkeypatch):
    """Without Iceberg the sink plans no Iceberg write at all; the
    fallback's warning and return value are unchanged."""
    attempts = []
    writer = DataFrameWriterV2.using

    def using(self, provider):
        attempts.append(provider)
        return writer(self, provider)

    monkeypatch.setattr(DataFrameWriterV2, "using", using)
    used, msg = _write_warned(spark, "test_mask_sink_noice")
    assert used == "parquet" and attempts == ["parquet", "parquet"]
    assert msg.startswith("write_mask: provider 'iceberg' unavailable in "
                          "this session (")
    assert msg.endswith("downgrading to the session catalog's parquet "
                        "provider")


def test_resolving_iceberg_keeps_the_attempt(spark, monkeypatch):
    """When the check says the session has Iceberg, the sink tries it
    and falls back through is_provider_missing as before the check."""
    monkeypatch.setattr(sinks, "provider_resolves", lambda spark, p: True)
    used, msg = _write_warned(spark, "test_mask_sink_ice")
    assert used == "parquet"
    # the warning carries Spark's own lookup error, not the check's
    assert "failed to find" in msg.lower() and "iceberg" in msg.lower()
    assert "no data source resolves" not in msg
