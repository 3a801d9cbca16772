"""S3/S4 sinks: writeTo surface, partitioning, thematic metadata
(color table + class-name RAT; fmask/fmask.py:1338-1351)."""

from __future__ import annotations

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
