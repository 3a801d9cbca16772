"""Sentinel-2 metadata sources (S7/S8): XML parsing, offset derivation,
the mandatory-offset gate, and the offsets reaching the SQL derivation.
Reference semantics: fmask/sen2meta.py:37-241, fmask/fmask.py:137-149,
fmask/cmdline/sentinel2Stacked.py:318-341."""

from __future__ import annotations

import dataclasses
import pathlib

import numpy as np
import pytest

from python_fmask_spark import derive, sen2meta

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"
TILE_XML = str(FIXTURES / "MTD_TL_fixture.xml")
PROD_XML = str(FIXTURES / "MTD_MSIL1C_fixture.xml")


def test_tile_meta_fields():
    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    assert m.tile_id == "T55JFM"
    assert m.sat_id == "S2A"
    assert m.proc_level == "L1C"
    assert m.epsg == "32755"
    assert m.datetime.year == 2024 and m.datetime.month == 1
    assert m.dims_by_res["10"] == (10980, 10980)
    assert m.dims_by_res["60"] == (1830, 1830)
    assert m.ulxy_by_res["20"] == (600000.0, 6500020.0)
    assert m.angle_grid_xres == 5000.0
    assert m.sun_zenith_grid.shape == (3, 3)
    assert m.sun_azimuth_grid[0, 0] == np.float32(60.1)
    # angle-grid origin estimate (fmask/sen2meta.py:113-117)
    assert m.angles_ulxy == (600000.0 - 2500.0, 6500020.0 + 2500.0)


def test_tile_meta_view_angle_detector_merge():
    """Two detector strips with complementary NaN masks merge into one
    grid (fmask/sen2meta.py:133-152)."""
    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    vz = m.view_zenith["0"]
    assert not np.isnan(vz).any()
    assert vz[0, 0] == np.float32(5.1)    # detector 1
    assert vz[0, 2] == np.float32(6.1)    # detector 2 fills the NaN hole
    va = m.view_azimuth["0"]
    assert va[2, 2] == np.float32(101.3)


def test_tile_meta_utm_and_centre():
    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    assert m.get_utm_zone() == 55
    ctr_x, ctr_y = m.get_ctr_xy()
    assert ctr_x == 600000 + 5490 * 10
    lon, lat = m.get_ctr_long_lat()
    # zone 55S central meridian is 147E; tile sits east of it, southern
    # hemisphere mid-latitudes (northing 6.44M => lat ~ -32)
    assert 147.0 < lon < 150.0
    assert -34.0 < lat < -30.0


def test_zipfile_meta_and_offsets():
    m = sen2meta.Sen2ZipfileMeta.from_file(PROD_XML)
    assert m.scale_val == 10000.0
    assert m.nodata_val == 0
    assert m.saturated_val == 65535
    assert m.baseline_version == "05.00"
    assert m.offset_val_dict["B02"] == -1000
    offs = sen2meta.make_ref_offset_dict(m)
    assert offs["blue"] == -1000 and offs["cirrus"] == -1000
    assert set(offs) >= {"blue", "green", "red", "nir", "swir1",
                         "swir2", "cirrus"}


def test_pre_0400_product_defaults_to_zero_offsets():
    with open(PROD_XML) as f:
        xml = f.read()
    # strip the offset list -> pre-04.00 product -> implicit zeros
    start = xml.index("<Radiometric_Offset_List>")
    stop = xml.index("</Radiometric_Offset_List>") + \
        len("</Radiometric_Offset_List>")
    m = sen2meta.Sen2ZipfileMeta.from_string(xml[:start] + xml[stop:])
    assert all(v == 0 for v in m.offset_val_dict.values())


def test_mandatory_offset_gate():
    """SENTINEL2 derivation refuses to render without explicit offsets
    (fmask/fmask.py:137-149)."""
    with pytest.raises(sen2meta.Sen2MetaError):
        derive.pass1_sql("spark", sensor="SENTINEL2")
    # Landsat needs no offsets
    derive.pass1_sql("spark", sensor="LANDSAT8")


def test_offsets_reach_the_sql():
    sql = derive.pass1_sql("spark", sensor="SENTINEL2",
                           s2_offsets={"blue": -1000})
    assert "cast(blue as double) + -1000" in sql
    sql0 = derive.pass1_sql(
        "spark", sensor="SENTINEL2",
        s2_offsets={b: 0 for b in ("blue", "green", "red")})
    assert "+ -1000" not in sql0


def test_angle_grid_df(spark):
    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    df = sen2meta.angle_grid_df(spark, m)
    rows = {(r.grid_r, r.grid_c): r for r in df.collect()}
    assert len(rows) == 9
    assert rows[(0, 0)].sun_zen_deg == pytest.approx(30.1, abs=1e-5)
    assert rows[(0, 2)].view_zen_deg == pytest.approx(6.1, abs=1e-5)


# ---------------------------------------------------------------------------
# Grid -> pixel bilinear angle lookup (S7 wired end-to-end;
# sentinel2makeAnglesImage.py:95-123)
# ---------------------------------------------------------------------------


def _grid_angle_frames(spark, sf_dir="/root/testdata/sf0.001"):
    import duckdb

    from python_fmask_spark.functions.angles import q_sat_angles_grid
    from python_fmask_spark.sources import register_views

    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    register_views(spark, sf_dir)
    srows = spark.sql(q_sat_angles_grid("spark", m)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    drows = con.execute(q_sat_angles_grid("duckdb", m)).df()
    return srows, drows


def test_grid_angles_dialect_parity(spark):
    """The grid-angle SQL (identical op tree over the inlined XML
    VALUES) agrees bit-for-bit between Spark and DuckDB."""
    srows, drows = _grid_angle_frames(spark)
    mrg = srows.merge(drows, on=["url", "cell_id", "r", "c"],
                      suffixes=("_s", "_d"))
    assert len(mrg) == len(srows) > 0
    for col in ("sun_az_nano", "sun_zen_nano", "sat_az_nano",
                "sat_zen_nano", "sat_az_cdn", "sat_zen_cdn",
                "sun_az_cdn", "sun_zen_cdn"):
        assert (mrg[f"{col}_s"] == mrg[f"{col}_d"]).all(), col


def test_grid_angles_vs_numpy_bilinear(spark):
    """Cross-check the SQL bilinear against a straight NumPy replay of
    the reference's grid interpolation (makeAnglesImage,
    sentinel2makeAnglesImage.py:95-123) at the same sample points."""
    import pandas as pd

    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    srows, _ = _grid_angle_frames(spark)
    sz, sa = m.sun_zenith_grid, m.sun_azimuth_grid
    vz, va = sen2meta._mean_view_grids(m)
    gh, gw = sz.shape

    # re-derive each cell's anchor exactly as the SQL does
    import hashlib

    def anchor(cell_id):
        h = hashlib.md5(cell_id.encode()).hexdigest()
        ay = int(h[20:26], 16) % ((gh - 1) * 1000)
        ax = int(h[26:32], 16) % ((gw - 1) * 1000)
        return min(ay / 1000.0, gh - 1 - 1e-9), \
            min(ax / 1000.0, gw - 1 - 1e-9)

    def bilin(grid, gy, gx):
        i, j = int(np.floor(gy)), int(np.floor(gx))
        fy, fx = gy - i, gx - j
        return (grid[i, j] * (1 - fy) * (1 - fx)
                + grid[i, j + 1] * (1 - fy) * fx
                + grid[i + 1, j] * fy * (1 - fx)
                + grid[i + 1, j + 1] * fy * fx)

    from python_fmask_spark import constants as C
    from python_fmask_spark.sen2meta import ANGLE_GRID_RES_M

    for row in srows.sample(n=50, random_state=7).itertuples():
        cgy, cgx = anchor(row.cell_id)
        assert row.sun_az_nano == round(
            np.radians(bilin(sa, cgy, cgx)) * 1e9)
        assert row.sat_zen_nano == round(
            np.radians(bilin(vz, cgy, cgx)) * 1e9)
        gy = min(cgy + (row.r + 0.5) * C.Y_RES / ANGLE_GRID_RES_M,
                 gh - 1 - 1e-9)
        gx = min(cgx + (row.c + 0.5) * C.X_RES / ANGLE_GRID_RES_M,
                 gw - 1 - 1e-9)
        assert row.sat_az_cdn == round(np.radians(bilin(va, gy, gx)) * 100)
        assert row.sun_zen_cdn == round(np.radians(bilin(sz, gy, gx)) * 100)


def test_tile_meta_reaches_classify(spark):
    """classify(tile_meta=...) consumes the XML-grid angles: the
    pass-1 leaf's angle columns match the grid lookup, and differ from
    the synthetic swathe's."""
    from python_fmask_spark import pipeline
    from python_fmask_spark.oracle import S2_ZERO_OFFSETS
    from python_fmask_spark.sources import register_views

    m = sen2meta.Sen2TileMeta.from_file(TILE_XML)
    register_views(spark, "/root/testdata/sf0.001")
    vg = pipeline.materialize_pass1(spark, sensor="SENTINEL2",
                                    s2_offsets=S2_ZERO_OFFSETS,
                                    tile_meta=m)
    vs = pipeline.materialize_pass1(spark, sensor="SENTINEL2",
                                    s2_offsets=S2_ZERO_OFFSETS)
    assert vg != vs  # separate session-cache leaves
    grid = spark.sql(f"SELECT url, sat_az_cdn FROM {vg}").toPandas()
    syn = spark.sql(f"SELECT url, sat_az_cdn FROM {vs}").toPandas()
    mrg = grid.merge(syn, on="url", suffixes=("_g", "_s"))
    assert (mrg.sat_az_cdn_g != mrg.sat_az_cdn_s).any()
    # a second granule in the same session (sun zenith grid shifted)
    # gets its own leaf, never the first granule's angles
    m2 = dataclasses.replace(m, sun_zenith_grid=m.sun_zenith_grid + 4.0)
    vg2 = pipeline.materialize_pass1(spark, sensor="SENTINEL2",
                                     s2_offsets=S2_ZERO_OFFSETS,
                                     tile_meta=m2)
    assert vg2 != vg
    zen = spark.sql(f"""SELECT a.sun_zen AS z1, b.sun_zen AS z2
                        FROM {vg} a JOIN {vg2} b USING (url)""").toPandas()
    assert len(zen) and (zen.z1 != zen.z2).all()
    # full chain runs under the grid leaf and returns every pixel
    out = pipeline.classify(spark, sensor="SENTINEL2",
                            s2_offsets=S2_ZERO_OFFSETS, tile_meta=m)
    assert out.count() == spark.table(vg).count()
