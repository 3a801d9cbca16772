"""Sentinel-2 metadata sources (S7/S8 in SURVEY §2.1).

Driver-side stdlib-XML parsers for the two ESA metadata files the
reference consumes (fmask/sen2meta.py:37-152 ``Sen2TileMeta``,
:198-241 ``Sen2ZipfileMeta``), re-expressed Spark-first:

* parsing happens on the driver (the XMLs are a few hundred KB — never
  worth a distributed read);
* the per-tile angle grids become a small DataFrame
  (``angle_grid_df``) broadcast-joinable onto the pixel table;
* the product-level radiometric offsets become the ``ref_offsets``
  dict that parameterizes the SENTINEL2 SQL derivation
  (ref = (dn + offset) / scale, fmask/fmask.py:502-543), with the
  mandatory-offset enforcement of fmask/fmask.py:137-149: the S2
  dispatch refuses to run without an explicit offset dict (ESA
  processing baseline 04.00 broke implicit scaling in Nov 2021).

No osgeo dependency: the scene-centre lat/lon uses a standard
UTM-inverse series (Snyder 1987 eqs 8-17..8-25) instead of OSR.
"""

from __future__ import annotations

import datetime
import math
from dataclasses import dataclass, field
from xml.etree import ElementTree

import numpy as np

# ESA bandId index -> band name (fmask/sen2meta.py:191-195; 'B08A' kept
# zero-padded so names sort in bandId order).
NAME_FROM_BAND_ID = ["B01", "B02", "B03", "B04", "B05", "B06", "B07",
                     "B08", "B08A", "B09", "B10", "B11", "B12"]

# engine band column -> S2 band name (the correspondence table of
# fmask/cmdline/sentinel2Stacked.py:318-341 makeRefOffsetDict).
ENGINE_BAND_TO_S2 = {
    "blue": "B02", "green": "B03", "red": "B04", "nir": "B08",
    "swir1": "B11", "swir2": "B12", "cirrus": "B10",
    "nir8a": "B08A", "nir7": "B07", "watervapour": "B09",
}


class Sen2MetaError(ValueError):
    pass


def _ns(root) -> dict[str, str]:
    prefix = root.tag[: root.tag.index("}") + 1]
    return {"n1": prefix[1:-1]}


def _value_array(values_list_node) -> np.ndarray:
    """<Values_List> -> 2-d float32 array (fmask/sen2meta.py:119-131);
    'NaN' entries parse to nan like the reference's numpy.float32()."""
    rows = [[np.float32(x) for x in v.text.strip().split()]
            for v in values_list_node.findall("VALUES")]
    return np.array(rows)


@dataclass
class Sen2TileMeta:
    """Tile (granule) metadata: sensing time, EPSG, per-resolution grid
    geometry, sun/view angle grids (fmask/sen2meta.py:37-117)."""

    datetime: datetime.datetime
    tile_id: str
    sat_id: str
    proc_level: str
    epsg: str
    dims_by_res: dict[str, tuple[int, int]]
    ulxy_by_res: dict[str, tuple[float, float]]
    angle_grid_xres: float
    angle_grid_yres: float
    sun_zenith_grid: np.ndarray
    sun_azimuth_grid: np.ndarray
    view_zenith: dict[str, np.ndarray] = field(default_factory=dict)
    view_azimuth: dict[str, np.ndarray] = field(default_factory=dict)
    angles_ulxy: tuple[float, float] = (0.0, 0.0)

    @classmethod
    def from_string(cls, xml_str: str) -> "Sen2TileMeta":
        root = ElementTree.fromstring(xml_str)
        ns = _ns(root)
        gen = root.find("n1:General_Info", ns)
        sensing = gen.find("SENSING_TIME").text.strip()
        dt = datetime.datetime.strptime(sensing, "%Y-%m-%dT%H:%M:%S.%fZ")
        tile_full = gen.find("TILE_ID").text.strip()
        geom = root.find("n1:Geometric_Info", ns)
        geocoding = geom.find("Tile_Geocoding")
        epsg = geocoding.find("HORIZONTAL_CS_CODE").text.split(":")[1]
        dims = {s.attrib["resolution"]:
                (int(s.find("NROWS").text), int(s.find("NCOLS").text))
                for s in geocoding.findall("Size")}
        ulxy = {p.attrib["resolution"]:
                (float(p.find("ULX").text), float(p.find("ULY").text))
                for p in geocoding.findall("Geoposition")}
        tile_angles = geom.find("Tile_Angles")
        sun_zen_node = tile_angles.find("Sun_Angles_Grid").find("Zenith")
        xres = float(sun_zen_node.find("COL_STEP").text)
        yres = float(sun_zen_node.find("ROW_STEP").text)
        sun_zen = _value_array(sun_zen_node.find("Values_List"))
        sun_az = _value_array(
            tile_angles.find("Sun_Angles_Grid").find("Azimuth")
            .find("Values_List"))

        # Per-band view angles: each detector strip is a separate grid
        # with nans outside its swath; strips merge by nan-masked
        # overlay (fmask/sen2meta.py:133-152).
        view_zen: dict[str, np.ndarray] = {}
        view_az: dict[str, np.ndarray] = {}
        for node in tile_angles.findall("Viewing_Incidence_Angles_Grids"):
            band_id = node.attrib["bandId"]
            for name, acc in (("Zenith", view_zen), ("Azimuth", view_az)):
                arr = _value_array(node.find(name).find("Values_List"))
                if band_id not in acc:
                    acc[band_id] = arr
                else:
                    m = ~np.isnan(arr)
                    acc[band_id][m] = arr[m]

        ulx, uly = ulxy["10"]
        return cls(
            datetime=dt, tile_id=tile_full.split("_")[-2],
            sat_id=tile_full[:3], proc_level=tile_full[13:16],
            epsg=epsg, dims_by_res=dims, ulxy_by_res=ulxy,
            angle_grid_xres=xres, angle_grid_yres=yres,
            sun_zenith_grid=sun_zen, sun_azimuth_grid=sun_az,
            view_zenith=view_zen, view_azimuth=view_az,
            # angle-grid origin estimate (fmask/sen2meta.py:113-117)
            angles_ulxy=(ulx - xres / 2.0, uly + yres / 2.0))

    @classmethod
    def from_file(cls, path: str) -> "Sen2TileMeta":
        with open(path) as f:
            return cls.from_string(f.read())

    def get_utm_zone(self) -> int:
        if not (self.epsg.startswith("327") or self.epsg.startswith("326")):
            raise Sen2MetaError(
                f"Cannot determine UTM zone from EPSG:{self.epsg}")
        return int(self.epsg[3:])

    def get_ctr_xy(self) -> tuple[float, float]:
        nrows, ncols = self.dims_by_res["10"]
        ulx, uly = self.ulxy_by_res["10"]
        return (ulx + (ncols // 2) * 10, uly - (nrows // 2) * 10)

    def get_ctr_long_lat(self) -> tuple[float, float]:
        """Scene-centre (lon, lat) via the UTM inverse series (Snyder
        1987, eqs 8-17..8-25) — OSR-free, accurate to ~1e-6 deg."""
        x, y = self.get_ctr_xy()
        zone = self.get_utm_zone()
        south = self.epsg.startswith("327")
        return _utm_inverse(x, y, zone, south)


def _utm_inverse(x: float, y: float, zone: int, south: bool
                 ) -> tuple[float, float]:
    """UTM -> (lon, lat) on WGS84 (Snyder 1987 series)."""
    a = 6378137.0
    f = 1 / 298.257223563
    k0 = 0.9996
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    x = x - 500000.0
    if south:
        y = y - 10000000.0
    m = y / k0
    mu = m / (a * (1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256))
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    phi1 = (mu + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * math.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * math.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * math.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * math.sin(8 * mu))
    sin1, cos1, tan1 = math.sin(phi1), math.cos(phi1), math.tan(phi1)
    c1 = ep2 * cos1 ** 2
    t1 = tan1 ** 2
    n1 = a / math.sqrt(1 - e2 * sin1 ** 2)
    r1 = a * (1 - e2) / (1 - e2 * sin1 ** 2) ** 1.5
    d = x / (n1 * k0)
    lat = phi1 - (n1 * tan1 / r1) * (
        d ** 2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 ** 2 - 9 * ep2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 ** 2 - 252 * ep2
           - 3 * c1 ** 2) * d ** 6 / 720)
    lon = (d - (1 + 2 * t1 + c1) * d ** 3 / 6
           + (5 - 2 * c1 + 28 * t1 - 3 * c1 ** 2 + 8 * ep2
              + 24 * t1 ** 2) * d ** 5 / 120) / cos1
    lon0 = math.radians((zone - 1) * 6 - 180 + 3)
    return (math.degrees(lon) + math.degrees(lon0), math.degrees(lat))


@dataclass
class Sen2ZipfileMeta:
    """Product-level metadata: quantification scale, special values,
    radiometric offsets, baseline version (fmask/sen2meta.py:198-241)."""

    scale_val: float
    nodata_val: int
    saturated_val: int
    offset_val_dict: dict[str, int]
    baseline_version: str

    @classmethod
    def from_string(cls, xml_str: str) -> "Sen2ZipfileMeta":
        root = ElementTree.fromstring(xml_str)
        ns = _ns(root)
        gen = root.find("n1:General_Info", ns)
        pic = gen.find("Product_Image_Characteristics", ns)
        scale = float(pic.find("QUANTIFICATION_VALUE", ns).text)
        nodata = saturated = 0
        for node in pic.findall("Special_Values", ns):
            name = node.find("SPECIAL_VALUE_TEXT", ns).text
            val = int(node.find("SPECIAL_VALUE_INDEX", ns).text)
            if name == "NODATA":
                nodata = val
            elif name == "SATURATED":
                saturated = val
        offsets: dict[str, int] = {}
        nodes = gen.findall(
            "Product_Image_Characteristics/Radiometric_Offset_List/"
            "RADIO_ADD_OFFSET", ns)
        if not nodes:
            # pre-04.00 product: offsets implicitly zero
            offsets = {k: 0 for k in NAME_FROM_BAND_ID}
        else:
            for node in nodes:
                offsets[NAME_FROM_BAND_ID[int(node.attrib["band_id"])]] = \
                    int(node.text)
        baseline = gen.find("Product_Info/PROCESSING_BASELINE", ns).text
        return cls(scale_val=scale, nodata_val=nodata,
                   saturated_val=saturated, offset_val_dict=offsets,
                   baseline_version=baseline)

    @classmethod
    def from_file(cls, path: str) -> "Sen2ZipfileMeta":
        with open(path) as f:
            return cls.from_string(f.read())


def make_ref_offset_dict(zip_meta: Sen2ZipfileMeta) -> dict[str, int]:
    """Product offsets keyed by ENGINE band column names (the
    makeRefOffsetDict correspondence,
    fmask/cmdline/sentinel2Stacked.py:318-341)."""
    return {band: zip_meta.offset_val_dict[s2name]
            for band, s2name in ENGINE_BAND_TO_S2.items()
            if s2name in zip_meta.offset_val_dict}


def require_s2_offsets(offsets: dict[str, int] | None) -> dict[str, int]:
    """The mandatory-offset gate (fmask/fmask.py:137-149): Sentinel-2
    processing refuses to start without an explicit offset dict."""
    if offsets is None:
        raise Sen2MetaError(
            "When using Fmask with Sentinel-2, reflectance offsets must "
            "be explicitly set (ESA processing baseline 04.00, Nov 2021 "
            "added offsets to the imagery). Parse the product XML with "
            "Sen2ZipfileMeta and pass make_ref_offset_dict(meta).")
    return offsets


def _mean_view_grids(meta: Sen2TileMeta) -> tuple[np.ndarray, np.ndarray]:
    """Mean-over-bands view zenith/azimuth grids (the reference's
    sentinel2makeAnglesImage.py:95-107 meanOverBands)."""
    sz = meta.sun_zenith_grid
    vz = (np.nanmean(np.stack(list(meta.view_zenith.values())), axis=0)
          if meta.view_zenith else np.full_like(sz, np.nan))
    va = (np.nanmean(np.stack(list(meta.view_azimuth.values())), axis=0)
          if meta.view_azimuth else np.full_like(sz, np.nan))
    return vz, va


def angle_grid_df(spark, meta: Sen2TileMeta):
    """The tile's sun/view angle grids as a small DataFrame
    (grid_r, grid_c, sun_zen_deg, sun_az_deg, view_zen_deg, view_az_deg)
    — broadcast-joinable onto the pixel table after bilinear lookup.
    View angles are the mean over bands (A13's mean-over-bands grid,
    fmask/landsatangles.py usage pattern)."""
    import pandas as pd

    sz = meta.sun_zenith_grid
    sa = meta.sun_azimuth_grid
    vz, va = _mean_view_grids(meta)
    h, w = sz.shape
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    pdf = pd.DataFrame({
        "grid_r": rr.ravel().astype(np.int32),
        "grid_c": cc.ravel().astype(np.int32),
        "sun_zen_deg": sz.ravel().astype(np.float64),
        "sun_az_deg": sa.ravel().astype(np.float64),
        "view_zen_deg": vz.ravel().astype(np.float64),
        "view_az_deg": va.ravel().astype(np.float64),
    })
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# Grid -> pixel bilinear angle lookup, single-source SQL for both dialects
# (the sentinel2makeAnglesImage.py:95-123 path: mean-over-bands view
# grids + sun grids, resampled to pixels, emitted in the reference's
# DN form round(radians * 100); SCALE_TO_RADIANS = 0.01).
# ---------------------------------------------------------------------------

# ESA angle grids are sampled every 5000 m (COL_STEP/ROW_STEP in the
# tile XML; fmask/sen2meta.py reads them alongside the grid values).
ANGLE_GRID_RES_M = 5000.0

def _angle_lit(x: float) -> str:
    # NaN grid points (detector-strip gaps at swath corners, or a tile
    # XML with no view grids at all) become typed NULLs: NULL
    # propagates through the bilinear arithmetic to NULL angles/DNs in
    # BOTH dialects, where a bare `nan` token is a parse error and a
    # real NaN casts to int differently in Spark (NULL) vs DuckDB
    # (error).
    return ("cast(NULL as double)" if np.isnan(x) else repr(float(x)))


def _grid_values_cte(meta: Sen2TileMeta, d: str) -> str:
    """s2grid CTE: the parsed XML grids inlined as a VALUES table —
    the oracle rendering therefore provably carries the fixture XML's
    numbers, and the Spark side broadcast-joins the same 9-529 rows."""
    sz, sa = meta.sun_zenith_grid, meta.sun_azimuth_grid
    vz, va = _mean_view_grids(meta)
    h, w = sz.shape
    rows = ", ".join(
        f"({i}, {j}, {_angle_lit(sz[i, j])}, {_angle_lit(sa[i, j])}, "
        f"{_angle_lit(vz[i, j])}, {_angle_lit(va[i, j])})"
        for i in range(h) for j in range(w))
    cols = "grid_r, grid_c, sun_zen_deg, sun_az_deg, view_zen_deg, view_az_deg"
    if d == "spark":
        return (f"s2grid AS (SELECT * FROM VALUES {rows} AS t({cols}))")
    return f"s2grid AS (SELECT * FROM (VALUES {rows}) AS t({cols}))"


def _bilinear(prefix: str, col: str, fy: str, fx: str) -> str:
    return (f"({prefix}00.{col} * (1.0 - {fy}) * (1.0 - {fx}) "
            f"+ {prefix}01.{col} * (1.0 - {fy}) * {fx} "
            f"+ {prefix}10.{col} * {fy} * (1.0 - {fx}) "
            f"+ {prefix}11.{col} * {fy} * {fx})")


def s2_grid_angle_parts(d: str, meta: Sen2TileMeta, px_src: str,
                        carry: tuple[str, ...] = ("url", "cell_id", "r", "c"),
                        cells_src: str | None = None) -> tuple[str, str]:
    """(ctes, final_select) computing the 8 grid-derived angle columns
    for every row of ``px_src`` (must expose cell_id, r, c). Embed as
    ``WITH {features...}, {ctes}, out AS ({final_select})``; ``carry``
    names the source columns to pass through (they must not collide
    with the angle outputs). ``cells_src`` optionally names a cheaper
    CTE to take DISTINCT cell_id from (pass-1 embedding passes the
    pre-layout ``geo2`` so the per-cell dim never re-runs the
    row_number window chain).

    Semantics ([spec] — engine quantization/layout choices):
      * each cell anchors at a deterministic fractional grid point
        (md5(cell_id)-derived, uniform over the grid interior), its
        pixels advancing from the anchor at C.X_RES/C.Y_RES metres per pixel
        over the 5000 m grid step — one tile XML serves every cell the
        way one MTL serves every window in the reference;
      * per-cell sun/view radians (sun_az..sat_zen) interpolate AT the
        anchor (the whole-cell kernel consumes them as per-cell
        constants, config.AnglesByPoint-style);
      * per-pixel DN columns (``*_cdn``) interpolate at pixel centres and
        quantize to round(radians * 100) — the reference's int16 DN
        form (sentinel2makeAnglesImage.py:110-117), which the per-clump
        mean-angle lookup consumes.
    All math is plain arithmetic over the VALUES grid (identical op
    tree in both dialects; radians() is a constant multiply), so the
    Spark and DuckDB renderings agree bit-for-bit."""
    from . import constants as C
    from .dialect import md5_slice_int

    sz = meta.sun_zenith_grid
    gh, gw = sz.shape
    gh1, gw1 = gh - 1, gw - 1
    gres = ANGLE_GRID_RES_M
    ay = md5_slice_int("cell_id", 21, 6, d)
    ax = md5_slice_int("cell_id", 27, 6, d)
    carry_sql = ", ".join(carry)
    cells = cells_src or px_src
    # the dim is ~1 row per cell and s2grid is the inlined XML VALUES
    # (9-529 rows): broadcast both onto the pixel side on Spark
    # (DuckDB reads the hints as comments)
    dim_hint = "/*+ BROADCAST(d) */ " if d == "spark" else ""
    grid_hint = ("/*+ BROADCAST(h00, h01, h10, h11) */ "
                 if d == "spark" else "")

    def dn(expr: str) -> str:
        return f"cast(round({expr} * 100.0) as int)"

    ctes = f"""{_grid_values_cte(meta, d)},
s2ang_cdim AS (
  SELECT cell_id, cgy, cgx,
    radians({_bilinear('g', 'sun_az_deg', 'cfy', 'cfx')}) AS g_sun_az,
    radians({_bilinear('g', 'sun_zen_deg', 'cfy', 'cfx')}) AS g_sun_zen,
    radians({_bilinear('g', 'view_az_deg', 'cfy', 'cfx')}) AS g_sat_az,
    radians({_bilinear('g', 'view_zen_deg', 'cfy', 'cfx')}) AS g_sat_zen
  FROM (
    SELECT cell_id, cgy, cgx,
      cast(floor(cgy) as int) AS ci, cast(floor(cgx) as int) AS cj,
      cgy - floor(cgy) AS cfy, cgx - floor(cgx) AS cfx
    FROM (
      SELECT cell_id,
        least(cast(({ay} % {gh1 * 1000}) as double) / 1000.0,
              {gh1} - 1e-9) AS cgy,
        least(cast(({ax} % {gw1 * 1000}) as double) / 1000.0,
              {gw1} - 1e-9) AS cgx
      FROM (SELECT DISTINCT cell_id FROM {cells}) s2ang_cells
    ) s2ang_c0
  ) s2ang_c1
  JOIN s2grid g00 ON g00.grid_r = ci AND g00.grid_c = cj
  JOIN s2grid g01 ON g01.grid_r = ci AND g01.grid_c = cj + 1
  JOIN s2grid g10 ON g10.grid_r = ci + 1 AND g10.grid_c = cj
  JOIN s2grid g11 ON g11.grid_r = ci + 1 AND g11.grid_c = cj + 1
),
s2ang_px AS (
  SELECT s2ang_b.*,
    cast(floor(gy) as int) AS pi, cast(floor(gx) as int) AS pj,
    gy - floor(gy) AS pfy, gx - floor(gx) AS pfx
  FROM (
    SELECT {dim_hint}b.*, d.g_sun_az, d.g_sun_zen, d.g_sat_az, d.g_sat_zen,
      greatest(0.0, least(d.cgy + ((b.r + 0.5) * {C.Y_RES} / {gres}),
                          {gh1} - 1e-9)) AS gy,
      greatest(0.0, least(d.cgx + ((b.c + 0.5) * {C.X_RES} / {gres}),
                          {gw1} - 1e-9)) AS gx
    FROM {px_src} b JOIN s2ang_cdim d ON d.cell_id = b.cell_id
  ) s2ang_b
)""".strip()
    select = f"""SELECT {grid_hint}{carry_sql},
  g_sun_az AS sun_az, g_sun_zen AS sun_zen,
  g_sat_az AS sat_az, g_sat_zen AS sat_zen,
  {dn(f"radians({_bilinear('h', 'view_az_deg', 'pfy', 'pfx')})")} AS sat_az_cdn,
  {dn(f"radians({_bilinear('h', 'view_zen_deg', 'pfy', 'pfx')})")} AS sat_zen_cdn,
  {dn(f"radians({_bilinear('h', 'sun_az_deg', 'pfy', 'pfx')})")} AS sun_az_cdn,
  {dn(f"radians({_bilinear('h', 'sun_zen_deg', 'pfy', 'pfx')})")} AS sun_zen_cdn
FROM s2ang_px
JOIN s2grid h00 ON h00.grid_r = pi AND h00.grid_c = pj
JOIN s2grid h01 ON h01.grid_r = pi AND h01.grid_c = pj + 1
JOIN s2grid h10 ON h10.grid_r = pi + 1 AND h10.grid_c = pj
JOIN s2grid h11 ON h11.grid_r = pi + 1 AND h11.grid_c = pj + 1""".strip()
    return ctes, select
