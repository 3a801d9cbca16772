"""Single-source deterministic derivations, rendered per SQL dialect.

The engine's synthetic-scene derivation chain is:

    documents(doc_id, text, lang, source, n_chars)           [driver parquet]
      -> documents_wide(url, warc_ts, html, text, lang)      [input_hint shape]
      -> doc_features(cell_id, r, c, bands..., angles...)    [FIXTURES.md §2]
      -> pass1 / pass2 / pass3 columns                       [fmask transcription]

Every column is defined ONCE here as a dialect-parameterized SQL fragment,
so the Spark pipeline (``F.expr``) and the DuckDB oracle run literally the
same formula. fmask formula provenance is cited per column
(file:line into /root/reference).
"""

from __future__ import annotations

from . import constants as C
from .dialect import (
    DUCKDB,
    SPARK,
    cast_str,
    hexint,
    idiv,
    jitter,
    md5_slice_int,
    round_half_even,
    to_blob,
    ts_add_seconds,
)

def _dbl(x: str) -> str:
    """Force DOUBLE: Spark treats decimal literals as DECIMAL type, whose
    arithmetic/rounding rules differ from DuckDB's DOUBLE — every division
    site is cast explicitly so both dialects compute IEEE float64."""
    return f"cast({x} as double)"


# ---------------------------------------------------------------------------
# documents_wide: input_hint shape (url, warc_ts, html, text, lang)
# ---------------------------------------------------------------------------


def documents_wide_exprs(d: str) -> dict[str, str]:
    """Column exprs over the raw ``documents`` driver table."""
    url = f"concat('https://', source, '.example/p/', {cast_str('doc_id', d)})"
    return {
        "url": url,
        "warc_ts": ts_add_seconds("timestamp '2024-01-01 00:00:00'", "doc_id", d),
        "html": to_blob("concat('<html>', text, '</html>')", d),
        "text": "text",
        "lang": "lang",
    }


def documents_wide_sql(d: str, table: str = "documents") -> str:
    cols = documents_wide_exprs(d)
    select = ", ".join(f"{e} AS {n}" for n, e in cols.items())
    return f"SELECT {select} FROM {table}"


# ---------------------------------------------------------------------------
# geocode + cell index (pseudo-H3: fixed-resolution lat/lon grid)
# ---------------------------------------------------------------------------


def geo_exprs(d: str) -> dict[str, str]:
    """domain -> (lat, lon) -> grid cell of C.CELL_DEG degrees.
    Deterministic, SQL-only."""
    domain = "split_part(url, '/', 3)"
    lat = f"({_dbl(f'({md5_slice_int(domain, 1, 8, d)} % 180000)')} / 1000.0 - 90.0)"
    lon = f"({_dbl(f'({md5_slice_int(domain, 9, 8, d)} % 360000)')} / 1000.0 - 180.0)"
    step = C.CELL_DEG
    cell_x = f"cast(floor((lon + 180.0) / {step}) as int)"
    cell_y = f"cast(floor((lat + 90.0) / {step}) as int)"
    n_x = int(round(360.0 / step))
    cell_id = f"concat('h3_', {cast_str(f'(cell_y * {n_x} + cell_x)', d)})"
    return {
        "domain": domain,
        "lat": lat,
        "lon": lon,
        "cell_x": cell_x,
        "cell_y": cell_y,
        "cell_id": cell_id,
    }


# ---------------------------------------------------------------------------
# synthetic spectral bands (DN, reflectance x 10000) from text hashes
# ---------------------------------------------------------------------------

# Latent surface classes (percent bands of latent in [0,100)):
#   [0,14)  cloud-like   [14,25) water-like  [25,35) snow-like
#   [35,45) dark land    [45,97) bright land [97,100) nodata
LATENT_CLOUD_HI = 14
LATENT_WATER_HI = 25
LATENT_SNOW_HI = 35
LATENT_DARK_HI = 45
LATENT_NULL_LO = 97


def band_exprs(d: str, hashed: tuple[str, str, str] | None = None
               ) -> dict[str, str]:
    """DN band columns keyed off ``latent`` and ``bright`` columns
    (which must already exist in the enclosing SELECT layer).

    ``hashed`` (Spark rendering only): names of pre-computed hash
    columns (md5(text), md5(concat(text,'_t')), md5(concat(text,'_8a')))
    to slice instead of inlining the md5 call ~55 times. Values are
    bit-identical — substr over the hoisted column equals substr over
    the inline call — but the expression tree the analyzer/optimizer
    walks per projection layer shrinks ~7x per band expr, which is
    where the per-query Catalyst time of every pass-1 consumer went
    (measured: q1 parse+analyze 0.26 s on the inline form). The DuckDB
    oracle rendering never passes ``hashed``."""
    if hashed is not None:
        hx, ht2, h8a = hashed

        def J(start: int, mod: int) -> str:
            return f"({hexint(f'substr({hx}, {start}, 4)', d)} % {mod})"

        def J2(start: int, mod: int) -> str:
            return f"({hexint(f'substr({ht2}, {start}, 4)', d)} % {mod})"

        def J3(start: int, mod: int) -> str:
            return f"({hexint(f'substr({h8a}, {start}, 4)', d)} % {mod})"
    else:
        t = "text"
        t2 = "concat(text, '_t')"
        t3 = "concat(text, '_8a')"

        def J(start: int, mod: int) -> str:
            return jitter(t, start, mod, d)

        def J2(start: int, mod: int) -> str:
            return jitter(t2, start, mod, d)

        def J3(start: int, mod: int) -> str:
            return jitter(t3, start, mod, d)

    def case(cloud: str, water: str, snow: str, dark: str, land: str) -> str:
        return (
            f"cast(case when latent >= {LATENT_NULL_LO} then 0 "
            f"when latent < {LATENT_CLOUD_HI} then {cloud} "
            f"when latent < {LATENT_WATER_HI} then {water} "
            f"when latent < {LATENT_SNOW_HI} then {snow} "
            f"when latent < {LATENT_DARK_HI} then {dark} "
            f"else {land} end as int)"
        )

    return {
        # visible + IR bands: cloud is bright & white (shared `bright` term),
        # water is dark in NIR/SWIR, snow has high NDSI, dark land is the
        # potential-shadow source, bright land is vegetated.
        "blue": case(
            f"bright + {J(9, 500)} - 250", f"400 + {J(9, 400)}",
            f"3000 + {J(9, 800)}", f"300 + {J(9, 300)}", f"1000 + {J(9, 800)}"),
        "green": case(
            f"bright + {J(13, 500)} - 250", f"500 + {J(13, 400)}",
            f"5000 + {J(13, 2000)}", f"400 + {J(13, 300)}", f"1200 + {J(13, 900)}"),
        "red": case(
            f"bright + {J(17, 500)} - 250", f"600 + {J(17, 600)}",
            f"3000 + {J(17, 1000)}", f"400 + {J(17, 300)}", f"1300 + {J(17, 1000)}"),
        "nir": case(
            f"bright + {J(21, 600)} - 300", f"100 + {J(21, 300)}",
            f"1500 + {J(21, 800)}", f"500 + {J(21, 400)}", f"3000 + {J(21, 1500)}"),
        "swir1": case(
            f"bright - 1000 + {J(25, 600)}", f"100 + {J(25, 150)}",
            f"800 + {J(25, 400)}", f"600 + {J(25, 300)}", f"2000 + {J(25, 1000)}"),
        "swir2": case(
            f"1500 + {J(29, 1500)}", f"60 + {J(29, 150)}",
            f"500 + {J(29, 300)}", f"400 + {J(29, 200)}", f"1200 + {J(29, 800)}"),
        "cirrus": case(
            f"100 + {J(9, 300)}", f"{J(9, 80)}",
            f"{J(9, 60)}", f"{J(9, 50)}", f"{J(9, 70)}"),
        # thermal DN: cold for cloud/snow, warm for water/land
        # (rad = dn*0.01 -> T via K1/K2, constants.py)
        "therm_dn": case(
            f"430 + {J2(1, 170)}", f"800 + {J2(1, 200)}",
            f"500 + {J2(1, 100)}", f"850 + {J2(1, 150)}", f"900 + {J2(1, 200)}"),
        # S2 CDI bands (Frantz 2018 displacement test, BAND_S2CDI_NIR8A /
        # BAND_S2CDI_NIR7, fmask/config.py:63-65): B07/B08A sit on the
        # narrow NIR shoulder — smooth relative to the noisy broad B08,
        # so the 8A/7 ratio has low focal variance while 8A/8 is noisy
        # (the parallax signature the CDI thresholds key on).
        "nir7": case(
            f"2800 + {J3(1, 200)}", f"120 + {J3(1, 100)}",
            f"1400 + {J3(1, 200)}", f"520 + {J3(1, 150)}",
            f"2900 + {J3(1, 400)}"),
        "nir8a": case(
            f"2850 + {J3(5, 150)}", f"130 + {J3(5, 80)}",
            f"1450 + {J3(5, 150)}", f"540 + {J3(5, 120)}",
            f"2950 + {J3(5, 300)}"),
        # rare saturation flags (DERM extra test, fmask/fmask.py:414-421)
        "sat_blue": f"({J2(5, 1000)} < 6)",
        "sat_green": f"({J2(9, 1000)} < 6)",
        "sat_red": f"({J2(13, 1000)} < 6)",
    }


def angle_exprs(d: str) -> dict[str, str]:
    """Per-cell constant sun/view angles in radians (the reference's
    AnglesByPoint constant variant, fmask/config.py:755-789)."""
    def ang(start: int, mod: int) -> str:
        h = _dbl(f"({md5_slice_int('cell_id', start, 6, d)} % {mod})")
        return f"({h} / 1000.0)"

    return {
        "sun_az": ang(1, 6283),
        "sun_zen": f"(0.15 + {ang(7, 900)})",
        "sat_az": ang(13, 6283),
        "sat_zen": ang(19, 130),
    }


def sat_angle_dim_sql(d: str) -> str:
    """Per-CELL angle-geometry dim CTE chain (``ang_dim`` over ``geo2``):
    nadir-line slope/intercept, local earth radius, and the 8 bilinear
    extent-corner sun values (makeAngles, fmask/landsatangles.py:347-382;
    localRadius :198-216). These are per-cell CONSTANTS — computing them
    per pixel (as round 2 did) spent 2 md5 hashes + corner hex parses on
    every row and inflated every downstream Catalyst plan; here each
    md5 runs once per CELL and the per-pixel side (sat_angle_px_exprs)
    is pure bilinear/atan arithmetic over broadcast-joined scalars.

    The dim aggregates ``geo2`` (docs scan pruned to the cell-id
    columns); ``ad_rows`` re-derives the raster height arithmetically
    from the row count — identical to feat3's ``max(r)+1`` because the
    layout is row-major at fixed width."""
    W = C.SCENE_WIDTH
    xres, yres = C.X_RES, C.Y_RES
    x_max = f"({W} * {xres})"
    rows = f"(cast({idiv('(n_cell - 1)', str(W), d)} as int) + 1)"
    skew_h = hexint("substr(ah, 1, 6)", d)
    skew = f"({_dbl(f'({skew_h} % 2000)')} + 500.0)"
    y_min = f"(-(ad_rows * {yres}))"
    m = f"((0.0 - {y_min}) / ad_skew)"
    # local earth radius of curvature at the cell-centre latitude
    # (localRadius, fmask/landsatangles.py:198-216); WGS84 constants
    lat_ctr = f"radians((cell_y + 0.5) * {C.CELL_DEG} - 90.0)"
    e2 = 2 * (1 / 298.257223563) - (1 / 298.257223563) ** 2

    def corner(slot: int, base: str, spread: int) -> str:
        # 4 hex chars (16 bits) per corner; slots 0-3 (sun az) slice ah
        # after the 6 skew chars, slots for sun zen slice ah2 (6+8*4=38
        # > 32 chars would overflow a single md5)
        h = hexint(f"substr(ah, {7 + slot * 4}, 4)", d)
        return f"({base} + {_dbl(f'({h} % {spread})')} / 1000.0)"

    def corner2(slot: int, base: str, spread: int) -> str:
        h = hexint(f"substr(ah2, {1 + slot * 4}, 4)", d)
        return f"({base} + {_dbl(f'({h} % {spread})')} / 1000.0)"

    az_corners = ", ".join(
        f"{corner(k, '1.0', 900)} AS ad_a{k}" for k in range(4))
    zen_corners = ", ".join(
        f"{corner2(k, '0.3', 400)} AS ad_z{k}" for k in range(4))
    return f"""
angd0 AS (
  SELECT cell_id, cell_y, count(*) AS n_cell
  FROM geo2 GROUP BY cell_id, cell_y
),
angd1 AS (
  SELECT cell_id, cell_y, {rows} AS ad_rows,
    md5({_q_cell('ang')}) AS ah, md5({_q_cell('ang2')}) AS ah2
  FROM angd0
),
angd2 AS (
  SELECT *, {skew} AS ad_skew, {az_corners}, {zen_corners},
    (6378137.0 / sqrt(1.0 - {e2} * sin({lat_ctr}) * sin({lat_ctr})))
      AS ad_rloc
  FROM angd1
),
angd3 AS (
  SELECT *, {y_min} AS ad_ymin, {m} AS ad_m
  FROM angd2
),
ang_dim AS (
  SELECT cell_id, ad_rloc, ad_ymin, ad_m,
    (-ad_m * (ad_skew + {x_max} / 2.0)) AS ad_b,
    sqrt(ad_m * ad_m + 1.0) AS ad_den,
    ({PI_LIT} / 2.0 - atan(-1.0 / ad_m)) AS ad_azl,
    (0.0 - ad_ymin) AS ad_ynorm,
    ad_a0, ad_a1, ad_a2, ad_a3, ad_z0, ad_z1, ad_z2, ad_z3
  FROM angd3
)""".strip()


def sat_angle_px_exprs(d: str) -> dict[str, str]:
    """Per-pixel satellite view angles from nadir-line geometry
    (makeAngles, fmask/landsatangles.py:347-382) plus bilinear
    corner-interpolated sun angles (bilinearInterp,
    fmask/landsatangles.py:385-400), as column exprs over
    (r, c) joined to the per-cell ``ang_dim`` scalars (ad_*).

    The swathe is synthesized per cell: raster-extent corners sheared by
    a deterministic md5-derived skew (a descending-pass nadir line is
    never axis-parallel). Outputs are the reference's DN form —
    round(radians * 100) int16 (radianScale, landsatangles.py:369) —
    which also quantizes away cross-engine trig ulp noise.

    Formula structure is kept IDENTICAL to the round-2 inline form (the
    shadow fixture and sat_angles oracle values are bit-stable): only
    where a subexpression's inputs are all per-cell does it move into
    ang_dim."""
    xres, yres = C.X_RES, C.Y_RES
    W = C.SCENE_WIDTH
    x_max = f"({W} * {xres})"
    # pixel-centre map coords; y axis points up (north), rows go down
    x = f"((c + 0.5) * {xres})"
    y = f"(-(r + 0.5) * {yres})"
    dist = f"(abs(ad_m * {x} - {y} + ad_b) / ad_den)"
    sat_zen = f"(atan({dist} / 705000.0) + atan({dist} / ad_rloc))"
    is_left = f"(({y} - (ad_m * {x} + ad_b)) > 0)"
    sat_az = f"(case when {is_left} then ad_azl else ad_azl - {PI_LIT} end)"

    # bilinear sun interpolation from the 4 md5-derived extent corners
    p = f"(({y} - ad_ymin) / ad_ynorm)"
    q = f"({x} / {x_max})"

    def bilinear(tl: str, tr: str, bl: str, br: str) -> str:
        return (f"({tr} * {p} * {q} + {tl} * {p} * (1.0 - {q}) "
                f"+ {br} * (1.0 - {p}) * {q} "
                f"+ {bl} * (1.0 - {p}) * (1.0 - {q}))")

    sun_az_i = bilinear("ad_a0", "ad_a1", "ad_a2", "ad_a3")
    sun_zen_i = bilinear("ad_z0", "ad_z1", "ad_z2", "ad_z3")

    def dn(expr: str) -> str:
        return f"cast({round_half_away(f'({expr} * 100.0)', d)} as int)"

    return {
        "sat_az_cdn": dn(sat_az),
        "sat_zen_cdn": dn(sat_zen),
        "sun_az_cdn": dn(sun_az_i),
        "sun_zen_cdn": dn(sun_zen_i),
    }


def _q_cell(suffix: str) -> str:
    return f"concat(cell_id, '_{suffix}')"


PI_LIT = "3.141592653589793"


def round_half_away(expr: str, d: str) -> str:
    """round() in both dialects is HALF_AWAY for our non-negative /
    symmetric uses — numpy.round differs (HALF_EVEN) but the reference's
    angle DN path goes through numpy.round on values whose 1e-2 grid
    makes ties measure-zero; plain round() matches in practice and is
    identical across the two SQL engines."""
    return f"round({expr})"


def features_sql(d: str, docs_sql: str, layout: bool = True,
                 angles: bool = True,
                 tile_meta=None) -> str:
    """Full doc_features derivation as a CTE chain over documents_wide.

    Pixel layout: within each cell, documents are laid out row-major in
    url order at fixed raster width SCENE_WIDTH; the cell is one fmask
    "scene" (the reference processes scenes independently,
    fmask/fmask.py:96-221).

    ``layout=False`` skips the row_number pixel layout (needed for
    Structured Streaming, where non-time window functions are
    unsupported; the pass-1 predicates are per-document anyway).

    ``angles=False`` skips the per-pixel angle-DN columns AND the
    ang_dim broadcast join that feeds them. The join is structural (an
    inner join can't be pruned by Catalyst even when no angle column is
    selected), so only consumers of sat/sun DN columns — the scene
    kernel path and q_sat_angles — should pay for it.

    ``tile_meta`` (a :class:`~.sen2meta.Sen2TileMeta`) replaces BOTH the
    synthetic per-cell angle scalars and the per-pixel DN stack with
    bilinear lookups into the tile XML's sun/view grids
    (sen2meta.s2_grid_angle_parts — the reference's
    sentinel2makeAnglesImage.py:95-123 path). Requires ``layout`` and
    ``angles``; output schema is identical to the synthetic path so
    every pass-1 tail consumer works unchanged."""
    geo = geo_exprs(d)
    ang = angle_exprs(d)
    W = C.SCENE_WIDTH

    geo_sel = ", ".join(f"{e} AS {n}" for n, e in geo.items()
                        if n in ("domain", "lat", "lon"))
    if d == SPARK:
        # hoist the three text hashes once per row (band_exprs docstring);
        # _EXCEPT drops them before the feature frame leaves feat0b, so
        # the pass-1 leaf width is unchanged
        bands = band_exprs(d, hashed=("_hx", "_ht2", "_h8a"))
        hash_sel = (", md5(text) AS _hx, md5(concat(text, '_t')) AS _ht2,"
                    " md5(concat(text, '_8a')) AS _h8a")
        drop_h = " EXCEPT (_hx, _ht2, _h8a)"
        latent = f"({hexint('substr(_hx, 1, 4)', d)} % 100)"
        bright = f"(6000 + ({hexint('substr(_hx, 5, 4)', d)} % 2500))"
    else:
        bands = band_exprs(d)
        hash_sel = ""
        drop_h = ""
        latent = f"({md5_slice_int('text', 1, 4, d)} % 100)"
        bright = f"(6000 + {jitter('text', 5, 2500, d)})"
    cell_sel = ", ".join(f"{geo[n]} AS {n}" for n in ("cell_x", "cell_y"))
    band_sel = ", ".join(f"{e} AS {n}" for n, e in bands.items())
    ang_sel = ", ".join(f"{e} AS {n}" for n, e in ang.items())

    if layout:
        layout_ctes = f"""
feat1 AS (
  SELECT *,
    (row_number() OVER (PARTITION BY cell_id ORDER BY url) - 1) AS idx
  FROM feat0b
),
feat2 AS (
  SELECT *,
    cast({idiv('idx', str(W), d)} as int) AS r,
    cast(idx % {W} as int) AS c
  FROM feat1
),
feat3 AS (
  SELECT *, max(r) OVER (PARTITION BY cell_id) + 1 AS cell_rows
  FROM feat2
)"""
        if tile_meta is not None:
            if not angles:
                raise ValueError("tile_meta requires angles=True")
            from .sen2meta import s2_grid_angle_parts
            carry = ("url", "warc_ts", "text", "lang", "domain", "lat",
                     "lon", "cell_x", "cell_y", "latent", "bright",
                     "cell_id", *bands.keys(), "idx", "r", "c",
                     "cell_rows")
            gctes, gsel = s2_grid_angle_parts(
                d, tile_meta, "feat3", carry=carry, cells_src="geo2")
            tail = f"""{layout_ctes},
{gctes},
features AS (
{gsel}
)"""
        elif angles:
            satsel = ", ".join(f"{e} AS {n}"
                               for n, e in sat_angle_px_exprs(d).items())
            # ang_dim is ~1 row per cell: Spark broadcast-joins it back
            # (hint below; DuckDB treats the hint as a comment), so the
            # per-pixel side pays no shuffle and no md5 for the angles.
            hint = "/*+ BROADCAST(ad) */ " if d == SPARK else ""
            tail = f"""{layout_ctes},
{sat_angle_dim_sql(d)},
features AS (
  SELECT {hint}f.*, {satsel}
  FROM feat3 f JOIN ang_dim ad ON ad.cell_id = f.cell_id
)"""
        else:
            tail = f"""{layout_ctes},
features AS (
  SELECT * FROM feat3
)"""
    else:
        tail = """
features AS (
  SELECT * FROM feat0b
)"""

    return f"""
docs AS ({docs_sql}),
geo0 AS (
  SELECT url, warc_ts, text, lang, {geo_sel}{hash_sel}
  FROM docs
),
geo1 AS (
  SELECT *, {cell_sel}, {latent} AS latent, {bright} AS bright
  FROM geo0
),
geo2 AS (
  SELECT *, {geo['cell_id']} AS cell_id
  FROM geo1
),
feat0 AS (
  SELECT *, {band_sel}
  FROM geo2
),
feat0b AS (
  SELECT *{drop_h}, {ang_sel}
  FROM feat0
),{tail}
""".strip()


# ---------------------------------------------------------------------------
# pass 1: potentialCloudFirstPass transcription (fmask/fmask.py:325-469)
# ---------------------------------------------------------------------------


def _ref(band: str, offset: int = 0) -> str:
    """DN -> reflectance with the <=0 clamp (fmask/fmask.py:334-336,502-543).
    ``offset`` is the per-band radiometric DN offset: ref = (dn+off)/scale
    (fmask/fmask.py:534-543; mandatory for Sentinel-2 since ESA 04.00)."""
    dn = _dbl(band) if not offset else f"({_dbl(band)} + {offset})"
    r = f"{dn} / {C.TOA_SCALE}"
    return f"(case when {r} <= 0 then 0.00001 else {r} end)"


def bt_expr() -> str:
    """Thermal DN -> brightness temperature degC (fmask/config.py:507-521)."""
    r = f"{_dbl('therm_dn')} * {C.THERMAL_GAIN} + {C.THERMAL_OFFSET}"
    rad = f"(case when {r} <= 0 then 0.00001 else {r} end)"
    return f"({C.THERMAL_K2} / ln({C.THERMAL_K1} / {rad} + 1.0) - {C.KELVIN_ZERO_DEGC})"


def pass1_sql(d: str, sensor: str = "LANDSAT8",
              s2_offsets: dict[str, int] | None = None,
              nir_snow_thresh: float | None = None,
              green_snow_thresh: float | None = None) -> str:
    """CTE chain computing pass-1 layers over ``features``.

    Produces the 8 layers of the reference's pass1 stack
    (fmask/fmask.py:459-460) plus histogram bins and carried columns.

    ``sensor`` reproduces the reference's dispatch (fmask/config.py:33-40;
    fmask/fmask.py:287-308,364-365,389-392,454-455):
      LANDSAT8  — 7 null bands, cirrus test, thermal terms (default)
      LANDSAT47 — 6 null bands (no cirrus), thermal terms
      SENTINEL2 — visible-only null bands, cirrus test, NO thermal

    ``s2_offsets`` (SENTINEL2 only, MANDATORY there): per-engine-band
    radiometric DN offsets from the product XML
    (sen2meta.make_ref_offset_dict) — the reference refuses to run S2
    without them (fmask/fmask.py:137-149).

    ``nir_snow_thresh`` / ``green_snow_thresh`` are the Eqn-20 snow-test
    reflectance floors — the reference's per-run setEqn20NirSnowThresh /
    setEqn20GreenSnowThresh + CLI --nirsnowthreshold /
    --greensnowthreshold knobs (fmask/config.py:354-368;
    fmask/cmdline/usgsLandsatStacked.py:89-93,257-258; applied
    fmask/fmask.py:452-453). None = the paper defaults
    (0.11 / 0.1, constants.EQN20_*_SNOW_THRESH)."""
    nir_snow = (C.EQN20_NIR_SNOW_THRESH if nir_snow_thresh is None
                else float(nir_snow_thresh))
    green_snow = (C.EQN20_GREEN_SNOW_THRESH if green_snow_thresh is None
                  else float(green_snow_thresh))
    has_thermal = sensor != "SENTINEL2"
    has_cirrus = sensor in ("LANDSAT8", "SENTINEL2")
    if sensor == "SENTINEL2":
        from .sen2meta import require_s2_offsets
        offs = require_s2_offsets(s2_offsets)
    else:
        offs = {}
    refs = {b: _ref(b, offs.get(b, 0)) for b in
            ("blue", "green", "red", "nir", "swir1", "swir2", "cirrus")}
    ref_sel = ", ".join(f"{e} AS ref_{n}" for n, e in refs.items())

    whiteness = ("(abs((ref_blue - mean_vis) / mean_vis) + "
                 "abs((ref_green - mean_vis) / mean_vis) + "
                 "abs((ref_red - mean_vis) / mean_vis))")

    vprob = ("(case when nullmask then 0.0 else "
             "1.0 - greatest(abs(mod_ndvi), abs(mod_ndsi), whiteness) end)")
    vprob_pcnt = (
        f"cast(least(greatest({round_half_even(f'({vprob} * {C.PROB_SCALE})', d)},"
        f" {C.BYTE_MIN}), {C.BYTE_MAX}) as int)")

    if sensor == "SENTINEL2":
        null_bands = " OR ".join(
            f"{b} = {C.REF_NULL_DN}" for b in ("blue", "green", "red"))
    elif sensor == "LANDSAT47":
        null_bands = " OR ".join(
            f"{b} = {C.REF_NULL_DN}"
            for b in ("blue", "green", "red", "nir", "swir1", "swir2"))
    else:
        null_bands = " OR ".join(
            f"{b} = {C.REF_NULL_DN}"
            for b in ("blue", "green", "red", "nir", "swir1", "swir2",
                      "cirrus"))
    therm_null = (f"therm_dn = {C.THERM_NULL_DN}" if has_thermal
                  else "false")
    basic_bt = (f" AND bt < {C.EQN1_THERM_THRESH}" if has_thermal else "")
    snow_bt = (f" AND bt < {C.EQN20_THERM_THRESH}" if has_thermal else "")
    cirrus_test = (f"(ref_cirrus > {C.CIRRUS_BAND_TEST_THRESH})"
                   if has_cirrus else "false")
    return f"""
p1a AS (
  SELECT *, {ref_sel},
    {bt_expr()} AS bt,
    ({null_bands}) AS ref_nullmask,
    ({therm_null}) AS therm_nullmask
  FROM features
),
p1b AS (
  SELECT *,
    (ref_nullmask OR therm_nullmask) AS nullmask,
    ((ref_green - ref_swir1) / (ref_green + ref_swir1)) AS ndsi,
    ((ref_nir - ref_red) / (ref_nir + ref_red)) AS ndvi,
    ((ref_blue + ref_green + ref_red) / 3.0) AS mean_vis
  FROM p1a
),
p1c AS (
  SELECT *,
    (ref_swir2 > {C.EQN1_SWIR2_THRESH} AND ndsi < 0.8 AND ndvi < 0.8{basic_bt}) AS basic_test,
    {whiteness} AS whiteness0,
    ((ref_blue - 0.5 * ref_red - 0.08) > 0) AS haze_test,
    ((ref_nir / ref_swir1) > 0.75) AS b45_test,
    (NOT nullmask AND ((ndvi < 0.01 AND ref_nir < 0.11)
      OR (ndvi < 0.1 AND ref_nir < 0.05))) AS water_test,
    {cirrus_test} AS cirrus_band_test,
    ((sat_blue OR sat_green OR sat_red) AND mean_vis > 0.45) AS sat_and_bright
  FROM p1b
),
p1d AS (
  SELECT *,
    (NOT nullmask AND (
      (basic_test AND (whiteness0 < {C.EQN2_WHITENESS_THRESH})
        AND haze_test AND b45_test)
      OR cirrus_band_test
      OR sat_and_bright)) AS pcp,
    (case when sat_and_bright then 0.0 else whiteness0 end) AS whiteness,
    (case when sat_green then 0.0 else ndvi end) AS mod_ndvi,
    (case when sat_red then 0.0 else ndsi end) AS mod_ndsi
  FROM p1c
),
pass1 AS (
  SELECT *,
    (NOT nullmask AND water_test
     AND ref_swir2 < {C.EQN7_SWIR2_THRESH}) AS clear_sky_water,
    (NOT nullmask AND NOT pcp AND NOT water_test) AS clear_land,
    {vprob_pcnt} AS variability_prob_pcnt,
    (NOT nullmask AND ndsi > 0.15 AND ref_nir > {nir_snow}
     AND ref_green > {green_snow}{snow_bt}) AS snow,
    cast(least(floor(least(greatest(bt + {C.BT_OFFSET}, 0), {C.BT_HISTSIZE})),
         {C.BT_HISTSIZE - 1}) as int) AS scaled_bt_bin,
    cast(cast(floor(ref_nir * {C.B4_SCALE}) as bigint) % 256 as int) AS scaled_b4_bin
  FROM p1d
)
""".strip()


# ---------------------------------------------------------------------------
# per-cell thresholds: one GROUP BY cell_id each, the same text in both
# dialects (scoreatpcnt, fmask/fmask.py:482-499,546-561)
# ---------------------------------------------------------------------------


def scoreatpcnt(col: str, pcnt: float, mask: str) -> str:
    """Aggregate: the reference's scoreatpcnt (fmask/fmask.py:482-499)
    of ``col`` over the group's rows where ``mask`` holds — the first
    value whose cumulative percentage is >= ``pcnt``, i.e. a discrete
    percentile. NULL when no row passes ``mask`` (the reference's None).
    Spark's percentile_disc returns a double; the cast keeps the bin's
    int type."""
    return (f"cast(percentile_disc({pcnt / 100}) WITHIN GROUP "
            f"(ORDER BY {col}) FILTER (WHERE {mask}) as int)")


def threshold_aggs(sensor: str = "LANDSAT8") -> str:
    """Select list of the per-cell thresholds aggregate over pass 1:
    Twater/Tlow/Thigh (Eqns 8,13; fmask/fmask.py:546-561), b4_17
    (fmask/fmask.py:315-321) and nonNullCount (fmask/fmask.py:285,469).
    SENTINEL2 has no thermal band: the BT thresholds degrade to NULL
    (the reference's None path, fmask/fmask.py:645-666)."""
    def bt(pcnt: float, mask: str) -> str:
        t = f"{scoreatpcnt('scaled_bt_bin', pcnt, mask)} - {C.BT_OFFSET}"
        return (f"cast(null as bigint) + 0 * ({t})" if sensor == "SENTINEL2"
                else t)

    b4 = scoreatpcnt("scaled_b4_bin", 17.5, "clear_land")
    return f"""{bt(82.5, 'clear_sky_water')} AS twater,
    {bt(17.5, 'clear_land')} AS tlow,
    {bt(82.5, 'clear_land')} AS thigh,
    coalesce(cast({b4} as double) / {C.B4_SCALE}, 0.01) AS b4_17,
    cast(sum(case when nullmask then 0 else 1 end) as bigint) AS non_null_count"""


def thresholds_sql(sensor: str = "LANDSAT8") -> str:
    """CTE ``thresholds``: threshold_aggs per cell over pass 1 — a small
    per-cell dimension table (rows == cells)."""
    return f"""
thresholds AS (
  SELECT cell_id,
    {threshold_aggs(sensor)}
  FROM pass1 GROUP BY cell_id
)
""".strip()


# ---------------------------------------------------------------------------
# pass 2: potentialCloudSecondPass transcription (fmask/fmask.py:616-680)
# ---------------------------------------------------------------------------


def pass2_sql(d: str, sensor: str = "LANDSAT8",
              eqn17_cloud_prob_thresh: float | None = None) -> str:
    """wCloud/lCloud probability (Eqns 9-11,14,16 + Zhu15 Eqns 1-2;
    fmask/fmask.py:616-680) with the reference's 8-bit quantization
    (clip then uint8-truncate, fmask/fmask.py:673-676), and the per-cell
    land threshold (Eqn 17 + 3% fallback, fmask/fmask.py:601-613).

    ``eqn17_cloud_prob_thresh`` is the constant term of the Eqn-17 land
    threshold — the reference's per-run setEqn17CloudProbThresh /
    --cloudprobthreshold knob (fmask/config.py:336-344; paper default
    0.2, Zhu's MATLAB later used 0.225). None uses the module default."""
    e17 = (C.EQN17_CLOUD_PROB_THRESH if eqn17_cloud_prob_thresh is None
           else float(eqn17_cloud_prob_thresh))
    quant = "cast(floor(least(greatest({p} * %s, %s), %s)) as int)" % (
        C.PROB_SCALE, C.BYTE_MIN, C.BYTE_MAX)
    has_cirrus = sensor in ("LANDSAT8", "SENTINEL2")
    cirrus_term = (f"+ p.ref_cirrus / {C.CIRRUS_PROB_RATIO}" if has_cirrus
                   else "+ 0.0")
    # thresholds is a per-cell dim (rows == cells); broadcast-hint it on
    # the Spark side so the pixel stream never pays an exchange+sort for
    # this join (guide §3.1 — the leaf views are stats-free, so the
    # planner's default is SortMergeJoin).
    hint_t = "/*+ BROADCAST(t) */ " if d == SPARK else ""
    return f"""
pass2 AS (
  SELECT p.*,
    {quant.format(p='w_cloud_prob')} AS wprob_pcnt,
    {quant.format(p='l_cloud_prob')} AS lprob_pcnt
  FROM (
    SELECT {hint_t}p.*,
      (coalesce((t.twater - p.bt) / 4.0, 1.0)
        * (least(p.ref_swir1, 0.11) / 0.11)
        {cirrus_term}) AS w_cloud_prob,
      ((case when t.thigh IS NOT NULL AND t.tlow IS NOT NULL
         then (t.thigh + 4 - p.bt) / ((t.thigh + 4) - (t.tlow - 4))
         else 1.0 end)
        * (cast(p.variability_prob_pcnt as double) / {C.PROB_SCALE})
        {cirrus_term}) AS l_cloud_prob,
      t.tlow AS g_tlow, t.thigh AS g_thigh, t.twater AS g_twater,
      t.b4_17 AS g_b4_17, t.non_null_count AS g_non_null_count
    FROM pass1 p JOIN thresholds t ON t.cell_id = p.cell_id
  ) p
),
landthr AS (
  SELECT cell_id, case
    when count_if(clear_land) < 0.03 * cast(max(g_non_null_count) as double)
      then {e17}
    else coalesce(cast({scoreatpcnt('lprob_pcnt', 82.5, 'clear_land')} as double)
                  / {C.PROB_SCALE} + {e17}, {e17})
    end AS land_threshold
  FROM pass2 GROUP BY cell_id
)
""".strip()


# ---------------------------------------------------------------------------
# pass 3: cloudFinalPass predicate part (fmask/fmask.py:722-759); the 3x3
# majority buffer (fmask/fmask.py:769-774) is appended by majority3_sql.
# ---------------------------------------------------------------------------


def pass3_sql(d: str, sensor: str = "LANDSAT8") -> str:
    cm3 = ("false" if sensor == "SENTINEL2" else
           f"((cast(p.lprob_pcnt as double) / {C.PROB_SCALE}) > 0.99"
           f" AND (NOT p.water_test AND NOT p.nullmask))")
    # landthr is one row per cell — broadcast on the Spark side
    # (guide §3.1); DuckDB rendering unchanged.
    hint = "/*+ BROADCAST(lt) */ " if d == SPARK else ""
    return f"""
pass3 AS (
  SELECT {hint}p.*,
    (NOT p.nullmask AND (
      (p.pcp AND p.water_test AND (cast(p.wprob_pcnt as double) / {C.PROB_SCALE}) > 0.5)
      OR (p.pcp AND (NOT p.water_test AND NOT p.nullmask)
          AND (cast(p.lprob_pcnt as double) / {C.PROB_SCALE}) > lt.land_threshold)
      OR {cm3}
      OR (p.g_tlow IS NOT NULL AND p.bt < (p.g_tlow - 35))
    )) AS cloud_raw
  FROM pass2 p JOIN landthr lt ON lt.cell_id = p.cell_id
)
""".strip()


def neighbor_offsets(radius: float) -> list[tuple[int, int]]:
    """Offsets of the circular buffer kernel (fmask/fmask.py:1086-1097)."""
    n = int(radius)
    out = []
    for dr in range(-n, n + 1):
        for dc in range(-n, n + 1):
            if (dr * dr + dc * dc) ** 0.5 <= radius:
                out.append((dr, dc))
    return out


def _reflect(expr: str, hi: str) -> str:
    """Reflect-mode border indexing used by scipy's uniform/maximum_filter
    (single-pixel offsets only need the one-step clamp form)."""
    return f"(case when {expr} < 0 then 0 when {expr} >= {hi} then {hi} - 1 else {expr} end)"


def majority3_sql(d: str, src: str, flag: str, out: str) -> str:
    """3x3 >=5-of-9 majority buffer (fmask/fmask.py:769-774) as a
    9-offset self-join, faithful to uniform_filter's reflect borders."""
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
            (1, -1), (1, 0), (1, 1)]
    values = ", ".join(f"({a}, {b})" for a, b in offs)
    W = C.SCENE_WIDTH
    return f"""
{src}_h AS (
  SELECT *, max(r) OVER (PARTITION BY cell_id) + 1 AS cell_h FROM {src}
),
offs3 AS (SELECT * FROM (VALUES {values}) AS v(dr, dc)),
{out} AS (
  SELECT p.*, (n.n_set >= 5) AS {out}_flag
  FROM {src}_h p
  JOIN (
    SELECT p.url AS _u,
      sum(case when q.{flag} then 1 else 0 end) AS n_set
    FROM {src}_h p
    CROSS JOIN offs3 o
    LEFT JOIN {src}_h q
      ON q.cell_id = p.cell_id
      AND q.r = {_reflect('p.r + o.dr', 'p.cell_h')}
      AND q.c = {_reflect('p.c + o.dc', str(W))}
    GROUP BY p.url
  ) n ON n._u = p.url
)
""".strip()


def dilate_sql(d: str, src: str, flag: str, out: str, radius: float) -> str:
    """Circular morphological dilation (maximum_filter with the
    makeBufferKernel footprint, fmask/fmask.py:1086-1097,1379-1380)
    as an offsets self-join with reflect borders."""
    offs = neighbor_offsets(radius)
    values = ", ".join(f"({a}, {b})" for a, b in offs)
    W = C.SCENE_WIDTH
    n = int(radius)
    # reflect for multi-step offsets: offsets <= radius < cell sizes in
    # practice; use full reflect formula abs-based (valid while |off| < hi).
    refl_r = (f"(case when p.r + o.dr < 0 then -(p.r + o.dr) - 1 "
              f"when p.r + o.dr >= p.cell_h then 2 * p.cell_h - (p.r + o.dr) - 1 "
              f"else p.r + o.dr end)")
    refl_c = (f"(case when p.c + o.dc < 0 then -(p.c + o.dc) - 1 "
              f"when p.c + o.dc >= {W} then 2 * {W} - (p.c + o.dc) - 1 "
              f"else p.c + o.dc end)")
    return f"""
offs_{out} AS (SELECT * FROM (VALUES {values}) AS v(dr, dc)),
{out} AS (
  SELECT p.*, (n.n_set > 0) AS {out}_flag
  FROM {src} p
  JOIN (
    SELECT p.url AS _u,
      sum(case when q.{flag} then 1 else 0 end) AS n_set
    FROM {src} p
    CROSS JOIN offs_{out} o
    LEFT JOIN {src} q
      ON q.cell_id = p.cell_id
      AND q.r = {refl_r}
      AND q.c = {refl_c}
    GROUP BY p.url
  ) n ON n._u = p.url
)
""".strip()
