"""Generate the shadow-chain oracle fixtures at sf0.01.

The shadow stages (fill-minima, clumps, 3-D clouds, shadow match;
fmask/fmask.py:781-1308) are not SQL-expressible, so their driver oracle
is a frozen parquet fixture computed by an independent replay:

  DuckDB runs the DUCKDB-dialect pass-1..3 SQL (no Spark involved)
    -> per-cell whole-scene NumPy kernel replay (kernels.py, the same
       functions the pytest bit-exactness suite validates)
    -> parquet fixtures under tests/fixtures/

oracle_sql() then reads the fixtures via read_parquet, upgrading
fmask_final_class / cloud_objects / potential_shadow_dist from
rows-only to full hash-checked driver queries. The Spark side runs the
DISTRIBUTED pipeline (applyInPandas scene kernel / tiled fill fixpoint),
so the compare proves distributed == whole-scene.

Usage: python scripts/make_shadow_fixture.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(SCRIPTS)
sys.path.insert(0, ROOT)
sys.path.insert(0, SCRIPTS)

from python_fmask_spark import constants as C  # noqa: E402
from python_fmask_spark import oracle  # noqa: E402
from python_fmask_spark.dialect import DUCKDB  # noqa: E402
from python_fmask_spark.operators import kernels  # noqa: E402
from python_fmask_spark.operators.scene import FmaskParams, classify_scene  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = (sys.argv[2] if len(sys.argv) > 2
           else os.path.join(ROOT, "tests", "fixtures"))

KERNEL_COLS = ("url, cell_id, r, c, sha256(text) AS text_sha256, nir, bt, "
               "nullmask, water_test, snow, cloud_raw, "
               "g_tlow, g_thigh, g_b4_17, sun_az, sun_zen, sat_az, sat_zen, "
               "sat_az_cdn, sat_zen_cdn")


def pass3_duckdb(con: duckdb.DuckDBPyConnection,
                 sensor: str = "LANDSAT8",
                 tile_meta=None,
                 extra_cols: str = "") -> pd.DataFrame:
    offs = oracle.S2_ZERO_OFFSETS if sensor == "SENTINEL2" else None
    ctes = oracle._ctes(DUCKDB, "pass3", angles=True, sensor=sensor,
                        s2_offsets=offs, tile_meta=tile_meta)
    return con.execute(
        f"{ctes} SELECT {KERNEL_COLS}{extra_cols} FROM pass3").df()


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    p3 = pass3_duckdb(con)
    params = FmaskParams()

    from independent_oracle import classify_scene_independent

    final_parts, shadow_parts = [], []
    for cell_id, pdf in p3.groupby("cell_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        # The fixture values come from the INDEPENDENT straight-line
        # transcription (scripts/independent_oracle.py) so the driver
        # check no longer compares classify_scene against itself; the
        # engine kernel is cross-checked against it right here and the
        # build fails loudly on any divergence.
        indep = classify_scene_independent(pdf)
        engine = classify_scene(pdf, params)
        pd.testing.assert_frame_equal(
            indep.sort_values("url").reset_index(drop=True),
            engine.sort_values("url").reset_index(drop=True),
            check_dtype=True)
        final_parts.append(indep)

        # potential-shadow replay: whole-scene fill-minima over NIR
        # (matches __spark_entry__._potential_shadow_dist semantics:
        # nullval=0, boundary b4_17*TOA_SCALE, Eqn-19 threshold).
        H = int(pdf["r"].max()) + 1
        W = C.SCENE_WIDTH
        nir = np.zeros((H, W), dtype=np.int64)
        nir[pdf["r"].to_numpy(), pdf["c"].to_numpy()] = \
            pdf["nir"].to_numpy().astype(np.int64)
        nir17_dn = float(pdf.iloc[0]["g_b4_17"]) * C.TOA_SCALE
        filled = kernels.fill_minima(nir, 0, nir17_dn)
        rr, cc = pdf["r"].to_numpy(), pdf["c"].to_numpy()
        shadow_parts.append(pd.DataFrame({
            "url": pdf["url"].to_numpy(),
            "cell_id": pdf["cell_id"].to_numpy(),
            "r": rr.astype(np.int32),
            "c": cc.astype(np.int32),
            "nir": nir[rr, cc],
            "filled": filled[rr, cc].astype(np.int64),
            "potential_shadow": (
                (filled[rr, cc] / C.TOA_SCALE
                 - nir[rr, cc] / C.TOA_SCALE)
                > C.EQN19_NIR_FILL_THRESH).astype(np.int32),
        }))

    final = pd.concat(final_parts, ignore_index=True)
    shadow = pd.concat(shadow_parts, ignore_index=True)
    final.to_parquet(f"{OUT_DIR}/shadow_oracle_final.parquet", index=False)
    shadow.to_parquet(f"{OUT_DIR}/shadow_oracle_fill.parquet", index=False)

    # Landsat 4-7 (TM/ETM+) regime: thermal chain like L8 but NO cirrus
    # band — 6 null-test bands, cirrus_band_test false in pass 1, no
    # cirrus term in pass 2, cloudmask3 active (fmask/config.py:33-40,
    # 123-133; fmask/fmask.py:290-306,747-757). Same independent /
    # engine cross-assert as the L8 fixture; the shadow kernel itself
    # is identical (both sensors have thermal), so this pins the
    # sensor DISPATCH through the full chain.
    p3l47 = pass3_duckdb(con, sensor="LANDSAT47")
    l47_parts = []
    for cell_id, pdf in p3l47.groupby("cell_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        indep = classify_scene_independent(pdf)
        engine = classify_scene(pdf, params)
        pd.testing.assert_frame_equal(
            indep.sort_values("url").reset_index(drop=True),
            engine.sort_values("url").reset_index(drop=True),
            check_dtype=True)
        l47_parts.append(indep)
    l47 = pd.concat(l47_parts, ignore_index=True)
    l47.to_parquet(f"{OUT_DIR}/shadow_oracle_final_l47.parquet",
                   index=False)

    # Sentinel-2 (no-thermal) regime: the full shadow chain with the
    # thermal terms degenerate (flat clouds, Tcloudbase = 0, Tlow/Thigh
    # -> 0/10 defaults, cloudmask3 off; fmask/fmask.py:645-649,747-748,
    # 913-951). Independent transcription vs engine cross-assert, same
    # as the L8 fixture.
    p3s2 = pass3_duckdb(con, sensor="SENTINEL2")
    s2_parts = []
    for cell_id, pdf in p3s2.groupby("cell_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        indep = classify_scene_independent(pdf, has_thermal=False)
        engine = classify_scene(pdf, params, has_thermal=False)
        pd.testing.assert_frame_equal(
            indep.sort_values("url").reset_index(drop=True),
            engine.sort_values("url").reset_index(drop=True),
            check_dtype=True)
        s2_parts.append(indep)
    s2 = pd.concat(s2_parts, ignore_index=True)
    s2.to_parquet(f"{OUT_DIR}/shadow_oracle_final_s2.parquet", index=False)

    # Sentinel-2 no-thermal regime with the tile XML's ANGLE GRIDS
    # wired in (S7 + sentinel2makeAnglesImage.py:95-123): the pass-3
    # frame's per-cell sun/view scalars AND the per-pixel *_cdn DN
    # stack come from bilinear lookups into the parsed fixture XML
    # grids (sen2meta.s2_grid_angle_parts) instead of the synthetic
    # swathe. Same independent/engine no-thermal cross-assert; the
    # fixture carries the 4 per-pixel DN columns so the driver hash is
    # provably sensitive to the XML grid values themselves.
    from python_fmask_spark import sen2meta
    tmeta = sen2meta.Sen2TileMeta.from_file(
        os.path.join(ROOT, "tests", "fixtures", "MTD_TL_fixture.xml"))
    p3grid = pass3_duckdb(con, sensor="SENTINEL2", tile_meta=tmeta,
                          extra_cols=", sun_az_cdn, sun_zen_cdn")
    grid_parts = []
    for cell_id, pdf in p3grid.groupby("cell_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        indep = classify_scene_independent(pdf, has_thermal=False)
        engine = classify_scene(pdf, params, has_thermal=False)
        pd.testing.assert_frame_equal(
            indep.sort_values("url").reset_index(drop=True),
            engine.sort_values("url").reset_index(drop=True),
            check_dtype=True)
        dn_cols = pdf[["url", "sat_az_cdn", "sat_zen_cdn",
                       "sun_az_cdn", "sun_zen_cdn"]].astype(
            {c: "int32" for c in ("sat_az_cdn", "sat_zen_cdn",
                                  "sun_az_cdn", "sun_zen_cdn")})
        grid_parts.append(indep.merge(dn_cols, on="url"))
    s2grid = pd.concat(grid_parts, ignore_index=True)
    # the grid angles must actually differ from the synthetic stack
    # (otherwise this fixture proves nothing beyond the plain-S2 one)
    syn = p3s2[["url", "sat_az_cdn"]].rename(
        columns={"sat_az_cdn": "syn_cdn"})
    n_diff = (s2grid.merge(syn, on="url")
              .query("sat_az_cdn != syn_cdn").shape[0])
    assert n_diff > 0, "grid angles identical to synthetic stack"
    s2grid.to_parquet(f"{OUT_DIR}/shadow_oracle_final_s2_grid.parquet",
                      index=False)
    print(f"s2_grid: {len(s2grid)} rows, {n_diff} px with "
          f"grid-vs-synthetic sat_az_cdn divergence")

    # Sentinel-2 no-thermal WITH the CDI displacement test composed
    # into pass 1 (setSen2displacementTest end-to-end): DuckDB renders
    # the composed chain (recursive-CTE CDI + redefined pass1,
    # oracle._ctes_s2_cdi) -> pass-3 frame -> the same independent /
    # engine no-thermal kernel cross-assert as the plain S2 fixture.
    ctes_cdi = oracle._ctes_s2_cdi(DUCKDB, "pass3",
                                   oracle.S2_ZERO_OFFSETS, angles=True)
    p3cdi = con.execute(
        f"{ctes_cdi} SELECT {KERNEL_COLS}, cast(pcp as int) AS pcp_i "
        f"FROM pass3").df()
    cdi_parts = []
    for cell_id, pdf in p3cdi.groupby("cell_id", sort=True):
        pdf = pdf.reset_index(drop=True)
        indep = classify_scene_independent(pdf, has_thermal=False)
        engine = classify_scene(pdf, params, has_thermal=False)
        pd.testing.assert_frame_equal(
            indep.sort_values("url").reset_index(drop=True),
            engine.sort_values("url").reset_index(drop=True),
            check_dtype=True)
        # carry the composed pass-1 pcp so the driver hash is sensitive
        # to the CDI effect itself (the smoothed final class may not be)
        indep = indep.merge(
            pdf[["url", "pcp_i"]].astype({"pcp_i": "int32"}), on="url")
        cdi_parts.append(indep)
    s2cdi = pd.concat(cdi_parts, ignore_index=True)
    s2cdi.to_parquet(f"{OUT_DIR}/shadow_oracle_final_s2_cdi.parquet",
                     index=False)
    print(f"wrote {len(final)} final rows, {len(shadow)} fill rows, "
          f"{len(l47)} l47 rows, {len(s2)} s2 rows, {len(s2cdi)} s2+cdi "
          f"rows, {len(s2grid)} s2-grid rows to {OUT_DIR} "
          f"(from {SF_DIR})")


if __name__ == "__main__":
    main()
