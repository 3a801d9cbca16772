"""Per-scene (per-cell) classification kernel: everything in doFmask after
pass 3's predicate (fmask/fmask.py:96-221 stages SHADOW..FINAL), vectorized
NumPy over one cell's raster inside ``applyInPandas``.

The reference runs each Landsat/Sentinel scene in a single process; our
scene == H3 cell, so per-cell kernels are semantically exact. Cross-cell
distribution comes from Spark's shuffle over cell_id; intra-cell
distribution (for mega-cells) uses the tiled operators in tiling.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .. import bitpack
from .. import constants as C
from . import kernels


@dataclass(frozen=True)
class FmaskParams:
    cloud_buffer_px: float = C.CLOUD_BUFFER_SIZE
    shadow_buffer_px: float = C.SHADOW_BUFFER_SIZE
    min_cloud_size_px: int = C.MIN_CLOUD_SIZE_PIXELS
    # Eqn-17 land-threshold constant — the reference's per-run
    # setEqn17CloudProbThresh / CLI --cloudprobthreshold knob
    # (fmask/config.py:336-344): paper default 0.2, Zhu's MATLAB
    # later moved to 0.225. Threaded into the pass-2 landthr CTE.
    eqn17_cloud_prob_thresh: float = C.EQN17_CLOUD_PROB_THRESH
    # Eqn-20 snow-test reflectance floors — setEqn20NirSnowThresh /
    # setEqn20GreenSnowThresh, CLI --nirsnowthreshold /
    # --greensnowthreshold (fmask/config.py:354-368; applied
    # fmask/fmask.py:452-453). These change pass 1 itself, so a
    # non-default value materializes its own pass-1 leaf
    # (pipeline.Scene.key).
    nir_snow_thresh: float = C.EQN20_NIR_SNOW_THRESH
    green_snow_thresh: float = C.EQN20_GREEN_SNOW_THRESH

    def snow_kwargs(self) -> dict:
        """The Eqn-20 knobs as materialize_pass1/_thresholds kwargs, None
        at the default. Only perfbench calls it; the engine reads
        pipeline.Scene.params."""
        return {
            "nir_snow_thresh": (
                None if self.nir_snow_thresh == C.EQN20_NIR_SNOW_THRESH
                else self.nir_snow_thresh),
            "green_snow_thresh": (
                None if self.green_snow_thresh == C.EQN20_GREEN_SNOW_THRESH
                else self.green_snow_thresh),
        }

    @classmethod
    def strict(cls, **overrides) -> "FmaskParams":
        """The reference's setStrictFmask preset (fmask/config.py:269,
        applied fmask/fmask.py:151-154): run strictly as per the Zhu &
        Woodcock paper — no cloud buffer, 3-px shadow buffer; all other
        knobs at their paper defaults. ``overrides`` fine-tune on top."""
        base = dict(cloud_buffer_px=0, shadow_buffer_px=3)
        base.update(overrides)
        return cls(**base)


def _opt(v) -> float | None:
    """A nullable threshold as the kernels expect it: NaN/None -> None."""
    return None if pd.isna(v) else float(v)


def classify_scene(pdf: pd.DataFrame, params: FmaskParams = FmaskParams(),
                   has_thermal: bool = True) -> pd.DataFrame:
    """Input: one cell's pass-3 pixel rows. Output: per-url final class.

    Stages (reference provenance):
      interim cloud  = Eqn18 + optional size filter + 3x3 majority
                       (cloudFinalPass, fmask/fmask.py:722-778)
      potential shadow = fillMinima on NIR + Eqn19 (fmask/fmask.py:781-830)
      clumps         = 8-conn label (fmask/fmask.py:833-844)
      per clump      = kernels.clump_shadow (3-D cloud, Eqns 22-24, and
                       its sun-vector shadow template; fmask/fmask.py:
                       896-1060), then the height-sweep match, accept
                       sim > 0.3 (fmask/fmask.py:1100-1308)
      finalize       = buffers + precedence merge (fmask/fmask.py:1357-1396)

    Without thermal the clouds are flat 2-D shapes and every match runs
    at Tcloudbase = 0 (fmask/fmask.py:913-951 else-branch,
    matchShadows:1148-1152); scene_dist's clump kernel calls the same
    clump_shadow."""
    rr = pdf["r"].to_numpy()
    cc = pdf["c"].to_numpy()
    H = int(rr.max()) + 1
    W = C.SCENE_WIDTH

    def raster(col, fill, dtype):
        return kernels.raster(rr, cc, pdf[col].to_numpy(), (H, W), fill,
                              dtype)

    # Ghost slots (beyond the last document) are null pixels.
    nullmask = raster("nullmask", True, bool)
    cloud_raw = raster("cloud_raw", False, bool)
    water = raster("water_test", False, bool)
    snow = raster("snow", False, bool)
    nir_dn = raster("nir", 0, np.int64)
    bt = raster("bt", 0.0, np.float64)
    sat_az_cdn = raster("sat_az_cdn", 0, np.int64)
    sat_zen_cdn = raster("sat_zen_cdn", 0, np.int64)

    row0 = pdf.iloc[0]
    t_low, t_high = _opt(row0["g_tlow"]), _opt(row0["g_thigh"])
    b4_17 = float(row0["g_b4_17"])
    sun_az, sun_zen = float(row0["sun_az"]), float(row0["sun_zen"])

    # --- interim cloud mask (cloudFinalPass tail, fmask/fmask.py:761-776)
    # and its buffer, which finalize below uses
    cloudmask = cloud_raw.copy()
    if params.min_cloud_size_px > 1:
        clumps0, _ = kernels.label_components(cloudmask, eight_connected=False)
        sizes = np.bincount(clumps0.ravel())
        sizes[0] = 0
        cloudmask[sizes[clumps0] < params.min_cloud_size_px] = False
    cloudmask, cloud_final = kernels.interim_cloud(
        cloudmask, nullmask, params.cloud_buffer_px)

    # --- potential shadow (doPotentialShadows, fmask/fmask.py:781-830)
    nir17_dn = b4_17 * C.TOA_SCALE  # NIRoffset 0 (fmask/fmask.py:800-806)
    filled = kernels.fill_minima(nir_dn, C.REF_NULL_DN, nir17_dn)
    nir_units = nir_dn / C.TOA_SCALE
    filled_units = filled / C.TOA_SCALE
    potential_shadow = (filled_units - nir_units) > C.EQN19_NIR_FILL_THRESH

    # --- clump clouds (fmask/fmask.py:833-844, 8-connected)
    clumps, _n = kernels.label_components(cloudmask, eight_connected=True)

    # --- per clump: 3-D cloud, shadow template and match
    # (fmask/fmask.py:896-1060,1100-1185)
    cloud_shape = np.zeros((H, W), dtype=np.uint8)
    base_temp_img = np.full((H, W), np.nan)
    shadowmask = np.zeros((H, W), dtype=bool)
    for _cloud_id, flat_ndx in kernels.clump_groups(clumps):
        ndx = (flat_ndx // W, flat_ndx % W)
        t_base, cloud_shape[ndx], entry = kernels.clump_shadow(
            ndx[0], ndx[1], bt[ndx] if has_thermal else None,
            sat_az_cdn[ndx], sat_zen_cdn[ndx], sun_az, sun_zen, (H, W))
        base_temp_img[ndx] = t_base
        matched = kernels.match_one_shadow(
            cloudmask, entry, potential_shadow, t_base, t_low, t_high,
            nullmask)
        if matched is not None:
            shadowmask[matched] = True
    shadowmask = kernels.dilate(shadowmask, params.shadow_buffer_px)

    # --- finalize (maskAndBuffer, fmask/fmask.py:1357-1396)
    out = np.full((H, W), C.OUTCODE_CLEAR, dtype=np.uint8)
    out[water] = C.OUTCODE_WATER
    out[snow] = C.OUTCODE_SNOW
    out[shadowmask] = C.OUTCODE_SHADOW
    out[cloud_final] = C.OUTCODE_CLOUD
    out[nullmask] = C.OUTCODE_NULL

    cols = {}
    if "url" in pdf.columns:
        # direct (non-pipeline) callers still pass the identity through;
        # the pipeline's slim exchange joins url back JVM-side instead
        cols["url"] = pdf["url"].to_numpy()
    cols.update({
        "cell_id": pdf["cell_id"].to_numpy(),
        "r": rr.astype(np.int32),
        "c": cc.astype(np.int32),
        "fmask_class": out[rr, cc].astype(np.int32),
        "cloud_id": clumps[rr, cc].astype(np.int64),
        "cloud_height_du": cloud_shape[rr, cc].astype(np.int32),
        "cloud_base_temp_c": base_temp_img[rr, cc],
    })
    res = pd.DataFrame(cols)
    if "text_sha256" in pdf.columns:
        # direct (non-pipeline) callers may still pass the digest through
        res["text_sha256"] = pdf["text_sha256"].to_numpy()
    return res


# --- slim scene exchange -----------------------------------------------
# The groupBy(cell_id) sort feeding applyInPandas exchanges every field
# as an 8-byte UnsafeRow slot plus variable-length string bytes, and the
# sort SPILLS what doesn't fit (measured 8.3 GB at 40.96M rows). The slim
# form cuts the exchanged row from 19 fields + url (~210 B) to 8 fields
# (~90 B): url is dropped entirely (identity joins back JVM-side on
# (cell_id, r, c)), the four booleans pack into ONE tinyint bitmask, and
# the five per-cell constants ride a separate 1-row-per-cell dim frame
# through cogroup instead of repeating on every pixel row — the same
# shape as the reference streaming uint8 stacks between passes
# (fmask/fmask.py:459-460).

# The kernel's own output carries NO document digest: shipping a 64-byte
# passthrough string through Arrow both ways is the single biggest
# non-scaling cost of the stage (measured: ~2x the trivial-kernel
# plumbing time at 10M rows). pipeline.classify joins url and
# text_sha256 back JVM-side after the kernel.
SCENE_OUT_SCHEMA_SLIM = ("cell_id string, r int, c int, "
                         "fmask_class int, cloud_id bigint, "
                         "cloud_height_du int, cloud_base_temp_c double")

# the booleans packed into the slim exchange's `flags` tinyint
_FLAGS = ("nullmask", "water_test", "snow", "cloud_raw")

PX_EXCHANGE_SQL = (
    "cell_id, cast(r as int) AS r, cast(c as int) AS c, "
    "cast(nir as int) AS nir, bt, "
    f"{bitpack.pack_sql(_FLAGS)} AS flags, "
    "cast(sat_az_cdn as int) AS sat_az_cdn, "
    "cast(sat_zen_cdn as int) AS sat_zen_cdn")

# the SQL expressions that unpack `flags` back into its booleans
FLAGS_SQL = bitpack.unpack_sql(_FLAGS, "flags")

DIM_COLS = ("g_tlow", "g_thigh", "g_b4_17", "sun_az", "sun_zen")

# Eqn 19 over a frame's `filled` and `nir` DNs, in the two-division form
# (filled/scale - nir/scale) of classify_scene and the reference
# doPotentialShadows (fmask/fmask.py:781-830): the one-division
# (filled-nir)/scale flips the comparison for integer DNs with
# filled-nir == 200, exactly at the threshold.
POTENTIAL_SHADOW_SQL = (
    f"cast(filled as double) / {C.TOA_SCALE} - "
    f"cast(nir as double) / {C.TOA_SCALE} > {C.EQN19_NIR_FILL_THRESH}")


def class_sql(cloud: str, shadow: str | None = None) -> str:
    """The class precedence merge (maskAndBuffer, fmask/fmask.py:
    1357-1396) as a SQL column over a frame's nullmask, snow and
    water_test and the named cloud [and shadow] masks: null, then cloud,
    [then shadow,] then snow, then water, else clear."""
    shadow_when = (f"when {shadow} then {C.OUTCODE_SHADOW} "
                   if shadow else "")
    return (f"cast(case when nullmask then {C.OUTCODE_NULL} "
            f"when {cloud} then {C.OUTCODE_CLOUD} {shadow_when}"
            f"when snow then {C.OUTCODE_SNOW} "
            f"when water_test then {C.OUTCODE_WATER} "
            f"else {C.OUTCODE_CLEAR} end as int) AS fmask_class")

_EMPTY_SLIM = pd.DataFrame({
    "cell_id": pd.Series(dtype=object),
    "r": pd.Series(dtype="int32"), "c": pd.Series(dtype="int32"),
    "fmask_class": pd.Series(dtype="int32"),
    "cloud_id": pd.Series(dtype="int64"),
    "cloud_height_du": pd.Series(dtype="int32"),
    "cloud_base_temp_c": pd.Series(dtype="float64"),
})


def unpack_exchange(px: pd.DataFrame, dims: pd.DataFrame) -> pd.DataFrame:
    """Reconstitute the full-width per-cell frame classify_scene expects
    from the slim pixel frame + 1-row cell dim frame (pure pandas column
    assignment — no Arrow cost; scalar assignment broadcasts)."""
    pdf = pd.DataFrame({
        "cell_id": px["cell_id"].to_numpy(),
        "r": px["r"].to_numpy(), "c": px["c"].to_numpy(),
        "nir": px["nir"].to_numpy(), "bt": px["bt"].to_numpy(),
        "sat_az_cdn": px["sat_az_cdn"].to_numpy(),
        "sat_zen_cdn": px["sat_zen_cdn"].to_numpy(),
        **bitpack.unpack(px["flags"].to_numpy(), _FLAGS),
    })
    d0 = dims.iloc[0]
    for k in DIM_COLS:
        pdf[k] = d0[k]
    return pdf


def scene_cogroup_kernel(params: FmaskParams, has_thermal: bool = True):
    """Cogrouped kernel over (slim pixel frame, cell dim frame)."""
    def kernel(px: pd.DataFrame, dims: pd.DataFrame) -> pd.DataFrame:
        if px.empty or dims.empty:
            return _EMPTY_SLIM
        return classify_scene(unpack_exchange(px, dims), params,
                              has_thermal=has_thermal)
    return kernel
