"""Clump-parallel scene classification (the 100-TB shape of classify).

``pipeline.classify`` runs fill -> clumps -> 3-D clouds -> shadow match
-> finalize as ONE task per cell — semantically exact, but a Zipf-hot
mega-cell is a straggler/OOM unit. This module re-expresses the same
chain with every stage's task grain BOUNDED regardless of cell size,
mirroring the reference's own per-clump independence (matchShadows
loops clumps independently, /root/reference/fmask/fmask.py:1100-1185):

  stage 1  morphology        tiled (cell_id, tile) halo kernel
  stage 2  potential shadow  distributed fill-minima (tile fixpoint)
  stage 3  cloud clumps      cross-tile CCL, renumbered to scan order
  stage 4  3-D clouds +      applyInPandas over (cell_id, cloud_id) —
           shadow template   task size == clump size
  stage 5  shadow match      cogrouped applyInPandas over
                             (cell_id, cloud_id): template pixels x
                             search-window pixels (window rows are
                             tile-bucket equi-joined, never a range
                             scan; window height <= clump extent +
                             max sun-vector shift)
  stage 6  buffers+finalize  one fused tiled halo kernel + column CASE

Task-grain bounds: stages 1-3 and 6 are bounded by TILE (independent
of cell size); stages 4-5 are bounded by CLUMP extent — the
reference's own irreducible unit of shadow-matching work (a single
percolating mega-clump is one task there too). What this buys over
pipeline.classify is that a mega-CELL no longer serializes fill +
clumps + every clump's match into one task.

Constant-factor cost: ~10 stage barriers and 5 extra shuffles vs the
single-exchange whole-cell kernel — measured 10-30x total CPU at 1M
rows, shrinking as cells grow. Use pipeline.classify below ~10^5 rows
per cell; this path exists for the cell sizes where one task would
straggle or OOM.

Output is BIT-IDENTICAL to classify_scene / the independent oracle
fixture (tests/test_scene_dist.py; driver query
fmask_final_class_dist): per-pixel (fmask_class, cloud_id,
cloud_height_du, cloud_base_temp_c), with cloud_id in scipy scan-order
numbering.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import constants as C
from ..session import ensure_package_on_executors
from . import kernels
from .clumps import label_clumps_distributed
from .fillminima_dist import fill_minima_distributed
from .scene import FmaskParams

if TYPE_CHECKING:
    from ..pipeline import Scene


def _sweep_bounds(t_base, t_low, t_high, sun_az, sun_zen, sat_az, sat_zen,
                  x_res, y_res):
    """The height sweep's step count and endpoint (row, col) offsets
    (matchOneShadow setup, fmask/fmask.py:1188-1246). x/y offsets are
    LINEAR in the step index, so the endpoint placements bound every
    intermediate one — that's what makes the search window finite."""
    tl = 0.0 if t_low is None or (isinstance(t_low, float)
                                  and math.isnan(t_low)) else t_low
    th = 10.0 if t_high is None or (isinstance(t_high, float)
                                    and math.isnan(t_high)) else t_high
    h_lo = max(0.2, (tl - 4 - t_base) / 9.8) * C.METRES_PER_KM
    h_hi = min(12, (th + 4 - t_base)) * C.METRES_PER_KM
    tan_szen = math.tan(sun_zen)
    sin_saz = math.sin(sun_az)
    cos_saz = math.cos(sun_az)
    tan_vzen = math.tan(sat_zen)
    sin_vaz = math.sin(sat_az)
    cos_vaz = math.cos(sat_az)
    d_min, d_max = h_lo * tan_szen, h_hi * tan_szen
    x_off_min, x_off_max = d_min * sin_saz, d_max * sin_saz
    y_off_min, y_off_max = d_min * cos_saz, d_max * cos_saz
    longest = max(abs(x_off_max - x_off_min), abs(y_off_max - y_off_min))
    num_steps = max(1, int(np.ceil(longest / x_res)))
    x_step = (x_off_max - x_off_min) / num_steps
    y_step = (y_off_max - y_off_min) / num_steps

    def place(i):
        hh = (x_off_min + i * x_step) / (tan_szen * sin_saz)
        x_off = x_off_min + i * x_step - hh * tan_vzen * sin_vaz
        y_off = y_off_min + i * y_step - hh * tan_vzen * cos_vaz
        return int(y_off / y_res), int(x_off / x_res)

    return (num_steps, x_off_min, x_step, y_off_min, y_step,
            tan_szen, sin_saz, tan_vzen, sin_vaz, cos_vaz, place)


# stage-4 per-pixel output: projection + 3-D shape, one row per clump
# pixel (tr/tc = this pixel's shadow-template position)
_PX_SCHEMA = ("cell_id string, cloud_id bigint, r int, c int, "
              "height_du int, base_temp_c double, "
              "sat_az_m double, sat_zen_m double, tr int, tc int")


def _clump_kernel(pdf: pd.DataFrame,
                  has_thermal: bool = True) -> pd.DataFrame:
    """Per-clump 3-D cloud shape (cloudShapeFunc, fmask/fmask.py:896-951)
    + cloud-top shadow projection (makeCloudShadowShapes,
    fmask/fmask.py:959-1060). Scan-order sort reproduces the whole-scene
    kernel's summation order bit-for-bit. Without thermal the cloud is
    a flat 2-D shape and the match runs at Tcloudbase = 0 with NaN
    reported as the base temperature, matching classify_scene's
    no-thermal regime (fmask/fmask.py:913-951, matchShadows:1148-1152)."""
    pdf = pdf.sort_values(["r", "c"]).reset_index(drop=True)
    n_pix = len(pdf)
    if has_thermal:
        bt_cloud = pdf["bt"].to_numpy().astype(np.float64).copy()
        R = np.sqrt(n_pix / (2 * np.pi))
        if R >= 8:
            pct = 100.0 * (R - 8.0) ** 2 / (R ** 2)
            t_base = float(np.percentile(bt_cloud, pct))
        else:
            t_base = float(bt_cloud.min())
        bt_cloud[bt_cloud > t_base] = t_base
        h_rel = (t_base - bt_cloud) / C.LAPSE_RATE_WET
        height_du = np.round(h_rel * C.CLOUD_HEIGHT_SCALE).astype(np.uint8)
    else:
        t_base = float("nan")  # reported; the sweep maps NaN -> 0
        height_du = np.zeros(n_pix, dtype=np.uint8)

    sun_az = float(pdf["sun_az"].iloc[0])
    sun_zen = float(pdf["sun_zen"].iloc[0])
    sat_az = float((pdf["sat_az_cdn"].to_numpy().astype(np.int64)
                    * 0.01).mean())
    sat_zen = float((pdf["sat_zen_cdn"].to_numpy().astype(np.int64)
                     * 0.01).mean())
    H = int(pdf["cell_rows"].iloc[0])
    W = C.SCENE_WIDTH
    x_res, y_res = C.X_RES, C.Y_RES

    cloud_hgt = C.METRES_PER_KM * height_du.astype(np.float64) \
        / C.CLOUD_HEIGHT_SCALE
    x = pdf["c"].to_numpy() * x_res
    y = pdf["r"].to_numpy() * y_res
    d = cloud_hgt * np.float64(np.float32(np.tan(sun_zen)))
    x_dash = x - d * float(np.sin(sun_az))
    y_dash = y - d * float(np.cos(sun_az))
    tr = (y_dash / y_res).astype(np.uint32).clip(0, H - 1)
    tc = (x_dash / x_res).astype(np.uint32).clip(0, W - 1)

    return pd.DataFrame({
        "cell_id": pdf["cell_id"].to_numpy(),
        "cloud_id": pdf["cloud_id"].to_numpy().astype(np.int64),
        "r": pdf["r"].to_numpy().astype(np.int32),
        "c": pdf["c"].to_numpy().astype(np.int32),
        "height_du": height_du.astype(np.int32),
        "base_temp_c": np.full(n_pix, t_base),
        "sat_az_m": np.full(n_pix, sat_az),
        "sat_zen_m": np.full(n_pix, sat_zen),
        "tr": tr.astype(np.int32),
        "tc": tc.astype(np.int32),
    })


_MATCH_SCHEMA = "cell_id string, r int, c int"


def _match_one(trs, tcs, scal, cloud, pot, null, win_r0, wh, H):
    """One clump's height-sweep match (matchOneShadow,
    fmask/fmask.py:1188-1308) against a shared band raster, with bounds
    checks still done against the FULL cell raster so accepted
    placements are exactly the whole-scene kernel's. Returns (r, c,
    overlap) of the best placement above the 0.3 acceptance, or None."""
    W = C.SCENE_WIDTH
    x_res, y_res = C.X_RES, C.Y_RES
    t_base = scal["base_temp_c"]
    if isinstance(t_base, float) and math.isnan(t_base):
        t_base = 0.0  # no-thermal regime: Tcloudbase = 0
    (num_steps, *_rest, place) = _sweep_bounds(
        t_base, scal["g_tlow"], scal["g_thigh"],
        scal["sun_az"], scal["sun_zen"], scal["sat_az_m"],
        scal["sat_zen_m"], x_res, y_res)
    trow0 = int(trs.min())
    tcol0 = int(tcs.min())
    tnr = int(trs.max()) - trow0 + 1
    tnc = int(tcs.max()) - tcol0 + 1
    template = np.zeros((tnr, tnc), dtype=bool)
    template[trs - trow0, tcs - tcol0] = True

    best_sim = 0.0
    best = None
    for i in range(num_steps):
        row_off, col_off = place(i)
        r = trow0 - row_off
        c = tcol0 - col_off
        if not (0 <= r and r + tnr <= H and 0 <= c and c + tnc <= W):
            continue
        lr = r - win_r0
        if lr < 0 or lr + tnr > wh:
            # band under-covered (cannot happen: band halo = max window
            # span) — fail closed rather than silently wrong
            raise AssertionError("shadow search band under-covered")
        cl = cloud[lr:lr + tnr, c:c + tnc]
        ps = pot[lr:lr + tnr, c:c + tnc].copy()
        nu = null[lr:lr + tnr, c:c + tnc]
        ps[cl] = False
        ps[nu] = False
        tmpl = template.copy()
        tmpl[cl] = False
        tmpl[nu] = False
        shadow_area = tmpl.sum()
        overlap = np.logical_and(ps, tmpl)
        sim = float(overlap.sum()) / shadow_area if shadow_area > 0 else 0.0
        if sim > best_sim:
            best_sim = sim
            best = (r, c, overlap)
    if best_sim > 0.3 and best is not None:
        return best
    return None


def _match_band_kernel(left: pd.DataFrame, right: pd.DataFrame
                       ) -> pd.DataFrame:
    """Cogrouped BAND shadow match: ``left`` = template pixels +
    per-clump scalars of every clump whose search window STARTS in this
    row band; ``right`` = flag pixels of the band plus its halo (max
    window span). All of the band's clumps sweep against ONE copy of
    the band raster — the per-clump window duplication that made the
    naive (cell, cloud) join quadratic-ish in clump count is gone,
    while parallelism still scales with cell height (H / band_rows
    independent tasks), mirroring the reference's independent per-clump
    loop (fmask/fmask.py:1100-1185) at a grouped grain."""
    if left.empty or right.empty:
        return pd.DataFrame({"cell_id": pd.Series(dtype=object),
                             "r": pd.Series(dtype=np.int32),
                             "c": pd.Series(dtype=np.int32)})
    W = C.SCENE_WIDTH
    H = int(left["cell_rows"].iloc[0])
    wr = right["r"].to_numpy()
    win_r0 = int(wr.min())
    wh = int(wr.max()) - win_r0 + 1
    cloud = np.zeros((wh, W), dtype=bool)
    pot = np.zeros((wh, W), dtype=bool)
    null = np.ones((wh, W), dtype=bool)  # ghost slots are null
    wc = right["c"].to_numpy()
    cloud[wr - win_r0, wc] = right["cloudmask"].to_numpy().astype(bool)
    pot[wr - win_r0, wc] = right["potential_shadow"].to_numpy().astype(bool)
    null[wr - win_r0, wc] = right["nullmask"].to_numpy().astype(bool)

    out_r: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for _cid, grp in left.groupby("cloud_id", sort=True):
        g0 = grp.iloc[0]
        scal = {k: float(g0[k]) for k in
                ("base_temp_c", "g_tlow", "g_thigh", "sun_az", "sun_zen",
                 "sat_az_m", "sat_zen_m")}
        res = _match_one(grp["tr"].to_numpy(), grp["tc"].to_numpy(),
                         scal, cloud, pot, null, win_r0, wh, H)
        if res is not None:
            r, c, overlap = res
            orr, occ = np.where(overlap)
            out_r.append((r + orr).astype(np.int32))
            out_c.append((c + occ).astype(np.int32))
    if not out_r:
        return pd.DataFrame({"cell_id": pd.Series(dtype=object),
                             "r": pd.Series(dtype=np.int32),
                             "c": pd.Series(dtype=np.int32)})
    rr = np.concatenate(out_r)
    cc = np.concatenate(out_c)
    return pd.DataFrame({
        "cell_id": np.full(len(rr), left["cell_id"].iloc[0]),
        "r": rr, "c": cc})


def classify_distributed(spark: SparkSession, table: str = "documents",
                         params: FmaskParams | None = None,
                         cells: DataFrame | None = None,
                         runner=None,
                         sensor: str = "LANDSAT8",
                         s2_offsets: dict[str, int] | None = None,
                         tile_meta=None,
                         s2_cdi: bool = False) -> DataFrame:
    """Full classification with bounded task grains (see module doc).
    Returns the same schema as pipeline.classify.

    ``cells`` (a small DataFrame of cell_id) restricts the run to those
    cells — pipeline.classify's ``cells_mode="semi"`` — before the
    dist_p3 barrier, so every stage sees only them; classify_auto
    routes its mega-cells here this way. It cannot be combined with a
    ``runner``: the stage fingerprint does not cover the cell subset,
    so a resume would read another run's rows.

    ``runner`` (plans.lineage.StageRunner): materialize each stage
    barrier through a fingerprinted stage TABLE instead of
    localCheckpoint — the 100-TB shape. localCheckpoint pins executor
    memory/disk and dies with the session, so a mid-job failure
    restarts the whole five-barrier chain; stage tables survive
    restarts and a rerun skips every completed stage
    (tests/test_lineage.py::test_distributed_classify_resumes). The
    reference analogue is its keepIntermediates temp rasters
    (fmask/fmask.py:206-216)."""
    from .. import pipeline

    params = params or FmaskParams()
    return _classify_distributed(
        spark, pipeline.Scene(table, sensor, s2_offsets, s2_cdi, tile_meta,
                              **params.snow_kwargs()),
        params, cells, runner)


def _classify_distributed(spark: SparkSession, scene: Scene,
                          params: FmaskParams,
                          cells: DataFrame | None = None,
                          runner=None) -> DataFrame:
    from .. import pipeline, tiling

    if cells is not None and runner is not None:
        raise ValueError(
            "classify_distributed: cells= cannot be combined with a "
            "runner (the stage fingerprint does not cover the cell "
            "subset, so a resume would read another run's rows)")
    ensure_package_on_executors(spark)
    has_thermal = scene.sensor != "SENTINEL2"
    # Stage fingerprint folds in EVERYTHING that changes stage results:
    # the FmaskParams fields (min_cloud_size_px/buffers alter dist_flags
    # and the finalize), the scene key (rendered pass-1 SQL: sensor
    # dispatch, offsets, snow floors, angle grids, CDI, derive-formula
    # version), and the session's registered input identity (per-file
    # mtime/size) — so resuming in the same workdir after changing
    # params or rewriting the table re-runs instead of silently reusing
    # stale stage tables.
    fp = ("" if runner is None else pipeline.stage_fingerprint(
        spark, f"distv4||{params!r}||{scene.key()}"))

    def _mat(stage: str, build):
        """Stage barrier: fingerprinted stage table under a runner,
        session-scoped localCheckpoint otherwise. Both return a fresh
        leaf (LogicalRDD / parquet scan), which also keeps downstream
        attribute ids unambiguous."""
        if runner is not None:
            return runner.run(stage, fp, build)
        return build().localCheckpoint()

    view = pipeline._pass1_leaf(spark, scene, runner=runner)
    thr = (None if runner is not None
           else pipeline._thresholds_leaf(spark, scene))
    cols = ", ".join((*pipeline._KERNEL_COLS, "cell_rows"))

    def build_p3() -> DataFrame:
        p3 = spark.sql(pipeline.tail_sql_from_pass1(
            view, "pass3", f"SELECT {cols} FROM pass3", sensor=scene.sensor,
            thresholds_view=thr,
            eqn17_cloud_prob_thresh=params.eqn17_cloud_prob_thresh,
            pass1_cols=(*pipeline._KERNEL_P1_COLS, "cell_rows")))
        if cells is None:
            return p3
        return p3.join(F.broadcast(cells), "cell_id", "left_semi")

    p3 = _mat("dist_p3", build_p3)

    # --- stage 1: interim cloud mask, tiled (cloudFinalPass tail)
    raw = p3
    if params.min_cloud_size_px > 1:
        # The reference's size filter labels 4-CONNECTED
        # (fmask/fmask.py:762-767) — distinct from the 8-connected cloud
        # clumps of stage 3. Cross-tile 4-conn CCL over cloud_raw,
        # per-clump counts (map-side combinable), and the sub-threshold
        # clumps' pixels flip cloud_raw off before the majority filter —
        # exactly classify_scene's sizes[clumps0] < min masking.
        lab4 = label_clumps_distributed(
            raw.select("cell_id", "r", "c", "cloud_raw"),
            "cloud_raw", eight_connected=False)
        small_px = (lab4
                    .join(lab4.groupBy("cell_id", "clump_id").count()
                          .filter(F.col("count") <
                                  int(params.min_cloud_size_px))
                          .select("cell_id", "clump_id"),
                          ["cell_id", "clump_id"], "left_semi")
                    .select("cell_id", "r", "c")
                    .withColumn("small", F.lit(True)))
        raw = (raw.join(small_px, ["cell_id", "r", "c"], "left")
               .withColumn("cloud_raw",
                           F.expr("cloud_raw and small is null"))
               .drop("small"))
    # url never enters ANY intermediate stage: every per-pixel frame is
    # keyed (cell_id, r, c) — int composite keys shuffle/join cheaper
    # than a ~40-byte string, across all five stage barriers and the
    # fill fixpoint's up-to-64 halo rounds. Identity + digest join back
    # once at the end.
    maj = tiling.tiled_neighborhood(
        raw.select("cell_id", "r", "c", "cloud_raw", "nullmask"),
        kernels.majority3_buffer, "cloud_raw", "maj", radius=1,
        passthrough=("nullmask",), carry_url=False)
    cloudmask_df = maj.withColumn(
        "cloudmask", F.expr("maj and not nullmask")) \
        .select("cell_id", "r", "c", "cloudmask")

    # --- stage 2: potential shadow via distributed fill-minima.
    # The fixpoint needs ~H/tile_rows rounds for a fill wave to cross a
    # cell (each round propagates one halo), so a fixed 128-row tile
    # degenerates on mega-cells (measured: a 16k-row cell took ~60
    # rounds = 120+ stages). Adapt the FILL tile height to the tallest
    # cell: rounds stay ~16 while the per-task slab stays bounded at
    # tile_rows x 8 pixels.
    h_max = p3.agg(F.expr("max(cell_rows)")).collect()[0][0] or 1
    fill_tile = max(C.TILE_SIZE, -(-int(h_max) // 16))
    filled = fill_minima_distributed(
        p3.withColumn("nir17_dn", F.expr(f"g_b4_17 * {C.TOA_SCALE}"))
        .select("cell_id", "r", "c",
                F.expr("cast(nir as bigint) as nir"), "nir17_dn"),
        "nir", nullval=C.REF_NULL_DN, boundary_col="nir17_dn",
        tile_rows=fill_tile)
    pot = filled.selectExpr(
        "cell_id", "r", "c",
        # two-division form (filled/scale - nir/scale) matches
        # classify_scene and the reference doPotentialShadows exactly at
        # the threshold boundary (one-division (filled-nir)/scale flips
        # the comparison for integer DNs with filled-nir == 200).
        f"cast(cast(filled as double) / {C.TOA_SCALE} - "
        f"cast(nir as double) / {C.TOA_SCALE} > "
        f"{C.EQN19_NIR_FILL_THRESH} as boolean) AS potential_shadow")

    # per-pixel flag table for windows + finalize (one narrow frame)
    flags = _mat("dist_flags", lambda: (
        p3.select("cell_id", "r", "c", "nullmask",
                  "water_test", "snow", "bt", "cell_rows",
                  "g_tlow", "g_thigh", "sun_az", "sun_zen",
                  "sat_az_cdn", "sat_zen_cdn")
        .join(cloudmask_df, ["cell_id", "r", "c"])
        .join(pot, ["cell_id", "r", "c"])))

    # --- stage 3: clumps (cross-tile CCL), renumbered to the
    # whole-scene scipy scan-order ids (rank of first-pixel linear idx)
    lab = label_clumps_distributed(
        flags.select("cell_id", "r", "c", "cloudmask"), "cloudmask")
    renum = (lab.select("cell_id", "clump_id").distinct()
             .withColumn("cloud_id", F.expr(
                 "row_number() over (partition by cell_id "
                 "order by clump_id)").cast("bigint")))
    clump_px = (lab.join(F.broadcast(renum), ["cell_id", "clump_id"])
                .select("cell_id", "r", "c", "cloud_id"))

    # --- stage 4: per-clump 3-D shape + shadow template (task == clump)
    # Explicit repartition on the group key: AQE's size-based coalescing
    # is blind to Python CPU cost and was measured folding ALL clump
    # kernels into one task (their byte size is small); a user-specified
    # repartition survives AQE and keeps the clump grain.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    px = _mat("dist_px", lambda: (
        flags.join(clump_px, ["cell_id", "r", "c"])
        .repartition(n_part, "cell_id", "cloud_id")
        .groupBy("cell_id", "cloud_id")
        .applyInPandas(
            lambda pdf: _clump_kernel(pdf, has_thermal=has_thermal),
            schema=_PX_SCHEMA)))

    # --- stage 5: per-clump windowed shadow match (cogrouped)
    cell_dim = flags.groupBy("cell_id").agg(
        F.expr("first(cell_rows) AS cell_rows"),
        F.expr("first(g_tlow) AS g_tlow"),
        F.expr("first(g_thigh) AS g_thigh"),
        F.expr("first(sun_az) AS sun_az"),
        F.expr("first(sun_zen) AS sun_zen"))
    tmpl = px.join(F.broadcast(cell_dim), "cell_id")

    # window row range per clump from the sweep's endpoint placements.
    # The per-clump reduction (min/max template row + carried scalars)
    # runs as a JVM hash aggregate with map-side combine — only the
    # ~1-row-per-cloud dim reaches Python, never the template pixels.
    win_schema = ("cell_id string, cloud_id bigint, win_r0 int, win_r1 int")
    wdim0 = tmpl.groupBy("cell_id", "cloud_id").agg(
        F.expr("min(tr) AS trow0"), F.expr("max(tr) AS trmax"),
        F.expr("first(base_temp_c) AS base_temp_c"),
        F.expr("first(sat_az_m) AS sat_az_m"),
        F.expr("first(sat_zen_m) AS sat_zen_m"),
        F.expr("first(g_tlow) AS g_tlow"),
        F.expr("first(g_thigh) AS g_thigh"),
        F.expr("first(sun_az) AS sun_az"),
        F.expr("first(sun_zen) AS sun_zen"))

    def windows_map(batches):
        # Vectorized replay of _sweep_bounds' endpoint placements over
        # the whole clump dim (one row per cloud — this used to be a
        # per-row Python loop). np trig on arrays can differ from the
        # scalar libm calls inside the match kernel's _sweep_bounds by
        # ~1 ULP, which could flip an int() truncation at an exact
        # integer boundary — so the window is padded by one guard row
        # on each side. Windows only need to CONTAIN the sweep (they
        # pick the match band; the kernel re-derives exact placements),
        # so the padding cannot change any result.
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"cell_id": pd.Series(dtype=object),
                                    "cloud_id": pd.Series(dtype=np.int64),
                                    "win_r0": pd.Series(dtype=np.int32),
                                    "win_r1": pd.Series(dtype=np.int32)})
                continue
            tb = pdf["base_temp_c"].to_numpy(np.float64)
            tb = np.where(np.isnan(tb), 0.0, tb)  # no-thermal: Tbase=0
            tl = pdf["g_tlow"].to_numpy(np.float64)
            tl = np.where(np.isnan(tl), 0.0, tl)
            th = pdf["g_thigh"].to_numpy(np.float64)
            th = np.where(np.isnan(th), 10.0, th)
            sun_az = pdf["sun_az"].to_numpy(np.float64)
            sun_zen = pdf["sun_zen"].to_numpy(np.float64)
            sat_az = pdf["sat_az_m"].to_numpy(np.float64)
            sat_zen = pdf["sat_zen_m"].to_numpy(np.float64)
            h_lo = np.maximum(0.2, (tl - 4 - tb) / 9.8) * C.METRES_PER_KM
            h_hi = np.minimum(12, (th + 4 - tb)) * C.METRES_PER_KM
            tan_szen = np.tan(sun_zen)
            sin_saz, cos_saz = np.sin(sun_az), np.cos(sun_az)
            tan_vzen = np.tan(sat_zen)
            sin_vaz, cos_vaz = np.sin(sat_az), np.cos(sat_az)
            x_off_min = h_lo * tan_szen * sin_saz
            x_off_max = h_hi * tan_szen * sin_saz
            y_off_min = h_lo * tan_szen * cos_saz
            y_off_max = h_hi * tan_szen * cos_saz
            longest = np.maximum(np.abs(x_off_max - x_off_min),
                                 np.abs(y_off_max - y_off_min))
            num_steps = np.maximum(
                1, np.ceil(longest / C.X_RES)).astype(np.int64)
            x_step = (x_off_max - x_off_min) / num_steps
            y_step = (y_off_max - y_off_min) / num_steps
            trow0 = pdf["trow0"].to_numpy(np.int64)
            rows_ends = []
            for i in (np.zeros_like(num_steps), num_steps - 1):
                hh = (x_off_min + i * x_step) / (tan_szen * sin_saz)
                y_off = y_off_min + i * y_step - hh * tan_vzen * cos_vaz
                ro = np.trunc(y_off / C.Y_RES).astype(np.int64)
                rows_ends.append(trow0 - ro)
            rs = np.stack(rows_ends)
            tnr = pdf["trmax"].to_numpy(np.int64) - trow0 + 1
            win_r0 = np.maximum(0, rs.min(axis=0) - 1)  # -1: ULP guard
            win_r1 = rs.max(axis=0) + tnr  # (+ tnr - 1) + 1 ULP guard
            yield pd.DataFrame({
                "cell_id": pdf["cell_id"].to_numpy(),
                "cloud_id": pdf["cloud_id"].to_numpy(np.int64),
                "win_r0": win_r0.astype(np.int32),
                "win_r1": win_r1.astype(np.int32)})

    windows = _mat("dist_windows", lambda: wdim0.mapInPandas(
        windows_map, schema=win_schema))

    # Band the match: every clump whose window STARTS in a row band is
    # matched inside one task against ONE copy of the band raster
    # (halo = max window span), instead of duplicating ~window_span x 8
    # pixels PER CLOUD (measured: the per-cloud join amplified the
    # pixel table ~28x on a clump-dense mega-cell). Band height >= max
    # span keeps duplication <= 2x; parallelism = H / band_rows tasks.
    span = int(windows.agg(
        F.expr("max(win_r1 - win_r0 + 1)")).collect()[0][0] or 1)
    B = max(1024, span)
    wdim = windows.withColumn("band", F.expr(f"win_r0 div {B}"))
    tmpl_b = tmpl.join(wdim.select("cell_id", "cloud_id", "band"),
                       ["cell_id", "cloud_id"])

    T = C.TILE_SIZE
    # fresh leaf: both cogroup sides otherwise share the windows
    # lineage and its `band` attribute id is ambiguous to the analyzer
    bands = _mat("dist_bands",
                 lambda: wdim.select("cell_id", "band").distinct())
    band_tiles = bands.withColumn(
        "tile", F.explode(F.expr(
            f"sequence((band * {B}) div {T}, "
            f"((band + 1) * {B} + {span} - 1) div {T})")))
    wflags = flags.select("cell_id", "r", "c", "cloudmask",
                          "potential_shadow", "nullmask") \
        .withColumn("tile", F.expr(f"r div {T}"))
    # right-side keys aliased: cell_id/band would otherwise carry the
    # same attribute ids as the template side (checkpoints preserve
    # exprIds) and trip the analyzer's ambiguous-self-join check
    band_px = (wflags.join(band_tiles, ["cell_id", "tile"])
               .filter(f"r >= band * {B} "
                       f"and r < (band + 1) * {B} + {span}")
               .select(F.col("cell_id").alias("bcell"),
                       F.col("band").alias("bband"), "r", "c",
                       "cloudmask", "potential_shadow", "nullmask"))

    matched = (tmpl_b.repartition(n_part, "cell_id", "band")
               .groupBy("cell_id", "band")
               .cogroup(band_px.repartition(n_part, "bcell", "bband")
                        .groupBy("bcell", "bband"))
               .applyInPandas(lambda left, right:
                              _match_band_kernel(left, right),
                              schema=_MATCH_SCHEMA)
               .distinct())

    # --- stage 6: fused buffers (shadow r=3, cloud r=2) + finalize
    shadow_px = matched.withColumn("shadow_raw", F.lit(True))
    base = (flags.select("cell_id", "r", "c", "cloudmask",
                         "nullmask", "water_test", "snow")
            .join(shadow_px, ["cell_id", "r", "c"], "left")
            .withColumn("shadow_raw",
                        F.expr("coalesce(shadow_raw, false)")))

    sh_rad = params.shadow_buffer_px
    cl_rad = params.cloud_buffer_px

    def fused(slabs):
        sh = kernels.dilate(slabs["shadow_raw"], sh_rad) \
            if sh_rad > 0 else slabs["shadow_raw"]
        cl = kernels.dilate(slabs["cloudmask"], cl_rad) \
            if cl_rad > 0 else slabs["cloudmask"]
        return {"shadow_dil": sh, "cloud_dil": cl}

    rad = int(max(sh_rad, cl_rad, 1))
    buf = tiling.tiled_neighborhood_multi(
        base, fused, in_cols=("shadow_raw", "cloudmask"),
        out_cols=("shadow_dil", "cloud_dil"), radius=rad,
        passthrough=("nullmask", "water_test", "snow"),
        carry_url=False)

    out = buf.join(
        px.select("cell_id", "r", "c", "cloud_id", "height_du",
                  "base_temp_c"),
        ["cell_id", "r", "c"], "left")
    out = out.selectExpr(
        "cell_id", "r", "c",
        f"""cast(case
            when nullmask then {C.OUTCODE_NULL}
            when cloud_dil then {C.OUTCODE_CLOUD}
            when shadow_dil then {C.OUTCODE_SHADOW}
            when snow then {C.OUTCODE_SNOW}
            when water_test then {C.OUTCODE_WATER}
            else {C.OUTCODE_CLEAR} end as int) AS fmask_class""",
        "cast(coalesce(cloud_id, 0) as bigint) AS cloud_id",
        "cast(coalesce(height_du, 0) as int) AS cloud_height_du",
        "base_temp_c AS cloud_base_temp_c")
    # identity + digest join back, once, at the very end
    ident = p3.select("url", "cell_id", "r", "c")
    return (out.join(ident, ["cell_id", "r", "c"])
            .join(pipeline.text_digests(spark, view), "url")
            .select("url", "cell_id", "r", "c", "fmask_class", "cloud_id",
                    "cloud_height_du", "cloud_base_temp_c", "text_sha256"))
