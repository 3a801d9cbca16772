"""Clump-parallel scene classification (the 100-TB shape of classify).

``pipeline.classify`` runs fill -> clumps -> 3-D clouds -> shadow match
-> finalize as ONE task per cell — semantically exact, but a Zipf-hot
mega-cell is a straggler/OOM unit. This module re-expresses the same
chain with every stage's task grain BOUNDED regardless of cell size,
mirroring the reference's own per-clump independence (matchShadows
loops clumps independently, fmask/fmask.py:1100-1185):

  stage 1  cloud mask +      cloud_layers: one tiled (cell_id, tile)
           cloud buffer      halo kernel, shared with
                             pipeline.interim_class_kernel
  stage 2  potential shadow  distributed fill-minima (tile fixpoint)
  stage 3  cloud clumps      cross-tile CCL, renumbered to scan order
  stage 4  3-D clouds +      applyInPandas over (cell_id, cloud_id) —
           shadow template   task size == clump size; also emits each
           + search window   clump's search-window rows
  stage 5  shadow match      cogrouped applyInPandas over (cell_id, row
                             band): the band's template pixels x the
                             band's flag pixels (tile-bucket
                             equi-joined, never a range scan; window
                             height <= clump extent + max sun-vector
                             shift)
  stage 6  shadow buffer +   one tiled halo kernel + scene.class_sql
           finalize

Inputs are pipeline.scene_exchange's three frames, as for the
whole-cell kernel: the ``dist_p3`` barrier stores the pixel frame with
its flags unpacked (cell_id, r, c, nir, bt, the four booleans and the
two view-angle DNs); the fill boundary and the stage-4/5 kernels get
their per-cell scalars by a broadcast join of the dims frame, and the
identity frame joins back once at the end.

Stage 4 calls kernels.clump_shadow on each clump, the per-clump step
classify_scene loops over a cell's clumps; stage 5 calls
kernels.match_one_shadow on a row band. Both classify paths thus share
one copy of the shadow algorithm and its arithmetic.

Task-grain bounds: stages 1-3 and 6 are bounded by TILE (independent
of cell size); stages 4-5 are bounded by CLUMP extent — the
reference's own irreducible unit of shadow-matching work (a single
percolating mega-clump is one task there too). What this buys over
pipeline.classify is that a mega-CELL no longer serializes fill +
clumps + every clump's match into one task.

Constant-factor cost: three stage barriers (``dist_p3``, ``dist_flags``,
``dist_px``, each a plans.lineage.barrier) on top of the exchange's two
leaves, the clump and fill-minima checkpoints, and 5 extra shuffles vs
the single-exchange whole-cell kernel — measured 10-30x total CPU at 1M
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

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import constants as C
from .. import tiling
from ..plans.lineage import barrier, output_cut
from ..session import ensure_package_on_executors
from . import kernels
from .clumps import drop_small_clouds, label_clumps_distributed
from .fillminima_dist import fill_minima_distributed
from .scene import (FLAGS_SQL, POTENTIAL_SHADOW_SQL, FmaskParams, _opt,
                    class_sql)

if TYPE_CHECKING:
    from ..pipeline import Scene


# stage-4 per-pixel output: 3-D shape + projection, one row per clump
# pixel (tr/tc = this pixel's shadow-template position; win_r0/win_r1 =
# the clump's search-window rows, constant per clump)
_PX_SCHEMA = ("cell_id string, cloud_id bigint, r int, c int, "
              "height_du int, base_temp_c double, "
              "sat_az_m double, sat_zen_m double, tr int, tc int, "
              "win_r0 int, win_r1 int")


def cloud_layers(p3: DataFrame, params: FmaskParams) -> DataFrame:
    """Stage 1 of both tiled classify paths, the interim cloud mask and
    its buffer (cloudFinalPass's tail, fmask/fmask.py:761-776, and the
    cloud half of maskAndBuffer, :1357-1396): ``p3`` (cell_id, r, c and
    the four FLAGS_SQL booleans) through clumps.drop_small_clouds, then
    ONE tile pass of kernels.interim_cloud: 3x3 majority, ``& ~nullmask``
    and the cloud-buffer dilation (halo 1 + buffer radius), with a
    ragged last row's ghost slots null as in classify_scene. Returns
    (cell_id, r, c, cloud_m, clouddil, cloud_raw, nullmask, water_test,
    snow); cloud_raw is the size filter's output."""
    def fused(slabs: dict) -> dict:
        cloud_m, clouddil = kernels.interim_cloud(
            slabs["cloud_raw"], slabs["nullmask"], params.cloud_buffer_px)
        return {"cloud_m": cloud_m, "clouddil": clouddil}

    return tiling.tiled_neighborhood(
        drop_small_clouds(p3, params.min_cloud_size_px), fused,
        in_cols=("cloud_raw", "nullmask"), out_cols=("cloud_m", "clouddil"),
        radius=1 + int(params.cloud_buffer_px),
        passthrough=("water_test", "snow"))


def _clump_kernel(pdf: pd.DataFrame,
                  has_thermal: bool = True) -> pd.DataFrame:
    """One clump's shadow step (kernels.clump_shadow, the call
    classify_scene makes per clump, with ``bt=None`` as its no-thermal
    regime) and its search window: the rows the height sweep's end
    placements (kernels.shadow_sweep) span. The scan-order sort
    reproduces the whole-cell kernel's pixel order bit-for-bit."""
    pdf = pdf.sort_values(["r", "c"]).reset_index(drop=True)
    n_pix = len(pdf)
    g0 = pdf.iloc[0]
    rows = pdf["r"].to_numpy()
    t_base, height_du, entry = kernels.clump_shadow(
        rows, pdf["c"].to_numpy(),
        pdf["bt"].to_numpy() if has_thermal else None,
        pdf["sat_az_cdn"].to_numpy(), pdf["sat_zen_cdn"].to_numpy(),
        float(g0["sun_az"]), float(g0["sun_zen"]),
        (int(g0["cell_rows"]), C.SCENE_WIDTH))
    (tr, tc), sat_az, sat_zen, sun_az, sun_zen = entry

    # The match calls shadow_sweep again on the same doubles, so these
    # end placements are exactly the ones it will try.
    num_steps, place = kernels.shadow_sweep(
        t_base, _opt(g0["g_tlow"]), _opt(g0["g_thigh"]), sun_az, sun_zen,
        sat_az, sat_zen)
    trow0 = int(tr.min())
    ends = [trow0 - place(i)[0] for i in (0, num_steps - 1)]
    win_r0 = max(0, min(ends))
    win_r1 = max(ends) + int(tr.max()) - trow0

    return pd.DataFrame({
        "cell_id": pdf["cell_id"].to_numpy(),
        "cloud_id": pdf["cloud_id"].to_numpy().astype(np.int64),
        "r": rows.astype(np.int32),
        "c": pdf["c"].to_numpy().astype(np.int32),
        "height_du": height_du.astype(np.int32),
        "base_temp_c": np.full(n_pix, t_base),
        "sat_az_m": np.full(n_pix, sat_az),
        "sat_zen_m": np.full(n_pix, sat_zen),
        "tr": tr.astype(np.int32),
        "tc": tc.astype(np.int32),
        "win_r0": np.full(n_pix, win_r0, dtype=np.int32),
        "win_r1": np.full(n_pix, win_r1, dtype=np.int32),
    })


_MATCH_SCHEMA = "cell_id string, r int, c int"
_NO_MATCH = pd.DataFrame({"cell_id": pd.Series(dtype=object),
                          "r": pd.Series(dtype=np.int32),
                          "c": pd.Series(dtype=np.int32)})


def _match_band_kernel(left: pd.DataFrame, right: pd.DataFrame
                       ) -> pd.DataFrame:
    """Cogrouped BAND shadow match: ``left`` = template pixels +
    per-clump scalars of every clump whose search window STARTS in this
    row band; ``right`` = flag pixels of the band plus its halo (max
    window span). All of the band's clumps sweep against ONE copy of
    the band raster (kernels.match_one_shadow with the band's row
    offset) — the per-clump window duplication that made the
    naive (cell, cloud) join quadratic-ish in clump count is gone,
    while parallelism still scales with cell height (H / band_rows
    independent tasks), mirroring the reference's independent per-clump
    loop (fmask/fmask.py:1100-1185) at a grouped grain."""
    if left.empty or right.empty:
        return _NO_MATCH
    H = int(left["cell_rows"].iloc[0])
    wr = right["r"].to_numpy()
    win_r0 = int(wr.min())
    shape = (int(wr.max()) - win_r0 + 1, C.SCENE_WIDTH)

    def raster(col, fill):
        return kernels.raster(wr - win_r0, right["c"].to_numpy(),
                              right[col].to_numpy(), shape, fill, bool)

    cloud = raster("cloudmask", False)
    pot = raster("potential_shadow", False)
    null = raster("nullmask", True)  # ghost slots are null

    out_r: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for _cid, grp in left.groupby("cloud_id", sort=True):
        g0 = grp.iloc[0]
        entry = ((grp["tr"].to_numpy(), grp["tc"].to_numpy()),
                 float(g0["sat_az_m"]), float(g0["sat_zen_m"]),
                 float(g0["sun_az"]), float(g0["sun_zen"]))
        res = kernels.match_one_shadow(
            cloud, entry, pot, float(g0["base_temp_c"]),
            _opt(g0["g_tlow"]), _opt(g0["g_thigh"]), null, row0=win_r0,
            img_nrows=H)
        if res is not None:
            out_r.append(res[0].astype(np.int32))
            out_c.append(res[1].astype(np.int32))
    if not out_r:
        return _NO_MATCH
    rr = np.concatenate(out_r)
    cc = np.concatenate(out_c)
    return pd.DataFrame({
        "cell_id": np.full(len(rr), left["cell_id"].iloc[0]),
        "r": rr, "c": cc})


def classify_distributed(spark: SparkSession, table: str = "documents",
                         runner=None, **scene) -> DataFrame:
    """Full classification with bounded task grains (see module doc).
    Returns the same schema as pipeline.classify; ``scene`` is
    pipeline.Scene's fields but ``table``.

    ``runner`` (plans.lineage.StageRunner): every barrier (pass1,
    thresholds, dist_p3, dist_flags, dist_px) becomes a fingerprinted
    stage TABLE instead of a localCheckpoint — the 100-TB shape.
    localCheckpoint pins executor memory/disk and dies with the
    session; stage tables survive restarts and a rerun skips every
    completed stage
    (tests/test_lineage.py::test_distributed_classify_resumes). The
    reference analogue is its keepIntermediates temp rasters
    (fmask/fmask.py:206-216).

    The returned frame is cut once, as pipeline.classify's is
    (plans.lineage.output_cut): calling this runs the barriers and the
    shuffle stages after them, and the first action on the frame
    computes and caches the rows every later action reads."""
    from .. import pipeline

    return output_cut(_classify_distributed(
        spark, pipeline.Scene(table, **scene), runner=runner))


def _classify_distributed(spark: SparkSession, scene: Scene,
                          cells: DataFrame | None = None,
                          runner=None) -> DataFrame:
    """``cells`` (a DataFrame of cell_id, no runner) restricts the run
    to those cells; classify_auto routes its mega-cells here this way."""
    from .. import pipeline

    ensure_package_on_executors(spark)
    has_thermal = scene.sensor != "SENTINEL2"
    params = scene.params
    # what the dist_* stages depend on beyond the registered input: the
    # FmaskParams fields and the rendered SQL of the per-cell leaf and
    # the pixel exchange (the scene key rides in their view names, every
    # pass's formulas in the text) — a change re-runs the stages
    logic = (f"distv7||{params!r}||{pipeline.thresholds_sql_text(scene)}"
             f"||{pipeline.px_exchange_sql(scene)}")

    px_in, dims, ident = pipeline.scene_exchange(
        spark, scene, runner=runner, cells=cells)
    p3 = barrier(spark, runner, "dist_p3", logic, lambda: px_in.selectExpr(
        "cell_id", "r", "c", "nir", "bt", *FLAGS_SQL,
        "sat_az_cdn", "sat_zen_cdn"))

    # --- stage 1: interim cloud mask and its buffer, tiled
    # url never enters ANY intermediate stage: every per-pixel frame is
    # keyed (cell_id, r, c) — int composite keys shuffle/join cheaper
    # than a ~40-byte string, across every stage barrier and the
    # fill fixpoint's halo rounds. The identity frame joins back once at
    # the end.
    layers = cloud_layers(p3, params)

    # --- stage 2: potential shadow via distributed fill-minima.
    # The fixpoint needs ~H/tile_rows rounds for a fill wave to cross a
    # cell (each round propagates one halo), so a fixed 128-row tile
    # degenerates on mega-cells (measured: a 16k-row cell took ~60
    # rounds = 120+ stages). Adapt the FILL tile height to the tallest
    # cell: rounds stay ~16 while the per-task slab stays bounded at
    # tile_rows x 8 pixels.
    h_max = dims.agg(F.expr("max(cell_rows)")).collect()[0][0] or 1
    fill_tile = max(C.TILE_SIZE, -(-int(h_max) // 16))
    filled = fill_minima_distributed(
        p3.join(F.broadcast(dims.selectExpr(
            "cell_id", f"g_b4_17 * {C.TOA_SCALE} AS nir17_dn")), "cell_id")
        .select("cell_id", "r", "c",
                F.expr("cast(nir as bigint) as nir"), "nir17_dn"),
        "nir", "nir17_dn", tile_rows=fill_tile)
    pot = filled.selectExpr(
        "cell_id", "r", "c", f"{POTENTIAL_SHADOW_SQL} AS potential_shadow")

    # per-pixel flag table for windows + finalize (one narrow frame)
    flags = barrier(spark, runner, "dist_flags", logic, lambda: (
        p3.select("cell_id", "r", "c", "bt", "sat_az_cdn", "sat_zen_cdn")
        .join(layers.selectExpr(
            "cell_id", "r", "c", "nullmask", "water_test", "snow",
            "cloud_m AS cloudmask", "clouddil"), ["cell_id", "r", "c"])
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
    cell_scalars = F.broadcast(dims.select(
        "cell_id", "cell_rows", "g_tlow", "g_thigh", "sun_az", "sun_zen"))
    px = barrier(spark, runner, "dist_px", logic, lambda: (
        flags.join(clump_px, ["cell_id", "r", "c"])
        .join(cell_scalars, "cell_id")
        .repartition(n_part, "cell_id", "cloud_id")
        .groupBy("cell_id", "cloud_id")
        .applyInPandas(
            lambda pdf: _clump_kernel(pdf, has_thermal=has_thermal),
            schema=_PX_SCHEMA)))

    # --- stage 5: per-clump windowed shadow match (cogrouped)
    tmpl = px.join(cell_scalars, "cell_id")

    # Band the match: every clump whose window STARTS in a row band is
    # matched inside one task against ONE copy of the band raster
    # (halo = max window span), instead of duplicating ~window_span x 8
    # pixels PER CLOUD (measured: the per-cloud join amplified the
    # pixel table ~28x on a clump-dense mega-cell). Band height >= max
    # span keeps duplication <= 2x; parallelism = H / band_rows tasks.
    span = int(px.agg(
        F.expr("max(win_r1 - win_r0 + 1)")).collect()[0][0] or 1)
    B = max(1024, span)
    band = f"win_r0 div {B}"
    tmpl_b = tmpl.withColumn("band", F.expr(band))

    T = C.TILE_SIZE
    band_tiles = (px.selectExpr("cell_id", f"{band} AS band").distinct()
                  .withColumn("tile", F.explode(F.expr(
                      f"sequence((band * {B}) div {T}, "
                      f"((band + 1) * {B} + {span} - 1) div {T})"))))
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

    # --- stage 6: shadow buffer + finalize (the cloud buffer is
    # stage 1's clouddil)
    shadow_px = matched.withColumn("shadow_raw", F.lit(True))
    base = (flags.select("cell_id", "r", "c", "clouddil",
                         "nullmask", "water_test", "snow")
            .join(shadow_px, ["cell_id", "r", "c"], "left")
            .withColumn("shadow_raw",
                        F.expr("coalesce(shadow_raw, false)")))
    sh_rad = params.shadow_buffer_px
    buf = tiling.tiled_neighborhood(
        base,
        lambda slabs: {"shadow_dil": kernels.dilate(slabs["shadow_raw"],
                                                    sh_rad)},
        in_cols=("shadow_raw",), out_cols=("shadow_dil",),
        radius=max(int(sh_rad), 1),
        passthrough=("clouddil", "nullmask", "water_test", "snow"))

    out = buf.join(
        px.select("cell_id", "r", "c", "cloud_id", "height_du",
                  "base_temp_c"),
        ["cell_id", "r", "c"], "left")
    out = out.selectExpr(
        "cell_id", "r", "c", class_sql("clouddil", "shadow_dil"),
        "cast(coalesce(cloud_id, 0) as bigint) AS cloud_id",
        "cast(coalesce(height_du, 0) as int) AS cloud_height_du",
        "base_temp_c AS cloud_base_temp_c")
    return (out.join(ident, ["cell_id", "r", "c"])
            .select(*pipeline.CLASSIFY_COLS))
