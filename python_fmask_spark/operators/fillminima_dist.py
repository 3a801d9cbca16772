"""Distributed fill-minima: tile-local reconstruction-by-erosion with
halo exchange, iterated to fixpoint (W6's scale path; SURVEY §7 hard
part 3).

The global operator img2 = max(img, min over 4-neighbors of img2),
seeded at the scene boundary ring with boundaryval, has a unique
fixpoint (Soille & Gratin; fmask/fillminima.py:40-78). Block-Jacobi
iteration computes it tile-parallel: each round runs the hierarchical-
queue fill inside every tile using (a) the tile's own scene-boundary /
null-ring seeds and (b) the current img2 estimates of its 1-row halo as
sources. Halo estimates only ever decrease, so each round's output is
monotonically non-increasing and the iteration converges in at most
(tiles a basin spans) rounds — at 10^12 scale, each round is one
halo-exchange shuffle, and basins rarely span more than a few tiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import constants as C
from ..session import ensure_package_on_executors
from . import kernels

_UNSET = np.int64(2 ** 62)


# cap on the fixpoint's halo rounds (each round propagates one tile)
_MAX_ROUNDS = 64


def fill_minima_distributed(df: DataFrame, img_col: str, boundary_col: str,
                            tile_rows: int = C.TILE_SIZE) -> DataFrame:
    """Fill local minima of a per-cell raster column, tile-parallel.

    df columns: cell_id, r, c, <img_col> and ``boundary_col``, the
    per-cell boundary value (the NIR 17.5-percentile DN the reference
    uses, fmask/fmask.py:806); extra columns are ignored. A DN of
    C.REF_NULL_DN is nodata. Returns (cell_id, r, c, <img_col>,
    ``filled``) — ``filled`` bigint, == <img_col> for null pixels, like
    the reference. No identity column rides the fixpoint; join url back
    on (cell_id, r, c). Results equal the whole-scene
    ``kernels.fill_minima`` exactly (property-tested in
    tests/test_fillminima_dist.py).
    """
    W = C.SCENE_WIDTH
    nullval = C.REF_NULL_DN
    spark = df.sparkSession
    ensure_package_on_executors(spark)

    # Per-cell extremes, heights and boundary value (small dim table,
    # broadcast back).
    meta = (df.groupBy("cell_id")
            .agg(F.expr(f"max(case when {img_col} != {nullval} "
                        f"then {img_col} end) AS h_max"),
                 F.expr(f"min(case when {img_col} != {nullval} "
                        f"then {img_col} end) AS h_min"),
                 F.expr("max(r) + 1 AS cell_h"),
                 # ghost slots (ragged last row) are null pixels too
                 F.expr(f"cast(max(case when {img_col} = {nullval} then 1 "
                        f"else 0 end) = 1 "
                        f"or count(*) < (max(r) + 1) * {C.SCENE_WIDTH} "
                        f"as int) AS cell_has_null"),
                 F.expr(f"first({boundary_col}) AS cell_bval")))
    # url never rides the fixpoint: each of the up-to-_MAX_ROUNDS halo
    # exchanges would re-ship it as pure passthrough; identity joins
    # back on (cell_id, r, c) at the caller when needed
    base = df.select("cell_id", "r", "c", img_col) \
        .join(F.broadcast(meta), "cell_id")
    base = base.withColumn("img2", F.lit(int(_UNSET))).localCheckpoint()
    schema = ("cell_id string, r int, c int, "
              f"{img_col} bigint, h_max bigint, h_min bigint, "
              "cell_h int, cell_has_null int, cell_bval double, "
              "img2 bigint, changed int")
    state_cols = ["cell_id", "r", "c", img_col, "h_max", "h_min", "cell_h",
                  "cell_has_null", "cell_bval", "img2"]

    def one_round(pdf: pd.DataFrame) -> pd.DataFrame:
        halo = pdf["is_halo"].to_numpy()
        core = ~halo
        out = pdf.loc[core, state_cols].reset_index(drop=True)
        if pd.isna(pdf["h_max"].iloc[0]):
            # all-nodata cell: nothing to fill, every pixel keeps
            # nullval (as kernels.fill_minima returns), nothing changes
            out["changed"] = np.zeros(len(out), dtype=np.int32)
            return out
        rr = pdf["r"].to_numpy()
        lo = int(rr.min())
        h = int(rr.max()) - lo + 1
        cc = pdf["c"].to_numpy()
        h_max = int(pdf["h_max"].iloc[0])
        h_min = int(pdf["h_min"].iloc[0])
        cell_h = int(pdf["cell_h"].iloc[0])
        cell_has_null = bool(pdf["cell_has_null"].iloc[0])
        b = int(min(max(float(pdf["cell_bval"].iloc[0]), h_min), h_max))

        img = kernels.raster(rr - lo, cc, pdf[img_col].to_numpy(), (h, W),
                             0, np.int64)
        present = kernels.raster(rr - lo, cc, True, (h, W), False, bool)
        nullmask = ~present | (img == nullval)
        # halo rows carry their current img2 as sources
        seed = kernels.raster(
            rr[halo] - lo, cc[halo],
            np.minimum(pdf["img2"].to_numpy()[halo], _UNSET), (h, W),
            _UNSET, np.int64)
        # the tile's own null ring or cell edge, as the whole raster's
        # (cell_has_null is the cell-wide flag; nullmask here also
        # covers ghost slots)
        res = kernels.fill_seeded(img, nullmask, b, h_min, h_max,
                                  cell_has_null, lo == 0, lo + h == cell_h,
                                  sources=seed)
        out_img2 = res[rr[core] - lo, cc[core]]
        out["changed"] = (out_img2 != out["img2"].to_numpy()).astype(np.int32)
        out["img2"] = out_img2
        return out

    from ..tiling import with_halo

    state = base
    for _ in range(_MAX_ROUNDS):
        haloed = with_halo(state, radius=1, tile_rows=tile_rows)
        # the round's changed-pixel count rides the checkpoint job
        # itself (an observed metric), not a second aggregate job
        obs = Observation()
        state = (haloed.groupBy("cell_id", "tile")
                 .applyInPandas(one_round, schema=schema)
                 .observe(obs, F.sum("changed").alias("n_changed"))
                 .localCheckpoint())
        if not obs.get["n_changed"]:
            break

    return state.withColumn(
        "filled",
        F.expr(f"case when {img_col} = {nullval} then cast({nullval} as bigint) "
               f"else img2 end")).select("cell_id", "r", "c",
                                         img_col, "filled")
