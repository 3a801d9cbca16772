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
A run that has not converged after ``_MAX_ROUNDS`` rounds raises.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import constants as C
from ..session import ensure_package_on_executors
from ..tiling import Window, with_halo
from . import kernels

_UNSET = np.int64(2 ** 62)


# cap on the fixpoint's halo rounds (each round propagates one tile)
_MAX_ROUNDS = 64


def fill_round(pdf: pd.DataFrame, img_col: str) -> pd.DataFrame:
    """One (cell_id, tile) group of one fixpoint round: ``pdf`` holds the
    state columns and is_halo. Returns the core rows' state with the
    round's img2 and ``changed`` (1 where img2 moved)."""
    w = Window(pdf)
    out = pdf.loc[w.core, ["cell_id", "r", "c", img_col, "h_max", "h_min",
                           "cell_h", "cell_has_null", "cell_bval", "img2"]
                  ].reset_index(drop=True)
    g0 = pdf.iloc[0]
    if pd.isna(g0["h_max"]):
        # all-nodata cell: nothing to fill, every pixel keeps
        # nullval (as kernels.fill_minima returns), nothing changes
        out["changed"] = np.zeros(len(out), dtype=np.int32)
        return out
    h_max, h_min = int(g0["h_max"]), int(g0["h_min"])
    b = int(min(max(float(g0["cell_bval"]), h_min), h_max))

    img_v = pdf[img_col].to_numpy()
    img = w.raster(img_v, 0, np.int64)
    # halo rows carry their current img2 as sources
    seed = w.raster(np.where(w.core, _UNSET, pdf["img2"]), _UNSET, np.int64)
    # the tile's own null ring or cell edge, as the whole raster's
    # (cell_has_null is the cell-wide flag; the window's nullmask also
    # covers ghost slots)
    res = kernels.fill_seeded(img, w.null(img_v == C.REF_NULL_DN), b, h_min,
                              h_max, bool(g0["cell_has_null"]), w.lo == 0,
                              w.lo + w.h == int(g0["cell_h"]), sources=seed)
    out_img2 = w.gather(res)
    out["changed"] = (out_img2 != out["img2"].to_numpy()).astype(np.int32)
    out["img2"] = out_img2
    return out


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
    tests/test_fillminima_dist.py and tests/test_tile_replay.py). Raises
    RuntimeError if pixels still change after ``_MAX_ROUNDS`` rounds.
    """
    nullval = C.REF_NULL_DN
    ensure_package_on_executors(df.sparkSession)

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

    state = base
    for _ in range(_MAX_ROUNDS):
        haloed = with_halo(state, radius=1, tile_rows=tile_rows)
        # the round's changed-pixel count rides the checkpoint job
        # itself (an observed metric), not a second aggregate job
        obs = Observation()
        state = (haloed.groupBy("cell_id", "tile")
                 .applyInPandas(lambda pdf: fill_round(pdf, img_col),
                                schema=schema)
                 .observe(obs, F.sum("changed").alias("n_changed"))
                 .localCheckpoint())
        n_changed = obs.get["n_changed"]
        if not n_changed:
            break
    else:
        raise RuntimeError(
            f"fill_minima_distributed: {n_changed} pixels still changed "
            f"after {_MAX_ROUNDS} rounds; no fixpoint")

    return state.withColumn(
        "filled",
        F.expr(f"case when {img_col} = {nullval} then cast({nullval} as bigint) "
               f"else img2 end")).select("cell_id", "r", "c",
                                         img_col, "filled")
