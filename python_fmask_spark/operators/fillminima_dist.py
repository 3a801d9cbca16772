"""Distributed fill-minima: tile-local reconstruction-by-erosion with
halo exchange, iterated to fixpoint (W6's scale path; SURVEY §7 hard
part 3).

The global operator img2 = max(img, min over 4-neighbors of img2),
seeded at the scene boundary ring with boundaryval, has a unique
fixpoint (Soille & Gratin; fmask/fillminima.py:40-78). Block-Jacobi
iteration computes it tile-parallel: each round runs the hierarchical-
queue fill inside every tile using (a) the tile's own scene-boundary /
null-ring seeds and (b) the current img2 estimates of its 1-row halo as
sources. Halo estimates only ever decrease, so the iteration converges
in about as many rounds as a basin spans tiles, each round one
halo-exchange shuffle. A run not converged after ``_MAX_ROUNDS`` raises.

Tile rule: a cell's fill tile is ``greatest(tile_rows, ceil(cell_h /
16))`` rows, a SQL expression over the state's own ``cell_h`` that
``tiling.with_halo`` takes as its tile height (no driver job): a cell
taller than 16 x tile_rows spans 16 tiles, so its rounds stay bounded
(a fixed 128-row tile took ~60 rounds on a 16k-row cell). The output
does not depend on the tiling.

Stopping rule: a round's output is a function of its halo sources, the
rows a neighbouring tile reads (a tile's first core row unless it is
the cell's row 0, its last unless it is the cell's last row).
``changed`` counts only those pixels: when none moved, the next round
would reproduce this one, so the loop stops. A cell that fits in one
tile has no halo sources and takes one round; a basin crossing n tiles
takes n + 1.
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
# most fill tiles a cell spans (the tile rule above)
_TILES_PER_CELL = 16
_STATE = ["cell_id", "r", "c", "nir", "h_max", "h_min", "cell_h",
          "cell_has_null", "cell_bval", "img2"]


def fill_round(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (cell_id, tile) group of one fixpoint round: ``pdf`` holds the
    state columns and is_halo. Returns the core rows' state with the
    round's img2 and ``changed``: 1 where img2 moved on a halo source
    (the tile's first core row unless it is the cell's row 0, its last
    unless it is the cell's last row), 0 elsewhere. A group with no core
    rows (a window past the cell's last tile) returns no rows."""
    w = Window(pdf)
    out = pdf.loc[w.core, _STATE].reset_index(drop=True)
    out["changed"] = np.zeros(len(out), dtype=np.int32)
    g0 = pdf.iloc[0]
    if out.empty or pd.isna(g0["h_max"]):
        # no core rows, or an all-nodata cell: nothing to fill, every
        # pixel keeps nullval (as kernels.fill_minima returns)
        return out
    h_max, h_min = int(g0["h_max"]), int(g0["h_min"])
    cell_h = int(g0["cell_h"])
    b = int(min(max(float(g0["cell_bval"]), h_min), h_max))

    img_v = pdf["nir"].to_numpy()
    img = w.raster(img_v, 0, np.int64)
    # halo rows carry their current img2 as sources
    seed = w.raster(np.where(w.core, _UNSET, pdf["img2"]), _UNSET, np.int64)
    # the tile's own null ring or cell edge, as the whole raster's
    # (cell_has_null is the cell-wide flag; the window's nullmask also
    # covers ghost slots)
    res = kernels.fill_seeded(img, w.null(img_v == C.REF_NULL_DN), b, h_min,
                              h_max, bool(g0["cell_has_null"]), w.lo == 0,
                              w.lo + w.h == cell_h, sources=seed)
    out_img2 = w.gather(res)
    r = out["r"].to_numpy()
    first, last = r.min(), r.max()
    source = (r == first) & (first != 0) | (r == last) & (last != cell_h - 1)
    out["changed"] = (source & (out_img2 != out["img2"].to_numpy())
                      ).astype(np.int32)
    out["img2"] = out_img2
    return out


def fill_minima_distributed(df: DataFrame, boundary_col: str,
                            tile_rows: int = C.TILE_SIZE) -> DataFrame:
    """Fill local minima of each cell's bigint raster column ``nir``,
    tile-parallel, ``tile_rows`` the tile rule's floor (module doc).

    df columns: cell_id, r, c, nir and ``boundary_col``, the per-cell
    boundary value (the NIR 17.5-percentile DN the reference uses,
    fmask/fmask.py:806); extra columns are ignored. A DN of
    C.REF_NULL_DN is nodata. Returns (cell_id, r, c, nir, ``filled``) —
    ``filled`` bigint, == nir for null pixels, like the reference. No
    identity column rides the fixpoint; join url back on (cell_id, r,
    c). Results equal the whole-scene ``kernels.fill_minima`` exactly
    (property-tested in tests/test_fillminima_dist.py and
    tests/test_tile_replay.py)."""
    nullval = C.REF_NULL_DN
    ensure_package_on_executors(df.sparkSession)

    # Per-cell extremes, heights and boundary value (small dim table,
    # broadcast back).
    meta = df.groupBy("cell_id").agg(*map(F.expr, (
        f"max(case when nir != {nullval} then nir end) AS h_max",
        f"min(case when nir != {nullval} then nir end) AS h_min",
        "max(r) + 1 AS cell_h",
        # ghost slots (ragged last row) are null pixels too
        f"cast(max(case when nir = {nullval} then 1 else 0 end) = 1 or "
        f"count(*) < (max(r) + 1) * {C.SCENE_WIDTH} as int) AS cell_has_null",
        f"first({boundary_col}) AS cell_bval")))
    # url never rides the fixpoint: each of the up-to-_MAX_ROUNDS halo
    # exchanges would re-ship it as pure passthrough; identity joins
    # back on (cell_id, r, c) at the caller when needed
    state = (df.select("cell_id", "r", "c", "nir")
             .join(F.broadcast(meta), "cell_id")
             .withColumn("img2", F.lit(int(_UNSET))))
    schema = ("cell_id string, r int, c int, nir bigint, h_max bigint, "
              "h_min bigint, cell_h int, cell_has_null int, "
              "cell_bval double, img2 bigint, changed int")
    tile = f"greatest({tile_rows}, ceil(cell_h / {_TILES_PER_CELL}))"

    for _ in range(_MAX_ROUNDS):
        # the round's changed count rides the checkpoint job itself (an
        # observed metric), not a second aggregate job
        obs = Observation()
        state = (with_halo(state, radius=1, tile_rows=tile)
                 .groupBy("cell_id", "tile")
                 .applyInPandas(fill_round, schema=schema)
                 .observe(obs, F.sum("changed").alias("n_changed"))
                 .localCheckpoint())
        n_changed = obs.get["n_changed"]
        if not n_changed:
            break
    else:
        raise RuntimeError(
            f"fill_minima_distributed: {n_changed} pixels still changed "
            f"after {_MAX_ROUNDS} rounds; no fixpoint")

    return state.selectExpr("cell_id", "r", "c", "nir",
                            f"if(nir = {nullval}, nir, img2) AS filled")
