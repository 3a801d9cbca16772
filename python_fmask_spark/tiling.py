"""Tiling and halo exchange.

A cell's raster (height H, fixed width SCENE_WIDTH) is split into
horizontal tiles of TILE_SIZE rows. Neighborhood kernels (majority,
dilation, focal variance) need ``radius`` rows of context across tile
seams — the reference gets this via RIOS overlap reads
(fmask/fmask.py:262-263,706-711,1326); we get it with ``with_halo``:
one explode copies each boundary row into the adjacent tile BEFORE the
groupBy, so the kernel shuffle is one pass and needs no self-join.
``tiled_neighborhood`` is the one halo-kernel helper: it runs any
composition of such kernels over that single shuffle.

Scale notes: halo duplication is 2*radius/TILE_SIZE overhead (about 3%
for radius 2 at TILE_SIZE 128). The (cell_id, tile) grouping key is the skew
answer: a mega-cell fans out to H/TILE_SIZE independent tasks.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bitpack
from . import constants as C
from .operators import kernels
from .session import ensure_package_on_executors


def with_halo(df: DataFrame, radius: int,
              tile_rows: int = C.TILE_SIZE) -> DataFrame:
    """Duplicate each tile-boundary row into the neighboring tile as halo.

    Returns df + columns (tile, is_halo). Implemented as a single-pass
    explode: each row emits its core (tile, is_halo=false) entry plus up
    to two halo entries for adjacent tiles. One scan of the input — no
    union (a union re-evaluates an unmaterialized upstream plan once per
    branch) and no join; the only shuffle is the consumer's groupBy on
    (cell_id, tile)."""
    entries = (
        f"filter(array("
        f"  named_struct('tile', r div {tile_rows}, 'is_halo', false),"
        f"  if(pmod(r, {tile_rows}) < {radius} and r div {tile_rows} > 0,"
        f"     named_struct('tile', r div {tile_rows} - 1, 'is_halo', true),"
        f"     null),"
        f"  if(pmod(r, {tile_rows}) >= {tile_rows} - {radius},"
        f"     named_struct('tile', r div {tile_rows} + 1, 'is_halo', true),"
        f"     null)"
        f"), x -> x is not null)")
    return (df.withColumn("_t", F.explode(F.expr(entries)))
              .withColumn("tile", F.col("_t.tile"))
              .withColumn("is_halo", F.col("_t.is_halo"))
              .drop("_t"))


def tiled_neighborhood(
    df: DataFrame,
    kernel: Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]],
    in_cols: tuple[str, ...],
    out_cols: tuple[str, ...],
    radius: int,
    tile_rows: int = C.TILE_SIZE,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Run 2-D neighborhood kernels tile-parallel over ONE halo shuffle.

    ``kernel`` maps {in_col: bool raster slab} -> {out_col: same-shape
    bool array}; it must use reflect borders (all kernels in
    operators/kernels.py do). ``radius`` must cover the composed reach
    (e.g. majority(1) then dilate(5) -> 6): composing k local operators
    into one tile pass costs one shuffle and one Arrow round trip
    instead of k. The slab covers [tile_start - radius, tile_end +
    radius] rows and only core rows are emitted, so seam rows equal the
    whole-raster result exactly (property-tested); the slab's synthetic
    edges are only reached where the halo is truncated by the true
    raster border, where reflect is the correct semantic anyway.

    Rows are keyed (cell_id, r, c): callers join other columns (url,
    digests) back on that key instead of shipping them through the halo
    sort. Every boolean input/passthrough column rides the exchange
    packed into ONE tinyint (the bitpack format); the kernel and the
    output see plain booleans."""
    W = C.SCENE_WIDTH
    ensure_package_on_executors(df.sparkSession)
    passthrough = tuple(p for p in passthrough if p not in in_cols)
    dtypes = dict(df.dtypes)
    data_cols = (*in_cols, *passthrough)
    packed = tuple(n for n in data_cols if dtypes[n] == "boolean")
    unpacked = tuple(n for n in data_cols if n not in packed)
    haloed = with_halo(df.select(
        "cell_id", "r", "c", F.expr(bitpack.pack_sql(packed)).alias("_bf"),
        *unpacked), radius, tile_rows)

    schema = ("cell_id string, r int, c int"
              + "".join(f", {name} boolean" for name in out_cols)
              + "".join(f", {name} {dtypes[name]}" for name in data_cols))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf["r"].to_numpy()
        slab_lo = r.min()
        h = r.max() - slab_lo + 1
        cc_all = pdf["c"].to_numpy()
        cols = bitpack.unpack(pdf["_bf"].to_numpy(), packed)
        cols.update({name: pdf[name].to_numpy() for name in unpacked})
        slabs = {name: kernels.raster(r - slab_lo, cc_all, cols[name],
                                      (h, W), False, bool)
                 for name in in_cols}
        res = kernel(slabs)
        core = ~pdf["is_halo"].to_numpy()
        rr = r[core]
        cc = cc_all[core]
        out = {
            "cell_id": pdf["cell_id"].to_numpy()[core],
            "r": rr.astype(np.int32),
            "c": cc.astype(np.int32),
        }
        for name in out_cols:
            out[name] = res[name][rr - slab_lo, cc]
        for name in data_cols:
            out[name] = cols[name][core]
        return pd.DataFrame(out)

    return haloed.groupBy("cell_id", "tile").applyInPandas(run, schema=schema)
