"""Tile geometry: which rows a tiled group holds, and its raster window.

A cell's raster (height H, width SCENE_WIDTH) splits into horizontal
tiles of T rows (TILE_SIZE by default). ``with_halo`` is the one place
rows are assigned to groups, by one explode before the groupBy (so a
kernel shuffle is one pass with no self-join; RIOS overlap reads give
the reference the same context, fmask/fmask.py:234,262-263): tile j
holds rows [jT - above, (j+1)T + radius), ``above`` = ``radius`` except
in stage 5's match bands (scene_dist: band b holds rows [bB, (b+1)B +
span)). Radius rule: a halo wider than a tile reaches as many tiles as
the radius needs. ``Window`` turns a group's rows into rasters and
back. The per-group functions (``neighborhood_group``,
``fillminima_dist.fill_round``, ``clumps.local_label`` per tile and
``clumps.seam_roots`` per cell) need no Spark; tests/test_tile_replay.py
replays them.

Halo duplication is (above + radius)/T (about 3% for radius 2 at
TILE_SIZE 128); the (cell_id, tile) key is the skew answer: a mega-cell
fans out to H/T independent tasks.
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


def tile_sql(tile_rows: int | str, row: str = "r") -> str:
    """The SQL tile index of the row column ``row`` (``tile_rows`` may be SQL)."""
    return f"{row} div {tile_rows}"


def seam_rows_sql(tile_rows: int) -> tuple[str, str]:
    """SQL predicates for a row being its tile's first and last row."""
    return (f"pmod(r, {tile_rows}) = 0",
            f"pmod(r, {tile_rows}) = {tile_rows - 1}")


def with_halo(df: DataFrame, radius: int, tile_rows: int | str = C.TILE_SIZE,
              above: int | None = None) -> DataFrame:
    """df + columns (tile, is_halo): one row per tile whose window
    holds it, is_halo false in its own tile; tile j's window is rows
    [jT - above, (j+1)T + radius), ``above`` defaulting to ``radius``.
    The tile height T is ``tile_rows``, an int or a SQL expression over
    df's columns (fill-minima's per-cell rule over ``cell_h``). One scan
    of the input: no union (a union re-evaluates an unmaterialized
    upstream plan once per branch) and no join; the only shuffle is the
    consumer's groupBy on (cell_id, tile). A window past a cell's last
    tile holds halo rows only."""
    above = radius if above is None else above
    tiles = (f"sequence(greatest({tile_sql(tile_rows, f'(r - {radius})')}, 0),"
             f" {tile_sql(tile_rows, f'(r + {above})')})")
    return (df.withColumn("tile", F.explode(F.expr(tiles)))
              .withColumn("is_halo", F.expr(f"tile != {tile_sql(tile_rows)}")))


class Window:
    """A group's rows (``pdf``: r, c and, from with_halo, is_halo) as one
    raster window of its cell: rows [lo, lo + h) from the group's first
    to last row, SCENE_WIDTH columns. The core rows (all rows when there
    is no is_halo) are the ones the group emits."""

    def __init__(self, pdf: pd.DataFrame):
        r = pdf["r"].to_numpy()
        self.lo = int(r.min())
        self.h = int(r.max()) - self.lo + 1
        self._rc = (r - self.lo, pdf["c"].to_numpy())
        self.core = (~pdf["is_halo"].to_numpy() if "is_halo" in pdf
                     else np.ones(len(r), dtype=bool))

    def raster(self, values, fill=False, dtype=bool) -> np.ndarray:
        """The rows' ``values`` as a raster; slots no row names: ``fill``."""
        return kernels.raster(*self._rc, values, (self.h, C.SCENE_WIDTH),
                              fill, dtype)

    def null(self, values) -> np.ndarray:
        """A nullmask raster: a ghost slot (no row) reads null."""
        return self.raster(values, True)

    def gather(self, arr: np.ndarray) -> np.ndarray:
        """``arr`` (a window raster) at the core rows, in group order."""
        return arr[self._rc[0][self.core], self._rc[1][self.core]]


def neighborhood_group(pdf: pd.DataFrame, kernel, in_cols: tuple[str, ...],
                       out_cols: tuple[str, ...], packed: tuple[str, ...]
                       ) -> pd.DataFrame:
    """One (cell_id, tile) group of ``tiled_neighborhood``: ``pdf`` holds
    cell_id, r, c, is_halo and the boolean ``packed`` columns bitpacked
    as ``_bf``. Returns the core rows with every ``out_cols`` kernel
    output and the ``packed`` columns."""
    cols = bitpack.unpack(pdf["_bf"].to_numpy(), packed)
    w = Window(pdf)
    res = kernel({name: (w.null if name == "nullmask" else w.raster)(
        cols[name]) for name in in_cols})
    out = {k: pdf[k].to_numpy()[w.core] for k in ("cell_id", "r", "c")}
    out.update({name: w.gather(res[name]) for name in out_cols})
    out.update({name: v[w.core] for name, v in cols.items()})
    return pd.DataFrame(out)


def tiled_neighborhood(df: DataFrame, kernel: Callable[[dict], dict],
                       in_cols: tuple[str, ...], out_cols: tuple[str, ...],
                       radius: int, tile_rows: int = C.TILE_SIZE,
                       passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Run 2-D neighborhood kernels tile-parallel over ONE halo shuffle.

    ``kernel`` maps {in_col: bool raster slab} -> {out_col: same-shape
    bool array}; it must use reflect borders (all kernels in
    operators/kernels.py do). ``radius`` must cover the composed reach
    (e.g. majority(1) then dilate(5) -> 6), and may exceed
    ``tile_rows``: composing k local operators into one tile pass costs
    one shuffle and one Arrow round trip instead of k. Only core rows
    are emitted, so seam rows equal the whole-raster result exactly
    (property-tested); reflect borders act only where the true raster
    border truncates the halo. A slab position no row fills (a ragged
    last row's ghost slots) reads False, except in a ``nullmask`` slab,
    where it reads True (``Window.null``).

    Rows are keyed (cell_id, r, c): callers join other columns (url,
    digests) back on that key instead of shipping them through the halo
    sort. The ``in_cols`` and ``passthrough`` columns must be boolean
    (TypeError otherwise, before any job runs): they ride the exchange
    packed into ONE tinyint (the bitpack format)."""
    ensure_package_on_executors(df.sparkSession)
    packed = (*in_cols, *(p for p in passthrough if p not in in_cols))
    dtypes = dict(df.dtypes)
    bad = [f"{n} ({dtypes[n]})" for n in packed if dtypes[n] != "boolean"]
    if bad:
        raise TypeError("tiled_neighborhood: non-boolean columns "
                        + ", ".join(bad))
    haloed = with_halo(df.select(
        "cell_id", "r", "c", F.expr(bitpack.pack_sql(packed)).alias("_bf")),
        radius, tile_rows)

    schema = ("cell_id string, r int, c int"
              + "".join(f", {name} boolean" for name in (*out_cols, *packed)))
    return haloed.groupBy("cell_id", "tile").applyInPandas(
        lambda pdf: neighborhood_group(pdf, kernel, in_cols, out_cols,
                                       packed), schema=schema)
