"""Cross-tile connected-component labeling (W5 in SURVEY §2.5).

Per-tile ``label_components`` runs tile-parallel; seam equivalences are
resolved per cell, on the executors, by the same min-label union-find
(``kernels.min_label``) over the cell's tile-border label pairs. Seam
data is O(perimeter) per cell, the same asymmetry the reference exploits
by holding per-clump dicts in memory (fmask/fmask.py:910,976). Final
labels are canonicalized to each component's first pixel in raster-scan
order, so the result is partitioning-invariant and equals the
whole-raster scipy-style labeling up to that canonical renumbering
(property-tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from .. import tiling
from ..session import ensure_package_on_executors
from . import kernels


def local_label(pdf: pd.DataFrame, eight_connected: bool) -> pd.DataFrame:
    """One (cell_id, tile) group of the tile-local CCL: ``pdf`` holds the
    tile's True pixels (cell_id, r, c, tile). Each pixel's local_label is
    the least linear index (r * W + c) over its tile-local component."""
    r = pdf["r"].to_numpy()
    c = pdf["c"].to_numpy()
    w = tiling.Window(pdf)
    lab, _n = kernels.label_components(w.raster(True),
                                       eight_connected=eight_connected)
    px = w.gather(lab)
    ids = np.full(px.max() + 1, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(ids, px, r.astype(np.int64) * C.SCENE_WIDTH + c)
    return pd.DataFrame({
        "cell_id": pdf["cell_id"].to_numpy(),
        "r": r.astype(np.int32),
        "c": c.astype(np.int32),
        "tile": pdf["tile"].to_numpy().astype(np.int32),
        "local_label": ids[px],
    })


def seam_roots(pdf: pd.DataFrame) -> pd.DataFrame:
    """One cell's seam union-find: ``pdf`` holds the cell's seam edges
    (cell_id, lab_a, lab_b), tile-local labels adjacent across a tile
    seam. Returns (cell_id, local_label, root) for every label an edge
    names, root being the least label of its cross-tile component. The
    labels compact in ascending order, so kernels.min_label's least
    index is the least label."""
    n = len(pdf)
    labels, idx = np.unique(
        np.concatenate([pdf["lab_a"].to_numpy(), pdf["lab_b"].to_numpy()]),
        return_inverse=True)
    roots = kernels.min_label(len(labels), idx[:n], idx[n:])
    return pd.DataFrame({"cell_id": pdf["cell_id"].iloc[0],
                         "local_label": labels, "root": labels[roots]})


def label_clumps_distributed(df: DataFrame, flag_col: str,
                             tile_rows: int = C.TILE_SIZE,
                             eight_connected: bool = True) -> DataFrame:
    """Label True pixels of ``flag_col`` with connected-component ids,
    unique per cell, spanning tile boundaries. ``eight_connected=False``
    gives the 4-connected labeling the reference's min-cloud-size filter
    uses (fmask/fmask.py:762-767); the connectivity decision applies
    identically in the per-tile kernel AND the seam join (a diagonal
    seam pair is an equivalence only under 8-connectivity).

    Returns (cell_id, r, c, clump_id) for True pixels (identity joins
    back on the composite key — no url passthrough rides the tile
    shuffle or the seam join); clump_id is
    the linear index (r * W + c) of the component's first pixel in scan
    order — deterministic across any tiling/partitioning.
    """
    ensure_package_on_executors(df.sparkSession)
    src = df.select("cell_id", "r", "c", flag_col) \
            .filter(F.col(flag_col)) \
            .withColumn("tile", F.expr(tiling.tile_sql(tile_rows)))

    labeled = src.groupBy("cell_id", "tile").applyInPandas(
        lambda pdf: local_label(pdf, eight_connected),
        schema="cell_id string, r int, c int, tile int, local_label bigint")
    # a lazy local checkpoint, not persist(): the ContextCleaner drops it
    # once nothing references it, where a persisted frame would stay in
    # the session's CacheManager until the session ends
    labeled = labeled.localCheckpoint(eager=False)

    # Seam edges: 8-adjacent pixel pairs across tile boundaries, merged
    # per cell (local labels are cell-local) on the executors.
    first_row, last_row = tiling.seam_rows_sql(tile_rows)
    top = labeled.filter(F.expr(first_row)) \
        .select(F.col("cell_id").alias("cell_b"), "r", "c",
                F.col("local_label").alias("lab_b"))
    bottom = labeled.filter(F.expr(last_row)) \
        .select(F.col("cell_id").alias("cell_a"),
                F.col("r").alias("r_a"), F.col("c").alias("c_a"),
                F.col("local_label").alias("lab_a"))
    seam_e = 1 if eight_connected else 0
    edges = (bottom.join(
        top,
        (bottom.cell_a == top.cell_b) & (top.r == bottom.r_a + 1)
        & (F.abs(top.c - bottom.c_a) <= seam_e))
        .select(F.col("cell_a").alias("cell_id"), "lab_a", "lab_b"))
    roots = edges.groupBy("cell_id").applyInPandas(
        seam_roots, schema="cell_id string, local_label bigint, root bigint")
    return (labeled.join(F.broadcast(roots), ["cell_id", "local_label"],
                         "left")
            .select("cell_id", "r", "c",
                    F.coalesce("root", "local_label").alias("clump_id")))


def drop_small_clouds(df: DataFrame, min_px: int) -> DataFrame:
    """The reference's minimum cloud size (fmask/fmask.py:762-767):
    ``df`` with cloud_raw switched off on every 4-CONNECTED clump of
    fewer than ``min_px`` pixels, before the majority filter — exactly
    classify_scene's sizes[clumps0] < min masking, and distinct from
    the 8-connected cloud clumps. Cross-tile 4-conn CCL over cloud_raw,
    then per-clump counts (map-side combinable). ``min_px`` of at most
    1 removes nothing, and ``df`` itself is returned. The tiled classify
    paths (pipeline.interim_class_kernel, scene_dist) both call it."""
    if min_px <= 1:
        return df
    lab4 = label_clumps_distributed(
        df.select("cell_id", "r", "c", "cloud_raw"),
        "cloud_raw", eight_connected=False)
    small_px = (lab4
                .join(lab4.groupBy("cell_id", "clump_id").count()
                      .filter(F.col("count") < int(min_px))
                      .select("cell_id", "clump_id"),
                      ["cell_id", "clump_id"], "left_semi")
                .select("cell_id", "r", "c")
                .withColumn("small", F.lit(True)))
    return (df.join(small_px, ["cell_id", "r", "c"], "left")
            .withColumn("cloud_raw", F.expr("cloud_raw and small is null"))
            .drop("small"))
