"""Cross-tile connected-component labeling (W5 in SURVEY §2.5).

Per-tile ``label_components`` (NumPy union-find) runs tile-parallel;
seam equivalences are resolved by a union-find over the tile-border
pixel pairs. Border data is O(perimeter) — for a 10^12-pixel table the
seam-edge set is ~10^6-10^7 rows, safely collectable to the driver (the
same asymmetry the reference exploits by holding per-clump dicts in
memory, fmask/fmask.py:910,976). Final labels are canonicalized to each
component's first pixel in raster-scan order, so the result is
partitioning-invariant and equals the whole-raster scipy-style labeling
up to that canonical renumbering (property-tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from ..session import ensure_package_on_executors
from . import kernels


def _local_label_schema() -> str:
    return ("cell_id string, r int, c int, "
            "tile int, local_label bigint")


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
    W = C.SCENE_WIDTH
    ensure_package_on_executors(df.sparkSession)
    src = df.select("cell_id", "r", "c", flag_col) \
            .filter(F.col(flag_col)) \
            .withColumn("tile", F.expr(f"r div {tile_rows}"))

    def local_label(pdf: pd.DataFrame) -> pd.DataFrame:
        r = pdf["r"].to_numpy()
        lo = int(r.min())
        h = int(r.max()) - lo + 1
        arr = kernels.raster(r - lo, pdf["c"].to_numpy(), True, (h, W),
                             False, bool)
        lab, _n = kernels.label_components(
            arr, eight_connected=eight_connected)
        # Globalize: local component id -> its min linear pixel index
        # within this tile (min over the component of (r*W + c)).
        lin = (np.arange(h)[:, None] + lo) * W + np.arange(W)[None, :]
        ids = np.full(lab.max() + 1, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(ids, lab.ravel(), lin.ravel())
        ids[0] = 0
        rows = pdf["r"].to_numpy()
        cols = pdf["c"].to_numpy()
        return pd.DataFrame({
            "cell_id": pdf["cell_id"].to_numpy(),
            "r": rows.astype(np.int32),
            "c": cols.astype(np.int32),
            "tile": pdf["tile"].to_numpy().astype(np.int32),
            "local_label": ids[lab[rows - lo, cols]],
        })

    labeled = src.groupBy("cell_id", "tile").applyInPandas(
        local_label, schema=_local_label_schema())
    # a lazy local checkpoint, not persist(): the ContextCleaner drops it
    # once nothing references it, where a persisted frame would stay in
    # the session's CacheManager until the session ends
    labeled = labeled.localCheckpoint(eager=False)

    # Seam edges: 8-adjacent pixel pairs across tile boundaries.
    # local_label values are cell-local linear pixel indexes, so distinct
    # cells routinely share label values — every key below carries
    # cell_id (union-find, mapping, and the apply join) to keep seam
    # merges from leaking across cells.
    top = labeled.filter(F.expr(f"pmod(r, {tile_rows}) = 0")) \
        .select(F.col("cell_id").alias("cell_b"), "r", "c",
                F.col("local_label").alias("lab_b"))
    bottom = labeled.filter(F.expr(f"pmod(r, {tile_rows}) = {tile_rows - 1}")) \
        .select(F.col("cell_id").alias("cell_a"),
                F.col("r").alias("r_a"), F.col("c").alias("c_a"),
                F.col("local_label").alias("lab_a"))
    seam_e = 1 if eight_connected else 0
    edges = (bottom.join(
        top,
        (bottom.cell_a == top.cell_b) & (top.r == bottom.r_a + 1)
        & (F.abs(top.c - bottom.c_a) <= seam_e))
        .select("cell_a", "lab_a", "lab_b").distinct())

    edge_rows = edges.collect()  # O(perimeter), see module docstring

    Key = tuple  # (cell_id, local_label)
    parent: dict[tuple, tuple] = {}

    def find(x: tuple) -> tuple:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for e in edge_rows:
        ka = Key((e.cell_a, int(e.lab_a)))
        kb = Key((e.cell_a, int(e.lab_b)))
        a, b = find(ka), find(kb)
        if a != b:
            # same cell by construction; order by label value
            if a[1] < b[1]:
                parent[b] = a
            else:
                parent[a] = b

    mapping = [(k[0], k[1], find(k)[1]) for k in list(parent)]
    spark = df.sparkSession
    if mapping:
        # from pandas, the frame ships as Arrow batches (get_spark turns
        # Arrow on), not as a Python-RDD job
        map_df = spark.createDataFrame(
            pd.DataFrame(mapping, columns=["cell_id", "local_label", "root"]),
            "cell_id string, local_label bigint, root bigint")
        out = (labeled.join(F.broadcast(map_df),
                            ["cell_id", "local_label"], "left")
               .withColumn("clump_id", F.coalesce("root", "local_label"))
               .select("cell_id", "r", "c", "clump_id"))
    else:
        out = labeled.withColumnRenamed("local_label", "clump_id") \
            .select("cell_id", "r", "c", "clump_id")
    return out


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
