"""Distributed-correctness properties: tiled+halo kernels and cross-tile
CCL must equal the whole-raster result for any tiling (FIXTURES.md §5
tile-decomposition property)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from python_fmask_spark import constants as C
from python_fmask_spark import tiling
from python_fmask_spark.operators import clumps, kernels

H = 100
W = C.SCENE_WIDTH


def _mask_df(spark, seed=7, density=0.45):
    rng = np.random.RandomState(seed)
    mask = rng.rand(H, W) > (1 - density)
    rows = []
    for r in range(H):
        for c in range(W):
            rows.append(("u%04d" % (r * W + c), "cellA", r, c, bool(mask[r, c])))
    pdf = pd.DataFrame(rows, columns=["url", "cell_id", "r", "c", "flag"])
    return spark.createDataFrame(pdf), mask


def test_tiled_majority_equals_whole(spark):
    df, mask = _mask_df(spark)
    # one boolean column on the exchange: the packed-bitmask path with
    # a single bit
    out = tiling.tiled_neighborhood(
        df, lambda s: {"buf": kernels.majority3_buffer(s["flag"])},
        ("flag",), ("buf",), radius=1, tile_rows=16).collect()
    whole = kernels.majority3_buffer(mask)
    assert len(out) == H * W
    for row in out:
        assert row.buf == bool(whole[row.r, row.c]), (row.r, row.c)


def test_tiled_dilate_equals_whole(spark):
    df, mask = _mask_df(spark, seed=13, density=0.1)
    radius = 2

    def k(slabs):
        return {"dil": kernels.dilate(slabs["flag"], radius)}

    out = tiling.tiled_neighborhood(df, k, ("flag",), ("dil",),
                                    radius=radius, tile_rows=16).collect()
    whole = kernels.dilate(mask, radius)
    for row in out:
        assert row.dil == bool(whole[row.r, row.c]), (row.r, row.c)


def test_halo_wider_than_a_tile_equals_whole(spark):
    """A kernel reach beyond one tile (radius 9 over 4-row tiles, as a
    buffer of more than 128 px is over 128-row tiles): each row must
    reach every tile within the radius, not only the adjacent ones."""
    df, mask = _mask_df(spark, seed=41, density=0.01)
    radius, tile_rows = 9, 4
    out = tiling.tiled_neighborhood(
        df, lambda s: {"dil": kernels.dilate(s["flag"], radius)},
        ("flag",), ("dil",), radius=radius, tile_rows=tile_rows).collect()
    whole = kernels.dilate(mask, radius)
    assert len(out) == H * W
    bad = [(row.r, row.c) for row in out
           if row.dil != bool(whole[row.r, row.c])]
    assert not bad, f"{len(bad)} pixels differ, first: {bad[:5]}"


@pytest.mark.parametrize("tile_rows", [8, 16, 37])
def test_distributed_ccl_equals_whole(spark, tile_rows):
    df, mask = _mask_df(spark, seed=23, density=0.4)
    out = clumps.label_clumps_distributed(df, "flag", tile_rows=tile_rows) \
        .collect()
    whole, _n = kernels.label_components(mask, eight_connected=True)
    # canonicalize whole-raster labels to min linear index
    canon = {}
    for r in range(H):
        for c in range(W):
            lab = whole[r, c]
            if lab > 0:
                canon.setdefault(lab, r * W + c)
    got = {(row.r, row.c): row.clump_id for row in out}
    assert len(got) == int(mask.sum())
    for r in range(H):
        for c in range(W):
            if mask[r, c]:
                assert got[(r, c)] == canon[whole[r, c]], (tile_rows, r, c)


@pytest.mark.parametrize("tile_rows", [16, 37])
def test_fused_multi_kernel_equals_whole(spark, tile_rows):
    """tiled_neighborhood with a composed kernel (majority then
    dilate, halo 1+2) must equal the whole-raster composition — the
    fused single-shuffle path of pipeline.interim_class_kernel."""
    df, mask = _mask_df(spark, seed=31, density=0.3)
    rng = np.random.RandomState(5)
    nullm = rng.rand(H, W) > 0.97
    pdf = df.toPandas()
    pdf["nullm"] = nullm[pdf["r"].to_numpy(), pdf["c"].to_numpy()]
    df2 = spark.createDataFrame(pdf)

    def fused(slabs):
        maj = kernels.majority3_buffer(slabs["flag"])
        m = maj & ~slabs["nullm"]
        return {"maj": maj, "m": m, "dil": kernels.dilate(m, 2)}

    out = tiling.tiled_neighborhood(
        df2, fused, in_cols=("flag", "nullm"),
        out_cols=("maj", "m", "dil"), radius=3,
        tile_rows=tile_rows).collect()
    maj_w = kernels.majority3_buffer(mask)
    m_w = maj_w & ~nullm
    dil_w = kernels.dilate(m_w, 2)
    assert len(out) == H * W
    for row in out:
        assert row.maj == bool(maj_w[row.r, row.c]), (row.r, row.c)
        assert row.m == bool(m_w[row.r, row.c])
        assert row.dil == bool(dil_w[row.r, row.c]), (row.r, row.c)


def test_distributed_ccl_multi_cell_no_label_leak(spark):
    """Regression: local_label values are cell-local, so a seam merge in
    cell A must not remap the same label value in cell B. Cell A has a
    vertical bar crossing the tile seam (its seam merge maps the lower
    tile's label to the upper tile's); cell B has an isolated pixel at
    the lower tile's first bar coordinate — i.e. the SAME label value
    that cell A's union-find remaps."""
    tile_rows = 8
    rows = []
    # cell A: bar at c=3 spanning r=6..9 (crosses the r=7|8 seam).
    for r in range(6, 10):
        rows.append((f"a{r:03d}", "cellA", r, 3, True))
    # cell B: single pixel at (8, 3) -> local_label = 8*W+3, exactly the
    # value cell A's seam union-find maps to 6*W+3.
    rows.append(("b000", "cellB", 8, 3, True))
    # second cell-B pixel far away so the cell has >1 clump
    rows.append(("b001", "cellB", 0, 0, True))
    pdf = pd.DataFrame(rows, columns=["url", "cell_id", "r", "c", "flag"])
    df = spark.createDataFrame(pdf)
    out = clumps.label_clumps_distributed(df, "flag", tile_rows=tile_rows) \
        .collect()
    got = {(row.cell_id, row.r, row.c): row.clump_id for row in out}
    # cell A: one clump canonical at min linear index 6*W+3
    for r in range(6, 10):
        assert got[("cellA", r, 3)] == 6 * W + 3
    # cell B: the isolated pixel keeps its own label (NOT remapped to
    # cell A's root 6*W+3)
    assert got[("cellB", 8, 3)] == 8 * W + 3
    assert got[("cellB", 0, 0)] == 0


@pytest.mark.parametrize("eight", [False, True])
def test_distributed_ccl_collects_nothing(spark, monkeypatch, eight):
    """The seam merge runs per cell on the executors: building the
    labelled frame makes no driver collect(). Two random cells with an
    isolated bar at c=5: cell A's crosses all four 4-row tiles from row
    1, cell B's starts at row 8, so both cells hold local label 8*W+5
    and only cell A's seams merge it. Against label_components
    canonicalized to each component's first pixel, at 4- and
    8-connectivity."""
    tile_rows, rows, want = 4, [], {}
    for k, (cell, top) in enumerate((("cellA", 1), ("cellB", 8))):
        mask = np.random.RandomState(50 + k).rand(20, W) < 0.45
        mask[:16, 4:7] = False
        mask[top:15, 5] = True
        lab, _n = kernels.label_components(mask, eight_connected=eight)
        first = {}
        for r, c in zip(*np.nonzero(mask)):
            first.setdefault(lab[r, c], int(r) * W + int(c))
            want[(cell, int(r), int(c))] = first[lab[r, c]]
        rows += [(cell, r, c, bool(mask[r, c]))
                 for r in range(20) for c in range(W)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell_id", "r", "c", "flag"]))

    def refuse(*_a, **_k):
        raise AssertionError("the CCL collected to the driver")

    with monkeypatch.context() as m:
        # the session's DataFrame class (pyspark.sql.classic), which
        # overrides pyspark.sql.DataFrame.collect
        m.setattr(type(df), "collect", refuse)
        out = clumps.label_clumps_distributed(
            df, "flag", tile_rows=tile_rows, eight_connected=eight)
    got = {(row.cell_id, row.r, row.c): row.clump_id for row in out.collect()}
    assert got == want
    assert got[("cellA", 14, 5)] == 1 * W + 5
    assert got[("cellB", 14, 5)] == 8 * W + 5


def test_non_boolean_columns_raise(spark):
    """Every column rides one bitpacked tinyint, so a non-boolean in_cols
    or passthrough column is refused by name before any job runs."""
    df, _ = _mask_df(spark)
    df = df.withColumn("n", F.lit(3))
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup()
    for cols in (dict(in_cols=("flag", "n")),
                 dict(in_cols=("flag",), passthrough=("url", "flag"))):
        with pytest.raises(TypeError, match=r"columns (n \(int\)|url "
                                            r"\(string\))$"):
            tiling.tiled_neighborhood(df, lambda s: {}, out_cols=(),
                                      radius=1, **cols)
    assert tracker.getJobIdsForGroup() == jobs


def test_with_halo_counts(spark):
    df, _ = _mask_df(spark)
    haloed = tiling.with_halo(df, radius=2, tile_rows=16)
    n_core = haloed.filter("not is_halo").count()
    assert n_core == H * W
    # each interior seam duplicates radius rows in each direction
    n_tiles = (H + 15) // 16
    n_seams = n_tiles - 1
    expected_halo = n_seams * (2 + 2) * W
    n_halo = haloed.filter("is_halo").count()
    assert n_halo == expected_halo, (n_halo, expected_halo)
