"""Distributed fill-minima must equal the whole-scene kernel exactly,
for any tiling (the W6 tile-fixpoint property, SURVEY §7)."""

from __future__ import annotations

import pathlib
import sys

import numpy as np
import pandas as pd
import pytest

from python_fmask_spark import constants as C
from python_fmask_spark.operators import fillminima_dist, kernels
from python_fmask_spark.operators.fillminima_dist import (
    fill_minima_distributed,
)

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]
                        / "scripts"))

from independent_oracle import fill_minima_fixpoint  # noqa: E402

W = C.SCENE_WIDTH


def _terrain(seed: int, H: int, with_nulls: bool) -> np.ndarray:
    rng = np.random.RandomState(seed)
    img = rng.randint(50, 200, size=(H, W)).astype(np.int64)
    # carve a few deep basins spanning tile boundaries
    for (r, c) in [(10, 2), (30, 5), (31, 5), (32, 5), (70, 3), (71, 3)]:
        if r < H:
            img[r, c] = rng.randint(1, 20)
    if with_nulls:
        img[5:9, 0:3] = 0
        img[50:52, :] = 0
    return img


@pytest.mark.parametrize("nulls,tile_rows,bval",
                         [(False, 16, 0), (True, 16, 0),
                          (False, 37, 80), (True, 32, 80),
                          # every pixel nodata: the round must not
                          # convert the cell's NaN h_max to int
                          ("all", 16, 0),
                          # an all-nodata cell beside a normal one
                          ("one_cell", 16, 80)])
def test_distributed_fill_equals_whole(spark, nulls, tile_rows, bval):
    H = 96
    if nulls == "all":
        cells = {"cellF": np.zeros((H, W), dtype=np.int64)}
    elif nulls == "one_cell":
        cells = {"cellF": _terrain(11, H, True),
                 "cellN": np.zeros((H // 2, W), dtype=np.int64)}
    else:
        cells = {"cellF": _terrain(11, H, nulls)}
    out = fill_minima_distributed(_frame(spark, cells, bval), "bval",
                                  tile_rows=tile_rows).collect()
    bad = _mismatches(out, cells, bval)
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def _frame(spark, cells: dict, bval: float):
    rows = [("u%s%04d" % (cell, r * W + c), cell, r, c, int(img[r, c]))
            for cell, img in cells.items()
            for r in range(img.shape[0]) for c in range(W)]
    pdf = pd.DataFrame(rows, columns=["url", "cell_id", "r", "c", "nir"])
    pdf["bval"] = float(bval)
    return spark.createDataFrame(pdf)


def _mismatches(out, cells: dict, bval: float) -> list:
    """Pixels of ``out`` (collected rows) that differ from the
    whole-scene kernel or from the independent fixpoint; also fails on
    a missing or extra pixel."""
    got = {(r.cell_id, r.r, r.c): r.filled for r in out}
    assert len(got) == sum(img.size for img in cells.values())
    bad = []
    for cell, img in cells.items():
        want = kernels.fill_minima(img, nullval=0, boundaryval=bval)
        bad += [(cell, r, c, got[(cell, r, c)], int(want[r, c]))
                for r in range(img.shape[0]) for c in range(W)
                if got[(cell, r, c)] != int(want[r, c])]
        # both paths seed through kernels.fill_seeded: also check every
        # cell against the independent Jacobi fixpoint transcription
        fix = fill_minima_fixpoint(img, 0, bval)
        bad += [(cell, r, c, got[(cell, r, c)], int(fix[r, c]), "fixpoint")
                for r in range(img.shape[0]) for c in range(W)
                if got[(cell, r, c)] != int(fix[r, c])]
    return bad


def _channel(H: int) -> np.ndarray:
    """A 1-pixel channel walled on three sides, draining only through
    the cell's top edge: each round lowers it one tile further."""
    img = np.full((H, W), 100, dtype=np.int64)
    img[:, 2] = img[:, 4] = 200
    img[:, 3] = 10
    img[-1, 3] = 200
    return img


def test_cells_in_one_tile_take_one_round(spark, monkeypatch):
    """Two cells that each fit in one tile have no halo source, so one
    round is the fixpoint: capped at one round, the run converges."""
    cells = {"cellA": _terrain(3, 40, True), "cellB": _terrain(4, 17, False)}
    monkeypatch.setattr(fillminima_dist, "_MAX_ROUNDS", 1)
    out = fill_minima_distributed(_frame(spark, cells, 80),
                                  "bval").collect()
    bad = _mismatches(out, cells, 80)
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_tall_cell_tile_follows_its_height(spark, monkeypatch):
    """A cell's fill tile is max(tile_rows, ceil(H / 16)) rows: at
    tile_rows=2 the 64-row channel cell gets 16 four-row tiles, so its
    fill wave takes 16 + 1 rounds (32 two-row tiles would take 33),
    while the 10-row cell beside it keeps 2-row tiles."""
    cells = {"cellT": _channel(64), "cellS": _terrain(5, 10, True)}
    monkeypatch.setattr(fillminima_dist, "_MAX_ROUNDS", 17)
    out = fill_minima_distributed(_frame(spark, cells, 0), "bval",
                                  tile_rows=2).collect()
    bad = _mismatches(out, cells, 0)
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_no_fixpoint_raises(spark, monkeypatch):
    """A fill wave that crosses 6 tiles needs 7 rounds: a 1-pixel
    channel walled on three sides drains only through the cell's top
    edge, so each round lowers it one tile further. Capped at 3 rounds,
    the run must raise instead of returning the unconverged state."""
    H = 24
    img = _channel(H)
    pdf = pd.DataFrame([("cellC", r, c, int(img[r, c]), 0.0)
                        for r in range(H) for c in range(W)],
                       columns=["cell_id", "r", "c", "nir", "bval"])
    monkeypatch.setattr(fillminima_dist, "_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError,
                       match=r"[1-9]\d* pixels still changed after 3 rounds"):
        fill_minima_distributed(spark.createDataFrame(pdf), "bval",
                                tile_rows=4).collect()
