"""Spark-free replay of the tiled stages against the whole-raster kernels.

A NumPy tiler forms the groups ``tiling.with_halo`` forms (tile j of
height T holds rows [j*T - above, (j+1)*T + radius) of its cell, is_halo
outside its own rows) and feeds them, as pandas frames in the columns
Spark ships, to the module-level per-group functions: the halo-kernel
tile (``tiling.neighborhood_group``), the fill-minima round
(``fillminima_dist.fill_round``, iterated to the fixpoint as
``fill_minima_distributed`` iterates it), the tile-local CCL plus the
per-cell seam union-find (``clumps.local_label``, ``clumps.seam_roots``)
and stage 5's clump kernel and band match (``scene_dist._clump_kernel``,
``scene_dist._match_band_kernel``). Cases cover tile heights 2-16, halos
wider than a tile, ragged last rows, all-null cells, fill basins that
cross 3 or more tiles, clumps that cross seams and cells that span
several match bands.

No test here needs a SparkSession, and the module fails any attempt to
launch a JVM. Run alone, it takes seconds:

    python -m pytest tests/test_tile_replay.py -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from python_fmask_spark import constants as C
from python_fmask_spark import tiling
from python_fmask_spark.operators import (clumps, fillminima_dist, kernels,
                                         scene, scene_dist)

W = C.SCENE_WIDTH
NULL = C.REF_NULL_DN


@pytest.fixture(autouse=True)
def _no_jvm(monkeypatch):
    import pyspark.context
    import pyspark.java_gateway

    def refuse(*_a, **_k):
        raise AssertionError("the tile replay must not start a JVM")

    monkeypatch.setattr(pyspark.java_gateway, "launch_gateway", refuse)
    monkeypatch.setattr(pyspark.context, "launch_gateway", refuse)


def _pixels(H: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(r, c) of a cell's first ``n`` pixels of an H x W raster in
    row-major order: a ragged last row when n % W != 0."""
    idx = np.arange(n)
    return (idx // W).astype(np.int32), (idx % W).astype(np.int32)


def _ragged(rng, H: int) -> int:
    return H * W - int(rng.randint(0, W)) if rng.rand() < 0.5 else H * W


def _groups(r: np.ndarray, tile_rows: int, radius: int, above=None):
    """(row indexes, is_halo) of every group with_halo forms."""
    above = radius if above is None else above
    for j in range((int(r.max()) + above) // tile_rows + 1):
        sel = np.flatnonzero((r >= j * tile_rows - above)
                             & (r < (j + 1) * tile_rows + radius))
        if len(sel):
            yield sel, r[sel] // tile_rows != j


def _whole(r, c, values, fill, dtype=bool):
    return kernels.raster(r, c, values, (int(r.max()) + 1, W), fill, dtype)


# --- halo kernels (tiled_neighborhood) --------------------------------------


def _replay_neighborhood(frame: pd.DataFrame, kernel, in_cols, out_cols,
                         radius: int, tile_rows: int) -> pd.DataFrame:
    bits = sum(frame[n].to_numpy().astype(np.int8) << i
               for i, n in enumerate(in_cols))
    shipped = frame[["cell_id", "r", "c"]].assign(_bf=bits.astype(np.int8))
    r = frame["r"].to_numpy()
    out = pd.concat([
        tiling.neighborhood_group(
            shipped.iloc[sel].assign(is_halo=halo).reset_index(drop=True),
            kernel, in_cols, out_cols, in_cols)
        for sel, halo in _groups(r, tile_rows, radius)])
    return out.sort_values(["r", "c"]).reset_index(drop=True)


@pytest.mark.parametrize("seed", range(6))
def test_interim_cloud_replay_equals_whole(seed):
    """Stage 1's tile pass (majority, ``& ~nullmask``, cloud buffer) at
    random tile heights and buffers, halo wider than a tile included:
    ghost slots of a ragged last row must read null, as the whole
    raster's nullmask has them."""
    rng = np.random.RandomState(seed)
    for _ in range(20):
        H = int(rng.randint(1, 33))
        r, c = _pixels(H, _ragged(rng, H))
        T = int(rng.randint(2, 17))
        buf = int(rng.choice([0, 1, 2, rng.randint(0, T + 4)]))
        null_p = 1.0 if rng.rand() < 0.1 else rng.rand() * 0.2
        frame = pd.DataFrame({
            "cell_id": "x", "r": r, "c": c,
            "cloud_raw": rng.rand(len(r)) < rng.rand(),
            "nullmask": rng.rand(len(r)) < null_p})

        def fused(slabs):
            cloud_m, clouddil = kernels.interim_cloud(
                slabs["cloud_raw"], slabs["nullmask"], buf)
            return {"cloud_m": cloud_m, "clouddil": clouddil}

        got = _replay_neighborhood(frame, fused, ("cloud_raw", "nullmask"),
                                   ("cloud_m", "clouddil"), 1 + buf, T)
        cloud_m, clouddil = kernels.interim_cloud(
            _whole(r, c, frame["cloud_raw"], False),
            _whole(r, c, frame["nullmask"], True), buf)
        case = (seed, H, len(r), T, buf)
        assert len(got) == len(r), case
        np.testing.assert_array_equal(got["cloud_m"], cloud_m[r, c], str(case))
        np.testing.assert_array_equal(got["clouddil"], clouddil[r, c],
                                      str(case))
        np.testing.assert_array_equal(got["nullmask"], frame["nullmask"])


@pytest.mark.parametrize("seed", range(4))
def test_shadow_buffer_replay_equals_whole(seed):
    """Stage 6's dilation, sparse seeds so that a too-narrow halo would
    show, radius up to the tile height + 3."""
    rng = np.random.RandomState(100 + seed)
    for _ in range(15):
        H = int(rng.randint(1, 33))
        r, c = _pixels(H, _ragged(rng, H))
        T = int(rng.randint(2, 9))
        rad = int(rng.randint(1, T + 4))
        frame = pd.DataFrame({"cell_id": "x", "r": r, "c": c,
                              "shadow_raw": rng.rand(len(r)) < 0.02})
        got = _replay_neighborhood(
            frame, lambda s: {"dil": kernels.dilate(s["shadow_raw"], rad)},
            ("shadow_raw",), ("dil",), rad, T)
        want = kernels.dilate(_whole(r, c, frame["shadow_raw"], False), rad)
        np.testing.assert_array_equal(got["dil"], want[r, c],
                                      str((seed, H, T, rad)))


# --- fill-minima rounds ------------------------------------------------------


def _replay_fill(img: np.ndarray, r, c, bval: float, tile_rows: int):
    """(filled, rounds): fill_minima_distributed's per-cell meta and
    rounds, replayed to the fixpoint."""
    valid = img != NULL
    nan = float("nan")
    state = pd.DataFrame({
        "cell_id": "x", "r": r, "c": c, "nir": img,
        "h_max": img[valid].max() if valid.any() else nan,
        "h_min": img[valid].min() if valid.any() else nan,
        "cell_h": int(r.max()) + 1,
        "cell_has_null": int((~valid).any()
                             or len(r) < (int(r.max()) + 1) * W),
        "cell_bval": float(bval),
        "img2": fillminima_dist._UNSET})
    for rounds in range(1, 200):
        rr = state["r"].to_numpy()
        state = pd.concat([
            fillminima_dist.fill_round(
                state.iloc[sel].assign(is_halo=halo).reset_index(drop=True))
            for sel, halo in _groups(rr, tile_rows, 1)])
        state = state.sort_values(["r", "c"]).reset_index(drop=True)
        if not state["changed"].sum():
            break
    filled = np.where(state["nir"] == NULL, NULL, state["img2"])
    return filled, rounds


def _terrain(rng, H: int) -> np.ndarray:
    img = rng.randint(50, 200, size=(H, W)).astype(np.int64)
    for _ in range(int(rng.randint(0, 4))):
        img[rng.randint(0, H), rng.randint(0, W)] = rng.randint(1, 20)
    if rng.rand() < 0.4:
        r0 = rng.randint(0, H)
        img[r0:r0 + rng.randint(1, 4), rng.randint(0, W):] = NULL
    return img


def _channel(H: int) -> np.ndarray:
    """A 1-pixel channel at c=3 walled on three sides, draining only
    through the cell's top edge: its fill level reaches a tile one round
    after the tile above it, so the fill wave crosses every tile."""
    img = np.full((H, W), 100, dtype=np.int64)
    img[:, 2] = img[:, 4] = 200
    img[:, 3] = 10
    img[-1, 3] = 200
    return img


@pytest.mark.parametrize("seed", range(4))
def test_fill_replay_equals_whole(seed):
    """Random terrain with null patches, ragged last rows and all-null
    cells, to the fixpoint, against the whole-raster kernels.fill_minima
    (a ghost slot is a null pixel there)."""
    rng = np.random.RandomState(200 + seed)
    for k in range(25):
        H = int(rng.randint(1, 25))
        img = (np.zeros((H, W), dtype=np.int64) if k % 12 == 0
               else _terrain(rng, H))
        r, c = _pixels(H, _ragged(rng, H))
        T = int(rng.randint(2, 17))
        bval = float(rng.choice([0, 80, 120]))
        got, _ = _replay_fill(img[r, c], r, c, bval, T)
        want = kernels.fill_minima(_whole(r, c, img[r, c], NULL, np.int64),
                                   NULL, bval)
        np.testing.assert_array_equal(got, want[r, c],
                                      str((seed, k, H, len(r), T, bval)))


@pytest.mark.parametrize("seed", range(4))
def test_fill_in_one_tile_takes_one_round(seed):
    """A cell that fits in one tile (tile height >= H) has no halo
    source: random terrain, ragged last rows and all-null cells reach
    the whole-raster fill in exactly one round."""
    rng = np.random.RandomState(400 + seed)
    for k in range(25):
        H = int(rng.randint(1, 25))
        img = (np.zeros((H, W), dtype=np.int64) if k % 8 == 0
               else _terrain(rng, H))
        r, c = _pixels(H, _ragged(rng, H))
        T = H + int(rng.randint(0, 4))
        bval = float(rng.choice([0, 80, 120]))
        got, rounds = _replay_fill(img[r, c], r, c, bval, T)
        want = kernels.fill_minima(_whole(r, c, img[r, c], NULL, np.int64),
                                   NULL, bval)
        case = str((seed, k, H, len(r), T, bval))
        np.testing.assert_array_equal(got, want[r, c], case)
        assert rounds == 1, case


@pytest.mark.parametrize("tile_rows", [2, 3, 4, 8])
def test_fill_basin_across_tiles_takes_rounds(tile_rows):
    """The channel's fill wave crosses every tile (3 to 12 of them): one
    round per tile, then one round that changes nothing."""
    H = 24
    img = _channel(H)
    r, c = _pixels(H, H * W)
    got, rounds = _replay_fill(img[r, c], r, c, 0.0, tile_rows)
    np.testing.assert_array_equal(got, kernels.fill_minima(img, NULL, 0.0)
                                  [r, c])
    assert rounds == -(-H // tile_rows) + 1


# --- cross-tile CCL ---------------------------------------------------------


def _replay_ccl(cells: dict, tile_rows: int, eight: bool) -> dict:
    """{(cell, r, c): clump_id} for the True pixels of ``cells`` (cell ->
    (r, c) arrays): tile-local labels, seam edges between each tile's
    last row and the next tile's first row, one union-find per cell."""
    local = {}
    for cell, (r, c) in cells.items():
        tile = r // tile_rows
        for t in np.unique(tile):
            sel = tile == t
            out = clumps.local_label(pd.DataFrame(
                {"cell_id": cell, "r": r[sel], "c": c[sel], "tile": t}),
                eight)
            local.update({(cell, int(a), int(b)): int(lab) for a, b, lab in
                          zip(out["r"], out["c"], out["local_label"])})
    reach = (-1, 0, 1) if eight else (0,)
    edges = pd.DataFrame(
        [(cell, lab, local[(cell, r + 1, c + d)])
         for (cell, r, c), lab in local.items()
         if r % tile_rows == tile_rows - 1
         for d in reach if (cell, r + 1, c + d) in local],
        columns=["cell_id", "lab_a", "lab_b"])
    root = {(cell, lab): rt for _, grp in edges.groupby("cell_id")
            for cell, lab, rt in clumps.seam_roots(grp).itertuples(
                index=False)}
    return {k: root.get((k[0], lab), lab) for k, lab in local.items()}


@pytest.mark.parametrize("seed", range(6))
def test_ccl_replay_equals_whole(seed):
    """Two cells per case, each through its own seam union-find (labels
    are cell-local, so a merge must not leak across cells), 4- and
    8-connected, against label_components canonicalized to each
    component's first pixel."""
    rng = np.random.RandomState(300 + seed)
    merged = 0
    for k in range(30):
        T = int(rng.randint(2, 17))
        eight = bool(k % 2)
        cells, want = {}, {}
        for cell in ("a", "b"):
            H = int(rng.randint(1, 41))
            r, c = _pixels(H, _ragged(rng, H))
            mask = _whole(r, c, rng.rand(len(r)) < rng.rand() * 0.7, False)
            lab, _n = kernels.label_components(mask, eight_connected=eight)
            first = {}
            for rr, cc in zip(*np.nonzero(mask)):
                first.setdefault(lab[rr, cc], int(rr) * W + int(cc))
            sel = mask[r, c]
            cells[cell] = (r[sel], c[sel])
            want.update({(cell, int(rr), int(cc)): first[lab[rr, cc]]
                         for rr, cc in zip(r[sel], c[sel])})
        got = _replay_ccl(cells, T, eight)
        assert got == want, (seed, k, T, eight)
        merged += sum(v != k[1] * W + k[2] and k[1] // T != v // W // T
                      for k, v in got.items())
    # some clumps cross seams
    assert merged


# --- stage 5: banded shadow match -------------------------------------------


def _scene(rng, H: int, n: int, thermal: bool) -> dict:
    """One cell's match inputs as pixel columns: clouds (null-free, as
    the interim mask is), potential shadow, nulls, brightness
    temperatures and view-angle DNs, plus the cell scalars. The sun
    stands near north or south and high (sun zenith at most 0.2 rad), so
    a shadow lands a few to a few dozen rows from its cloud."""
    r, c = _pixels(H, n)
    null = rng.rand(n) < rng.rand() * 0.1
    return {
        "r": r, "c": c, "nullmask": null,
        "cloudmask": (rng.rand(n) < rng.rand() * 0.2) & ~null,
        "potential_shadow": rng.rand(n) < rng.rand(),
        "bt": rng.uniform(10.0, 25.0, n),
        "sat_az_cdn": rng.randint(0, 629, n),
        "sat_zen_cdn": rng.randint(0, 20, n),
        "sun_az": float(rng.choice([0.0, np.pi]) + rng.uniform(-0.3, 0.3)),
        "sun_zen": float(rng.uniform(0.01, 0.2)),
        "g_tlow": float(rng.uniform(5.0, 15.0)) if thermal else np.nan,
        "g_thigh": float(rng.uniform(15.0, 25.0)) if thermal else np.nan,
    }


def _whole_matches(s: dict, H: int, thermal: bool) -> set:
    """classify_scene's per-clump loop: the shadow pixels matched."""
    r, c = s["r"], s["c"]
    cloud = _whole(r, c, s["cloudmask"], False)
    pot = _whole(r, c, s["potential_shadow"], False)
    null = _whole(r, c, s["nullmask"], True)
    bt = _whole(r, c, s["bt"], 0.0, np.float64)
    az = _whole(r, c, s["sat_az_cdn"], 0, np.int64)
    zen = _whole(r, c, s["sat_zen_cdn"], 0, np.int64)
    lab, _n = kernels.label_components(cloud, eight_connected=True)
    out = set()
    for _cid, flat in kernels.clump_groups(lab):
        ndx = (flat // W, flat % W)
        t_base, _h, entry = kernels.clump_shadow(
            ndx[0], ndx[1], bt[ndx] if thermal else None, az[ndx], zen[ndx],
            s["sun_az"], s["sun_zen"], (H, W))
        got = kernels.match_one_shadow(
            cloud, entry, pot, t_base, scene._opt(s["g_tlow"]),
            scene._opt(s["g_thigh"]), null)
        if got is not None:
            out |= set(zip(got[0].tolist(), got[1].tolist()))
    return out


def _replay_match(s: dict, H: int, thermal: bool) -> tuple[set, int]:
    """Stages 4-5 as scene_dist runs them, but with the band height as
    low as the widest search window: (the union of the band matches,
    the number of bands a template starts in)."""
    r, c = s["r"], s["c"]
    scalars = {k: s[k] for k in ("sun_az", "sun_zen", "g_tlow", "g_thigh")}
    scalars.update(cell_id="x", cell_rows=H)
    cloud = s["cloudmask"]
    lab, _n = kernels.label_components(_whole(r, c, cloud, False),
                                       eight_connected=True)
    clump_px = pd.DataFrame({
        "cloud_id": lab[r[cloud], c[cloud]], "r": r[cloud], "c": c[cloud],
        **{k: s[k][cloud] for k in ("bt", "sat_az_cdn", "sat_zen_cdn")}})
    if clump_px.empty:
        return set(), 0
    px = pd.concat([
        scene_dist._clump_kernel(grp.assign(**scalars), has_thermal=thermal)
        for _cid, grp in clump_px.groupby("cloud_id")])
    span = max(int((px["win_r1"] - px["win_r0"] + 1).max()), 1)
    flags = pd.DataFrame({
        "cell_id": "x", "r": r, "c": c,
        **{k: s[k] for k in ("cloudmask", "potential_shadow", "nullmask")}})
    tmpl = px.assign(**scalars, band=px["win_r0"] // span)
    bands = dict(tuple(tmpl.groupby("band")))
    out = set()
    for sel, _halo in _groups(r, span, span, above=0):
        left = bands.get(int(r[sel[0]]) // span)
        if left is not None:
            got = scene_dist._match_band_kernel(
                left, flags.iloc[sel].reset_index(drop=True))
            out |= set(zip(got["r"].tolist(), got["c"].tolist()))
    return out, len(bands)


@pytest.mark.parametrize("seed", range(4))
def test_match_band_replay_equals_whole(seed):
    """Stage 5 at its tightest banding: band b holds rows [bB, (b+1)B +
    span) with B = span, so a cell spans several bands. The union of the
    band matches equals classify_scene's per-clump whole-raster match,
    with and without thermal, and no band is under-covered (it would
    raise)."""
    rng = np.random.RandomState(500 + seed)
    matched = multi_band = 0
    for k in range(15):
        H = int(rng.randint(1, 121))
        thermal = bool(k % 3)
        s = _scene(rng, H, _ragged(rng, H), thermal)
        got, n_bands = _replay_match(s, H, thermal)
        assert got == _whole_matches(s, H, thermal), (seed, k, H, thermal)
        matched += len(got)
        multi_band += n_bands > 1
    # some shadows match, and some cells span several bands
    assert matched and multi_band
