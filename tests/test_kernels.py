"""Kernel micro-fixtures (FIXTURES.md §5): hand-computed truth tables for
the scipy-free NumPy transcriptions."""

from __future__ import annotations

import numpy as np

from python_fmask_spark.operators import kernels


def test_majority3_interior():
    m = np.zeros((8, 8), dtype=bool)
    m[3:6, 3:6] = True  # 3x3 block
    out = kernels.majority3_buffer(m)
    # centre of block has 9 cloud neighbors -> cloud
    assert out[4, 4]
    # corner of block has 4 -> not cloud
    assert not out[3, 3] or m[3, 3] and kernels.neighbor_count(
        m, [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)])[3, 3] >= 5
    # far away -> not cloud
    assert not out[0, 0]


def test_majority3_counts_explicit():
    m = np.zeros((5, 5), dtype=bool)
    m[2, 1] = m[2, 2] = m[2, 3] = m[1, 2] = m[3, 2] = True  # plus-shape: 5
    out = kernels.majority3_buffer(m)
    assert out[2, 2]  # sees all 5
    assert not out[0, 0]


def test_majority3_reflect_edge():
    # single row: reflect duplicates the row above/below
    m = np.zeros((1, 6), dtype=bool)
    m[0, 2] = m[0, 3] = True
    # window at col 2: cols 1,2,3 each x3 (reflect) -> 2 True cols x3 = 6 >= 5
    out = kernels.majority3_buffer(m)
    assert out[0, 2] and out[0, 3]
    assert not out[0, 0]


def test_dilate_impulse():
    for radius in (1, 2, 5):
        m = np.zeros((13, 13), dtype=bool)
        m[6, 6] = True
        out = kernels.dilate(m, radius)
        for r in range(13):
            for c in range(13):
                d = ((r - 6) ** 2 + (c - 6) ** 2) ** 0.5
                assert out[r, c] == (d <= radius), (radius, r, c)


def test_label_diag_touching():
    m = np.array([
        [1, 0, 0, 0],
        [0, 1, 0, 0],
        [0, 0, 0, 1],
        [0, 0, 1, 0],
    ], dtype=bool)
    lab8, n8 = kernels.label_components(m, eight_connected=True)
    assert n8 == 2
    assert lab8[0, 0] == lab8[1, 1] == 1
    assert lab8[2, 3] == lab8[3, 2] == 2
    lab4, n4 = kernels.label_components(m, eight_connected=False)
    assert n4 == 4


def test_label_u_shape_union():
    # U-shape forces a union of two provisional labels
    m = np.array([
        [1, 0, 1],
        [1, 0, 1],
        [1, 1, 1],
    ], dtype=bool)
    lab, n = kernels.label_components(m, eight_connected=False)
    assert n == 1
    assert (lab[m] == 1).all()


def test_fill_minima_basin():
    # NB the reference's C kernel seeds border pixels with boundaryval
    # (clamped to hMin), not their own img value (c_src/fillminima.c:259-267)
    # — so only interior pixels are asserted here.
    img = np.full((7, 7), 100, dtype=np.int64)
    img[3, 3] = 10  # single-pixel pit
    img[1:6, 1:6] = 100
    out = kernels.fill_minima(img, nullval=0, boundaryval=0)
    assert out[3, 3] == 100  # filled to surrounding level
    assert (out[1:6, 1:6][img[1:6, 1:6] == 100] == 100).all()


def test_fill_minima_boundaryval_floor():
    img = np.full((7, 7), 100, dtype=np.int64)
    img[3, 3] = 10
    # boundary value above pit: pit still fills to the surrounding level
    out = kernels.fill_minima(img, nullval=0, boundaryval=50)
    assert out[3, 3] == 100


def test_fill_minima_open_valley_not_filled():
    # monotone ramp draining to the border: interior unchanged
    # (border pixels take boundaryval per the reference's C kernel)
    img = np.arange(49, dtype=np.int64).reshape(7, 7) + 1
    out = kernels.fill_minima(img, nullval=0, boundaryval=0)
    assert (out[1:6, 1:6] == img[1:6, 1:6]).all()


def test_fill_minima_null_border():
    img = np.full((8, 8), 100, dtype=np.int64)
    img[0, :] = 0  # null strip
    img[4, 4] = 20
    out = kernels.fill_minima(img, nullval=0, boundaryval=0)
    assert out[4, 4] == 100
    assert (out[0, :] == 0).all()


def test_cloud_shape_small_clump_uses_min():
    clumps = np.zeros((6, 6), dtype=np.int64)
    clumps[2:4, 2:4] = 1  # 4 px -> R < 8 -> Tcloudbase = min
    bt = np.full((6, 6), 10.0)
    bt[2, 2] = -3.0
    ((cid, flat),) = kernels.clump_groups(clumps)
    rows, cols = flat // 6, flat % 6
    dn = np.zeros(len(flat), dtype=np.int64)
    base, shape, _entry = kernels.clump_shadow(
        rows, cols, bt[rows, cols], dn, dn, 0.0, 0.0, clumps.shape)
    assert cid == 1 and base == -3.0
    # heights: (Tbase - clipped bt)/6.5 ... all bt > base -> clipped to base -> 0
    assert (shape == 0).all()


def test_shadow_match_known_offset():
    # Flat cloud (height 0): the template equals the cloud footprint; the
    # height sweep then slides it along the sun vector (az=pi/2 -> due
    # west) and must lock onto a potential-shadow block 7 px west.
    H = W = 40
    cloudmask = np.zeros((H, W), dtype=bool)
    cloudmask[5:10, 20:25] = True
    ((cid, flat),) = kernels.clump_groups(cloudmask.astype(np.int64))
    dn = np.zeros(len(flat), dtype=np.int64)  # sat angles 0
    t_base, _heights, entry = kernels.clump_shadow(
        flat // W, flat % W, None, dn, dn, np.pi / 2, 0.1, (H, W))
    assert cid == 1 and np.isnan(t_base)  # no thermal: a flat cloud
    (rows, cols), *_ = entry
    assert rows.min() == 5 and cols.min() == 20  # height 0: template == cloud
    potential = np.zeros((H, W), dtype=bool)
    potential[5:10, 13:18] = True  # 7 px west of the cloud
    null = np.zeros((H, W), dtype=bool)
    matched = kernels.match_one_shadow(
        cloudmask, entry, potential, t_cloudbase=0.0, t_low=0.0,
        t_high=10.0, nullmask=null)
    assert matched is not None
    got = np.zeros((H, W), dtype=bool)
    got[matched] = True
    assert (got & potential).sum() == 25  # exact lock onto the block
    assert not (got & ~potential).any()


def test_shadow_match_on_row_band_equals_whole():
    """match_one_shadow on a row band of a taller cell (row0 > 0,
    img_nrows = cell height) accepts exactly the whole-raster
    placements and returns cell rows; a band that misses a reachable
    placement raises instead of matching wrongly."""
    import pytest

    H, W = 64, 8
    temps = (10.0, 5.0, 20.0)  # t_cloudbase, t_low, t_high
    sun_az, sun_zen, sat_az, sat_zen = 0.2, 0.6, 0.3, 0.05
    n_matched = 0
    for seed in range(6):
        rng = np.random.RandomState(seed)
        cloud = rng.rand(H, W) > 0.8
        pot = rng.rand(H, W) > 0.3
        null = rng.rand(H, W) > 0.95
        tr = rng.randint(30, 36, size=6).astype(np.uint32)
        tc = rng.randint(2, 5, size=6).astype(np.uint32)
        entry = ((tr, tc), sat_az, sat_zen, sun_az, sun_zen)
        whole = kernels.match_one_shadow(cloud, entry, pot, *temps, null)

        # rows of the reachable placements (inside the cell)
        n, place = kernels.shadow_sweep(*temps, sun_az, sun_zen, sat_az,
                                        sat_zen)
        tnr = int(tr.max() - tr.min()) + 1
        tnc = int(tc.max() - tc.min()) + 1
        rows = [int(tr.min()) - ro for ro, co in map(place, range(n))
                if 0 <= int(tr.min()) - ro <= H - tnr
                and 0 <= int(tc.min()) - co <= W - tnc]
        b0, b1 = min(rows), max(rows) + tnr
        assert 0 < b0 and b1 < H

        band = kernels.match_one_shadow(
            cloud[b0:b1], entry, pot[b0:b1], *temps, null[b0:b1],
            row0=b0, img_nrows=H)
        if whole is None:
            assert band is None
        else:
            n_matched += 1
            np.testing.assert_array_equal(band[0], whole[0])
            np.testing.assert_array_equal(band[1], whole[1])

        with pytest.raises(AssertionError, match="under-covered"):
            kernels.match_one_shadow(
                cloud[b0 + 1:b1], entry, pot[b0 + 1:b1], *temps,
                null[b0 + 1:b1], row0=b0 + 1, img_nrows=H)
    assert n_matched > 0


def test_tile_decomposition_majority():
    # Tiling property: whole-array kernel == tiled kernel with 1px halo.
    rng = np.random.RandomState(42)
    m = rng.rand(64, 8) > 0.6
    whole = kernels.majority3_buffer(m)
    tile_h = 16
    out = np.zeros_like(whole)
    for t0 in range(0, 64, tile_h):
        lo = max(0, t0 - 1)
        hi = min(64, t0 + tile_h + 1)
        sub = m[lo:hi]
        # interior tiles must not see reflect borders at the seam:
        # emulate by computing on the haloed slab and cutting the core.
        res = kernels.majority3_buffer(sub)
        core0 = t0 - lo
        out[t0:t0 + tile_h] = res[core0:core0 + tile_h]
    # seams differ only where the halo was genuine border reflect;
    # interior rows must agree exactly
    assert (out[1:63] == whole[1:63]).all()


def test_hq_fill_c_matches_python():
    """The self-built C hierarchical-queue kernel is bit-identical to
    the pure-Python queue (the parity oracle) across null densities,
    raster shapes, and boundary levels."""
    import numpy as np

    from python_fmask_spark._native import get_hq_fill
    from python_fmask_spark.operators import kernels

    if get_hq_fill() is None:  # no compiler in this environment
        import pytest
        pytest.skip("no C toolchain; python fallback is the only path")

    rng = np.random.RandomState(7)
    for _ in range(20):
        H = rng.randint(4, 300)
        W = int(rng.choice([3, 8, 8, 21]))
        img = rng.randint(0, 2500, size=(H, W)).astype(np.int64)
        nullmask = rng.rand(H, W) < float(rng.choice([0.0, 0.1, 0.4]))
        non_null = ~nullmask
        if not non_null.any():
            continue
        h_max = int(img[non_null].max())
        h_min = int(img[non_null].min())
        bval = int(rng.randint(h_min, h_max + 1))

        def seeds():
            i2 = np.full((H, W), h_max, dtype=np.int64)
            edge = np.zeros((H, W), dtype=bool)
            edge[0, :] = edge[-1, :] = True
            edge[:, 0] = edge[:, -1] = True
            i2[edge & (img != h_max)] = bval
            i2[nullmask] = h_max
            return i2

        a, b = seeds(), seeds()
        kernels.hq_fill(img, nullmask, a, h_min, h_max)
        kernels._hq_fill_py(img, nullmask, b, h_min, h_max)
        assert (a == b).all()


def test_hq_fill_out_of_contract_seed_is_clamped():
    """ADVICE r4: a seed below h_min must not index the C level queues
    out of bounds (heap corruption) — both the C kernel and the Python
    fallback clamp it to the lowest processed level, identically."""
    import numpy as np

    from python_fmask_spark.operators import kernels

    img = np.array([[5, 7, 5],
                    [7, 9, 7],
                    [5, 7, 5]], dtype=np.int64) * 100
    nullmask = np.zeros((3, 3), dtype=bool)
    h_min, h_max = 500, 900

    def seeds():
        i2 = np.full((3, 3), h_max, dtype=np.int64)
        i2[0, 0] = 120  # far below h_min: out of the documented contract
        i2[2, 2] = 500
        return i2

    a, b = seeds(), seeds()
    kernels.hq_fill(img, nullmask, a, h_min, h_max)
    kernels._hq_fill_py(img, nullmask, b, h_min, h_max)
    assert (a == b).all()
    # the clamped seed still flooded: its neighbours got filled
    assert a[0, 1] < h_max and a[1, 0] < h_max
