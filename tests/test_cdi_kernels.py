"""W3/W4 kernels: focal variance, erosion, constrained region grow, CDI
(fmask/fmask.py:398-406,1399-1429)."""

from __future__ import annotations

import numpy as np

from python_fmask_spark.operators import kernels


def test_box_mean_constant():
    img = np.full((10, 10), 3.0)
    assert np.allclose(kernels.box_mean(img, 7), 3.0)


def test_focal_variance_flat_zero_and_step_positive():
    img = np.full((12, 12), 5.0)
    v = kernels.focal_variance(img, 7)
    assert np.allclose(v, 0.0, atol=1e-9)
    img[:, 6:] = 9.0
    v = kernels.focal_variance(img, 7)
    assert v[6, 6] > 0.1
    assert abs(v[6, 0]) < 1e-9  # far from the step


def test_binary_erode4():
    m = np.zeros((7, 7), dtype=bool)
    m[2:5, 2:5] = True
    e = kernels.binary_erode4(m)
    assert e[3, 3] and e.sum() == 1
    # border blocks erode away entirely
    m2 = np.zeros((5, 5), dtype=bool)
    m2[0:2, 0:2] = True
    assert kernels.binary_erode4(m2).sum() == 0


def test_region_grow_confined():
    seed = np.zeros((8, 8), dtype=bool)
    seed[4, 4] = True
    mask = np.zeros((8, 8), dtype=bool)
    mask[4, 2:7] = True  # horizontal corridor through the seed
    mask[2:7, 4] = True  # vertical corridor
    grown = kernels.region_grow(seed, mask)
    assert grown[4, 2] and grown[2, 4] and grown[6, 4] and grown[4, 6]
    assert not grown[2, 2]  # diagonal not reachable (4-conn)
    assert grown.sum() == mask.sum() | seed.sum()


def test_region_grow_keeps_seed_outside_mask():
    seed = np.zeros((5, 5), dtype=bool)
    seed[0, 0] = True
    mask = np.zeros((5, 5), dtype=bool)  # empty grow region
    grown = kernels.region_grow(seed, mask)
    assert grown[0, 0] and grown.sum() == 1


def test_cdi_uniform_is_zero_and_filter_passthrough():
    # exactly representable values -> ratios and box means are exact,
    # variances are exactly 0, the divide-by-zero guard path is taken
    nir = np.full((16, 16), 0.5)
    nir8a = np.full((16, 16), 0.25)
    nir7 = np.full((16, 16), 1.0)
    cdi = kernels.calc_cdi(nir / nir8a, nir7 / nir8a)
    assert np.allclose(cdi, 0.0)  # both variances 0 -> guard path
    pcp = np.zeros((16, 16), dtype=bool)
    pcp[4:8, 4:8] = True
    out = kernels.cdi_pcp_filter(pcp, cdi)
    # cdi == 0 everywhere -> no confident selection -> all pcp removed
    assert out.sum() == 0


def test_cdi_filter_keeps_displaced_clouds():
    pcp = np.zeros((16, 16), dtype=bool)
    pcp[4:10, 4:10] = True
    cdi = np.zeros((16, 16), dtype=np.float32)
    cdi[4:10, 4:10] = -0.6  # strongly negative -> genuine cloud
    out = kernels.cdi_pcp_filter(pcp, cdi)
    # eroded core survives and grows back within the -0.25 region
    assert out[6, 6]
    assert out.sum() == pcp.sum()  # grow-back covers the whole block
