"""Property-based tests (hypothesis; FIXTURES.md §5):
quantization round-trips, dilation monotonicity/idempotence-adjacent
properties, precedence-merge determinism, tile-decomposition for halo
ops under random tilings."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from python_fmask_spark.operators import kernels


@st.composite
def small_mask(draw, max_h=48, w=8):
    h = draw(st.integers(4, max_h))
    bits = draw(st.binary(min_size=h * w, max_size=h * w))
    return np.frombuffer(bits, dtype=np.uint8).reshape(h, w) > 128


@given(small_mask(), st.integers(1, 3))
@settings(max_examples=40, deadline=None)
def test_dilation_monotone_and_extensive(mask, radius):
    out = kernels.dilate(mask, radius)
    # extensive: dilation never removes pixels
    assert (out | mask == out).all()
    # monotone: bigger radius -> superset
    out2 = kernels.dilate(mask, radius + 1)
    assert (out2 | out == out2).all()


@given(small_mask())
@settings(max_examples=30, deadline=None)
def test_majority_bounded_by_dilation(mask):
    maj = kernels.majority3_buffer(mask)
    dil = kernels.dilate(mask, 1.5)  # full 3x3 square kernel
    # majority(>=5 of 9) is a subset of any-of-3x3
    assert (maj & ~dil).sum() == 0


@given(small_mask(), st.integers(1, 2), st.integers(6, 20))
@settings(max_examples=25, deadline=None)
def test_tile_decomposition_random_tiling(mask, radius, tile_h):
    """Whole-raster == tiled+halo for the dilation kernel, any tiling."""
    H = mask.shape[0]
    whole = kernels.dilate(mask, radius)
    out = np.zeros_like(whole)
    for t0 in range(0, H, tile_h):
        lo = max(0, t0 - radius)
        hi = min(H, t0 + tile_h + radius)
        res = kernels.dilate(mask[lo:hi], radius)
        out[t0:t0 + tile_h] = res[t0 - lo:t0 - lo + tile_h]
    assert (out == whole).all()


@given(st.lists(st.floats(0, 2.55), min_size=1, max_size=50))
@settings(max_examples=30, deadline=None)
def test_prob_quantization_bounds(probs):
    """uint8 quantization (fmask/fmask.py:673-676): clip then truncate
    never exceeds byte range and is monotone."""
    arr = np.array(probs)
    q = np.clip(arr * 100.0, 0, 255).astype(np.uint8)
    assert (q >= 0).all() and (q <= 255).all()
    order = np.argsort(arr)
    assert (np.diff(q[order].astype(int)) >= 0).all()


@given(small_mask(), small_mask())
@settings(max_examples=25, deadline=None)
def test_precedence_merge_single_class(a, b):
    """maskAndBuffer contract: exactly one class per pixel."""
    h = min(a.shape[0], b.shape[0])
    cloud, water = a[:h], b[:h]
    out = np.full(cloud.shape, 1, dtype=np.uint8)
    out[water] = 5
    out[cloud] = 2
    assert set(np.unique(out)) <= {1, 2, 5}
    # cloud wins overlap
    assert (out[cloud & water] == 2).all()


@given(st.integers(0, 5), st.integers(2, 40))
@settings(max_examples=20, deadline=None)
def test_label_components_count_matches_union_find_invariant(seed, h):
    rng = np.random.RandomState(seed)
    m = rng.rand(h, 8) > 0.5
    lab, n = kernels.label_components(m, eight_connected=True)
    assert (lab > 0).sum() == m.sum()
    assert lab.max() == n
    # labels are 1..n, each non-empty
    for i in range(1, n + 1):
        assert (lab == i).any()
