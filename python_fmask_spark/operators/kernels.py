"""Pure-NumPy raster kernels (scipy-free transcriptions of the reference's
neighborhood / global operators). These run inside Arrow-batched
``applyInPandas`` tile kernels — never per-row Python.

Border semantics: single-mirror reflect (scipy's default ``mode='reflect'``,
i.e. ``d c b a | a b c d``), with out-of-range-after-one-mirror treated as
empty. This matches the reference exactly whenever the kernel is smaller
than the raster (always true for its 512x512 windows) and keeps the SQL
self-join formulation in derive.py bit-identical to the kernel path.
"""

from __future__ import annotations

import numpy as np

from .. import constants as C


def raster(rows: np.ndarray, cols: np.ndarray, values, shape: tuple[int, int],
           fill, dtype) -> np.ndarray:
    """The one rows -> raster scatter: a ``shape`` raster of ``dtype``
    holding ``values`` (an array or a scalar) at (rows, cols). Slots no
    row names (the ghost slots past a cell's last document) keep
    ``fill``."""
    out = np.full(shape, fill, dtype=dtype)
    out[rows, cols] = np.asarray(values).astype(dtype)
    return out


# ---------------------------------------------------------------------------
# reflect-indexed neighborhood primitives
# ---------------------------------------------------------------------------


def _reflect_idx(n: int, d: int) -> tuple[np.ndarray, np.ndarray]:
    """arange(n) + d under a single-mirror reflect: (the index clipped
    into range, whether it was in range after the one mirror)."""
    idx = np.arange(n) + d
    idx = np.where(idx < 0, -idx - 1, np.where(idx >= n, 2 * n - idx - 1, idx))
    return np.clip(idx, 0, n - 1), (idx >= 0) & (idx < n)


def _offset_sum(img: np.ndarray, offsets) -> np.ndarray:
    """Sum of ``img`` shifted by each (dr, dc) of ``offsets`` with reflect
    borders (an out-of-range position adds 0); each distinct row and
    column offset is reflected once."""
    h, w = img.shape
    rows = {dr: _reflect_idx(h, dr) for dr in {dr for dr, _ in offsets}}
    cols = {dc: _reflect_idx(w, dc) for dc in {dc for _, dc in offsets}}
    out = np.zeros((h, w), dtype=img.dtype)
    for dr, dc in offsets:
        (rr, r_ok), (cc, c_ok) = rows[dr], cols[dc]
        out += np.where(r_ok[:, None] & c_ok[None, :], img[np.ix_(rr, cc)], 0)
    return out


def neighbor_count(mask: np.ndarray, offsets: list[tuple[int, int]]) -> np.ndarray:
    """Count of True neighbors over the given offsets with reflect borders."""
    return _offset_sum(mask.astype(np.int32), offsets)


_OFFS3 = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]


def majority3_buffer(cloud: np.ndarray) -> np.ndarray:
    """Fmask 3x3 fill-in: cloud if >=5 of 3x3 neighborhood is cloud
    (``uniform_filter(cloud*2, 3) >= 1``, fmask/fmask.py:769-774)."""
    return neighbor_count(cloud, _OFFS3) >= 5


def buffer_offsets(radius: float) -> list[tuple[int, int]]:
    """Circular kernel offsets (makeBufferKernel, fmask/fmask.py:1086-1097)."""
    n = int(radius)
    return [(dr, dc) for dr in range(-n, n + 1) for dc in range(-n, n + 1)
            if (dr * dr + dc * dc) ** 0.5 <= radius]


def dilate(mask: np.ndarray, radius: float) -> np.ndarray:
    """Morphological dilation with a circular footprint
    (``maximum_filter(mask, footprint=makeBufferKernel(r))``,
    fmask/fmask.py:1169-1171,1379-1380)."""
    if radius <= 0:
        return mask.copy()
    return neighbor_count(mask, buffer_offsets(radius)) > 0


def interim_cloud(cloud_raw: np.ndarray, nullmask: np.ndarray,
                  buffer_px: float) -> tuple[np.ndarray, np.ndarray]:
    """The interim cloud mask and its buffer (cloudFinalPass's tail,
    fmask/fmask.py:769-776, and the cloud half of maskAndBuffer,
    :1379-1380): 3x3 majority of ``cloud_raw``, off where ``nullmask``,
    then dilated by ``buffer_px``. ``nullmask`` must be True on ghost
    slots (raster positions no pixel fills), or a ghost slot that wins
    the majority dilates cloud onto its real neighbours."""
    cloud_m = majority3_buffer(cloud_raw) & ~nullmask
    return cloud_m, dilate(cloud_m, buffer_px)


def box_mean(img: np.ndarray, win: int) -> np.ndarray:
    """Uniform (box) filter mean with reflect borders — float analogue of
    neighbor_count, used by focal variance."""
    offs = range(-((win - 1) // 2), (win - 1) // 2 + 1)
    return _offset_sum(np.asarray(img, dtype=np.float64),
                       [(dr, dc) for dr in offs for dc in offs]) / (win * win)


def focal_variance(img: np.ndarray, win: int) -> np.ndarray:
    """Focal variance E[x^2] - E[x]^2 over a win x win window
    (focalVariance, fmask/fmask.py:1399-1409)."""
    img32 = img.astype(np.float32).astype(np.float64)
    m = box_mean(img32, win)
    m2 = box_mean(img32 ** 2, win)
    return m2 - m ** 2


def binary_erode4(mask: np.ndarray) -> np.ndarray:
    """Binary erosion, 4-connected cross structure, border treated as
    False (scipy binary_erosion defaults, used at fmask/fmask.py:402)."""
    h, w = mask.shape
    out = mask.copy()
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    out &= padded[:-2, 1:-1] & padded[2:, 1:-1] \
        & padded[1:-1, :-2] & padded[1:-1, 2:]
    return out


def region_grow(seed: np.ndarray, grow_mask: np.ndarray) -> np.ndarray:
    """Constrained region grow to fixpoint:
    ``binary_dilation(seed, mask=grow_mask, iterations=0)``
    (fmask/fmask.py:405) — repeatedly 4-dilate the seed, intersect with
    grow_mask, until stable. Seed pixels are kept regardless."""
    cur = seed.copy()
    while True:
        h, w = cur.shape
        padded = np.zeros((h + 2, w + 2), dtype=bool)
        padded[1:-1, 1:-1] = cur
        dil = cur | padded[:-2, 1:-1] | padded[2:, 1:-1] \
            | padded[1:-1, :-2] | padded[1:-1, 2:]
        nxt = seed | (dil & grow_mask)
        if (nxt == cur).all():
            return nxt
        cur = nxt


def calc_cdi(ratio_8a8: np.ndarray, ratio_8a7: np.ndarray) -> np.ndarray:
    """Cloud Displacement Index (Frantz 2018; calcCDI,
    fmask/fmask.py:1412-1429) from the band ratios B8/B8A and B7/B8A:
    7x7 focal variances -> normalized difference with divide-by-zero
    guard."""
    v8a8 = focal_variance(ratio_8a8, 7)
    v8a7 = focal_variance(ratio_8a7, 7)
    cdi = np.zeros(v8a7.shape, dtype=np.float32)
    div_ok = (v8a7 + v8a8) != 0
    cdi[div_ok] = ((v8a7[div_ok] - v8a8[div_ok])
                   / (v8a7[div_ok] + v8a8[div_ok]))
    return cdi


def cdi_pcp_filter(pcp: np.ndarray, cdi: np.ndarray) -> np.ndarray:
    """Sentinel-2 displacement-test PCP restriction
    (fmask/fmask.py:398-406): erode the confident selection
    (cdi < -0.5), region-grow within (cdi < -0.25), keep only PCP
    pixels inside the grown selection."""
    selection = binary_erode4(pcp & (cdi < -0.5))
    rg_mask = pcp & (cdi < -0.25)
    selection = region_grow(selection, rg_mask)
    out = pcp.copy()
    out[~selection] = False
    return out


# ---------------------------------------------------------------------------
# connected-component labeling (scipy.ndimage.label transcription)
# ---------------------------------------------------------------------------


def min_label(n: int, ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """Connected components of the graph on nodes 0..n-1 with edges
    (ea[i], eb[i]) by min-label propagation with pointer jumping (path
    halving): O(edges) work per round, O(log n) rounds — no Python
    iteration per node, so an adversarial checkerboard stays vectorized.
    Returns each node's least node index in its component. Duplicate
    edges and self-loops are harmless."""
    roots = np.arange(n, dtype=np.int64)
    while True:
        nxt = roots.copy()
        np.minimum.at(nxt, ea, roots[eb])
        np.minimum.at(nxt, eb, roots[ea])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, roots):
            return roots
        roots = nxt


def label_components(mask: np.ndarray, eight_connected: bool = True
                     ) -> tuple[np.ndarray, int]:
    """Run-based union-find CCL. Label numbering follows raster scan order
    of each component's first pixel — same numbering as
    ``scipy.ndimage.label`` (used at fmask/fmask.py:833-844 with 8-conn
    ``structure=ones((3,3))``, and 4-conn default at fmask/fmask.py:762-767).

    Vectorized: horizontal runs are extracted with one diff over a
    column-sentinel-padded raster; runs of adjacent rows are
    interval-joined with two searchsorted calls per row pair; the
    union-find then works over runs (<< pixels). A component's first
    pixel in scan order is the start of its first run in scan order, so
    scipy's numbering is preserved exactly.
    """
    h, w = mask.shape
    out = np.zeros((h, w), dtype=np.int64)
    if not mask.any():
        return out, 0

    # --- extract horizontal runs via a False sentinel column
    padded = np.zeros((h, w + 1), dtype=np.int8)
    padded[:, :w] = mask
    flat = padded.ravel()
    d = np.diff(flat, prepend=np.int8(0))
    starts = np.flatnonzero(d == 1)     # inclusive start, flat index
    stops = np.flatnonzero(d == -1)     # exclusive stop (sentinel keeps
    # every run inside one row, so len(starts) == len(stops))
    run_row = starts // (w + 1)
    run_c0 = starts % (w + 1)
    run_c1 = (stops - 1) % (w + 1)      # inclusive end column
    n_runs = len(starts)

    # --- run-adjacency edges, fully vectorized (no per-run Python):
    # runs overlapping run a: c0_b <= c1_a + e AND c1_b >= c0_a - e.
    # prev-row runs are disjoint & sorted, so matches are contiguous
    # [lo, hi) ranges expanded into an edge list with repeat/cumsum.
    e = 1 if eight_connected else 0
    # row boundaries in the run arrays (run_row is non-decreasing)
    row_starts = np.searchsorted(run_row, np.arange(h + 1))
    ea_parts, eb_parts = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for r in range(1, h):
        a0, a1 = row_starts[r], row_starts[r + 1]
        b0, b1 = row_starts[r - 1], row_starts[r]
        if a0 == a1 or b0 == b1:
            continue
        lo = b0 + np.searchsorted(run_c1[b0:b1], run_c0[a0:a1] - e, "left")
        hi = b0 + np.searchsorted(run_c0[b0:b1], run_c1[a0:a1] + e, "right")
        cnt = hi - lo
        total_r = int(cnt.sum())
        if total_r == 0:
            continue
        ea_parts.append(np.repeat(np.arange(a0, a1), cnt))
        offs_r = np.arange(total_r) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        eb_parts.append(np.repeat(lo, cnt) + offs_r)

    # --- connected components of the run graph: the converged label is
    # each component's MINIMUM run index == its first run in scan order,
    # preserving scipy.ndimage.label numbering.
    roots = min_label(n_runs, np.concatenate(ea_parts),
                      np.concatenate(eb_parts))

    uniq = np.unique(roots)
    # uniq is sorted by root id == scan order of the root run itself,
    # and a root is always its component's first run, so label = rank.
    label_of_root = np.empty(n_runs, dtype=np.int64)
    label_of_root[uniq] = np.arange(1, len(uniq) + 1)
    run_labels = label_of_root[roots]

    # --- paint runs into the output raster
    lengths = run_c1 - run_c0 + 1
    total = int(lengths.sum())
    flat_starts = run_row * w + run_c0
    offs = np.arange(total) - np.repeat(
        np.cumsum(lengths) - lengths, lengths)
    out.ravel()[np.repeat(flat_starts, lengths) + offs] = \
        np.repeat(run_labels, lengths)
    return out, len(uniq)


# ---------------------------------------------------------------------------
# fill minima (Soille & Gratin reconstruction-by-erosion;
# fmask/fillminima.py:40-78 + c_src/fillminima.c:209-301)
# ---------------------------------------------------------------------------


def _bool_dilate3(mask: np.ndarray) -> np.ndarray:
    """3x3 boolean dilation with reflect borders (stand-in for
    scipy grey_dilation(size=(3,3)) on a bool array)."""
    return neighbor_count(mask, _OFFS3) > 0


def hq_fill(img: np.ndarray, nullmask: np.ndarray, img2: np.ndarray,
            h_min: int, h_max: int) -> None:
    """Hierarchical-queue reconstruction core
    (c_src/fillminima.c:270-299) over flat pixel indexes.

    Dispatches to the self-built C kernel (_native.hq_fill_c, compiled
    lazily with the system cc — the reference needed C for exactly this
    loop too) and falls back to the pure-Python queue below when no
    compiler is available. Both orders are level-ascending so the
    result is identical; tests/test_kernels.py pins C == Python."""
    from .._native import get_hq_fill

    fn = get_hq_fill()
    if fn is not None:
        import ctypes
        nrows, ncols = img.shape
        imgc = np.ascontiguousarray(img, dtype=np.int64)
        nullc = np.ascontiguousarray(nullmask, dtype=np.uint8)
        assert img2.dtype == np.int64 and img2.flags.c_contiguous
        rc = fn(imgc.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
                nullc.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
                img2.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
                int(h_min), int(h_max), nrows, ncols)
        if rc == 0:
            return
        # allocation failure: fall through to the Python queue
    _hq_fill_py(img, nullmask, img2, h_min, h_max)


def _hq_fill_py(img: np.ndarray, nullmask: np.ndarray, img2: np.ndarray,
                h_min: int, h_max: int) -> None:
    """Pure-Python fallback (and the parity oracle for the C kernel).

    ``img2`` (int64, modified in place): seed pixels < h_max, everything
    else (incl. nulls) == h_max. Flat-index Python-int queues: each
    pixel is a single list append/read with no tuple boxing and no
    NumPy scalar coercion in the inner loop — measured faster than both
    the (r, c)-tuple queue and a per-level NumPy frontier batching
    (whose wave count scales with raster diameter, pathological for the
    tall narrow cell rasters the engine produces)."""
    nrows, ncols = img.shape
    n = nrows * ncols
    imgf = img.ravel().tolist()
    nullf = nullmask.ravel().tolist()
    i2 = img2.ravel()
    i2l = i2.tolist()
    queues: list[list[int]] = [[] for _ in range(h_max - h_min + 2)]
    for p in np.flatnonzero(i2 < h_max).tolist():
        # callers clamp seeds to [h_min, h_max); enforce anyway — an
        # out-of-contract seed below h_min floods at the lowest level
        # (matching the C kernel's clamp) instead of wrapping to a
        # random queue via Python negative indexing
        queues[max(0, i2l[p] - h_min)].append(p)
    for h_crt in range(h_min, h_max):
        q = queues[h_crt - h_min]
        qi = 0
        while qi < len(q):
            p = q[qi]
            qi += 1
            c = p % ncols
            for pp in ((p - 1) if c > 0 else -1,
                       (p + 1) if c < ncols - 1 else -1,
                       p - ncols, p + ncols):
                if 0 <= pp < n and not nullf[pp]:
                    if i2l[pp] == h_max:
                        v = imgf[pp]
                        if v < h_crt:
                            v = h_crt
                        i2l[pp] = v
                        queues[v - h_min].append(pp)
    img2[:] = np.asarray(i2l, dtype=np.int64).reshape(nrows, ncols)


def fill_seeded(img: np.ndarray, nullmask: np.ndarray, b: int,
                h_min: int, h_max: int, null_ring: bool, top: bool,
                bottom: bool, sources: np.ndarray | None = None
                ) -> np.ndarray:
    """fillMinima's seeding (fmask/fillminima.py:55-65) followed by
    hq_fill: the int64 img2 of ``img`` (int64), nulls at ``h_max``.

    The reference seeds EITHER the inner ring of non-null pixels next to
    a null (``null_ring``: the scene has nulls) OR the raster edge minus
    its pixels already at ``h_max`` — never both. ``top``/``bottom`` say
    whether the first/last row is the scene's own edge (a tile's are not
    unless it holds them). ``sources`` (a tile's halo estimates, values
    >= h_max meaning none) start below h_max too; every seed starts at
    the lower of its source and ``b``."""
    shape = img.shape
    img2 = (np.full(shape, h_max, dtype=np.int64) if sources is None
            else np.minimum(sources, h_max).astype(np.int64))
    if null_ring:
        seeds = _bool_dilate3(nullmask) & ~nullmask
    else:
        seeds = np.zeros(shape, dtype=bool)
        seeds[:, 0] = seeds[:, -1] = True
        seeds[0, :] |= top
        seeds[-1, :] |= bottom
        seeds &= (img != h_max) & ~nullmask
    img2[seeds] = np.minimum(img2[seeds], b)
    img2[nullmask] = h_max  # nulls never propagate
    hq_fill(img, nullmask, img2, h_min, h_max)
    return img2


def fill_minima(img: np.ndarray, nullval: int, boundaryval: float) -> np.ndarray:
    """Fill local minima, bounded below by ``boundaryval``.

    Faithful transcription of fillMinima (fmask/fillminima.py:40-78) and
    the C hierarchical-queue kernel (c_src/fillminima.c:209-301):
    4-connected flood from the boundary ring (fill_seeded over the whole
    raster), levels processed ascending, ``img2[p] = max(level, img[p])``
    on first visit. The result is independent of intra-level queue
    order, so this matches the C version bit-for-bit."""
    img = np.asarray(img)
    nullmask = img == nullval
    if nullmask.all():
        return img.copy()
    h_max = int(img[~nullmask].max())
    h_min = int(img[~nullmask].min())
    b = int(min(max(boundaryval, h_min), h_max))
    img2 = fill_seeded(np.asarray(img, dtype=np.int64), nullmask, b,
                       h_min, h_max, bool(nullmask.any()), True, True)
    out = img2.astype(img.dtype)
    out[nullmask] = nullval
    return out


# ---------------------------------------------------------------------------
# per-clump 3-D cloud shape (cloudShapeFunc, fmask/fmask.py:896-951)
# ---------------------------------------------------------------------------


def clump_groups(clumps: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """(cloud_id, flat pixel indexes) per nonzero clump — ONE argsort over
    the raster instead of an O(n_clumps x H*W) ``clumps == id`` rescan
    per clump (the ValueIndexes idea, fmask/valueindexes.py:98-150)."""
    flat = clumps.ravel()
    order = np.argsort(flat, kind="stable")
    vals = flat[order]
    start = np.searchsorted(vals, 1)
    order, vals = order[start:], vals[start:]
    if not vals.size:
        return []
    cuts = np.flatnonzero(np.diff(vals)) + 1
    ids = vals[np.concatenate(([0], cuts))]
    return list(zip((int(i) for i in ids.tolist()), np.split(order, cuts)))


def cloud_base(bt_cloud: np.ndarray) -> tuple[float, np.ndarray]:
    """One clump's cloud-base temperature and relative cloud-top heights
    (Eqns 22-24, cloudShapeFunc, fmask/fmask.py:896-951): ``bt_cloud``
    is the clump's brightness temperatures; returns (t_base, heights as
    uint8 x CLOUD_HEIGHT_SCALE)."""
    bt_cloud = np.asarray(bt_cloud).astype(np.float64)
    n_pix = len(bt_cloud)
    R = np.sqrt(n_pix / (2 * np.pi))
    if R >= 8:
        percentile = 100.0 * (R - 8.0) ** 2 / (R ** 2)
        # scipy.stats.scoreatpercentile == np.percentile (linear interp)
        t_base = float(np.percentile(bt_cloud, percentile))
    else:
        t_base = float(bt_cloud.min())
    bt_cloud[bt_cloud > t_base] = t_base
    h_rel = (t_base - bt_cloud) / C.LAPSE_RATE_WET
    return t_base, np.round(h_rel * C.CLOUD_HEIGHT_SCALE).astype(np.uint8)


# ---------------------------------------------------------------------------
# shadow projection + matching (fmask/fmask.py:959-1060, 1188-1308)
# ---------------------------------------------------------------------------


def project_shadow(rows: np.ndarray, cols: np.ndarray, height: np.ndarray,
                   sun_az: float, sun_zen: float, nrows: int, ncols: int
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Project one clump's cloud-top pixels (rows, cols; ``height`` in
    CLOUD_HEIGHT_SCALE units) along the sun vector onto the cloud-base
    plane; returns the shadow template's (rows, cols), clipped to the
    nrows x ncols raster (makeCloudShadowShapes, fmask/fmask.py:1021-1052)."""
    cloud_hgt = C.METRES_PER_KM * height.astype(np.float64) \
        / C.CLOUD_HEIGHT_SCALE
    x = cols * C.X_RES
    y = rows * C.Y_RES
    d = cloud_hgt * np.tan(sun_zen).astype(np.float32)
    x_dash = x - d * float(np.sin(sun_az))
    y_dash = y - d * float(np.cos(sun_az))
    tr = (y_dash / C.Y_RES).astype(np.uint32).clip(0, nrows - 1)
    tc = (x_dash / C.X_RES).astype(np.uint32).clip(0, ncols - 1)
    return tr, tc


def clump_shadow(rows: np.ndarray, cols: np.ndarray, bt: np.ndarray | None,
                 sat_az_cdn: np.ndarray, sat_zen_cdn: np.ndarray,
                 sun_az: float, sun_zen: float, shape: tuple[int, int]
                 ) -> tuple[float, np.ndarray, tuple]:
    """One clump's shadow step, the body of the reference's per-clump
    loops (cloudShapeFunc, fmask/fmask.py:896-951; makeCloudShadowShapes,
    :959-1060, the cheap cloud-top-only variant with duplicates kept,
    :1021-1052). ``rows``/``cols`` are the clump's pixels in scan order
    and ``bt``, ``sat_az_cdn``, ``sat_zen_cdn`` their brightness
    temperatures and view-angle DNs. Returns (t_base, heights, entry):
    the cloud-base temperature, the uint8 relative heights
    (x CLOUD_HEIGHT_SCALE) and match_one_shadow's ``shadow_entry``.

    ``bt=None`` is the no-thermal regime: the cloud is a flat 2-D shape
    with a NaN base temperature (fmask/fmask.py:913-951 else-branch).
    The view angles are the mean of the pixels' DNs x 0.01 rad
    (AnglesFileInfo scaleToRadians and getView*Angle, fmask/config.py:691,
    736-746; fmask/fmask.py:982-985)."""
    if bt is None:
        t_base, heights = float("nan"), np.zeros(len(rows), dtype=np.uint8)
    else:
        t_base, heights = cloud_base(bt)
    sat_az = float((np.asarray(sat_az_cdn).astype(np.int64) * 0.01).mean())
    sat_zen = float((np.asarray(sat_zen_cdn).astype(np.int64) * 0.01).mean())
    tr, tc = project_shadow(rows, cols, heights, sun_az, sun_zen, *shape)
    return t_base, heights, ((tr, tc), sat_az, sat_zen, sun_az, sun_zen)


def shadow_sweep(t_cloudbase: float, t_low, t_high, sun_az: float,
                 sun_zen: float, sat_az: float, sat_zen: float):
    """The height sweep of matchOneShadow (fmask/fmask.py:1188-1246):
    returns (num_steps, place), where ``place(i)`` is step i's
    (row_off, col_off) template shift. The offsets are linear in i, so
    the end placements bound the intermediate ones (scene_dist sizes its
    search windows from them). ``t_low``/``t_high`` None means the scene
    has no thermal thresholds; a NaN ``t_cloudbase`` (clump_shadow's
    no-thermal regime) sweeps from 0, as matchShadows does with an empty
    cloudBaseTemp (fmask/fmask.py:1148-1152)."""
    if np.isnan(t_cloudbase):
        t_cloudbase = 0.0
    if t_low is None:
        t_low = 0.0
    if t_high is None:
        t_high = 10.0

    h_min = max(0.2, (t_low - 4 - t_cloudbase) / 9.8) * C.METRES_PER_KM
    h_max = min(12, (t_high + 4 - t_cloudbase)) * C.METRES_PER_KM

    tan_sun_zen = np.tan(sun_zen)
    sin_sun_az = np.sin(sun_az)
    cos_sun_az = np.cos(sun_az)
    tan_sat_zen = np.tan(sat_zen)
    sin_sat_az = np.sin(sat_az)
    cos_sat_az = np.cos(sat_az)

    d_min = h_min * tan_sun_zen
    d_max = h_max * tan_sun_zen
    x_off_min, x_off_max = d_min * sin_sun_az, d_max * sin_sun_az
    y_off_min, y_off_max = d_min * cos_sun_az, d_max * cos_sun_az

    longest_shift = max(abs(x_off_max - x_off_min), abs(y_off_max - y_off_min))
    num_steps = max(1, int(np.ceil(longest_shift / C.X_RES)))
    x_step = (x_off_max - x_off_min) / num_steps
    y_step = (y_off_max - y_off_min) / num_steps

    def place(i: int) -> tuple[int, int]:
        H = (x_off_min + i * x_step) / (tan_sun_zen * sin_sun_az)
        d_view = H * tan_sat_zen
        x_view, y_view = d_view * sin_sat_az, d_view * cos_sat_az
        x_off = x_off_min + i * x_step - x_view
        y_off = y_off_min + i * y_step - y_view
        return int(y_off / C.Y_RES), int(x_off / C.X_RES)

    return num_steps, place


def match_one_shadow(
    cloudmask: np.ndarray,
    shadow_entry,
    potential_shadow: np.ndarray,
    t_cloudbase: float,
    t_low,
    t_high,
    nullmask: np.ndarray,
    row0: int = 0,
    img_nrows: int | None = None,
):
    """Height-sweep template match (matchOneShadow, fmask/fmask.py:1188-1308).
    Returns matched (rows, cols) index tuple or None.

    The rasters may be the row band [row0, row0 + band rows) of a cell
    ``img_nrows`` rows tall (default: the rasters are the whole cell).
    Placements are bounds-checked against the whole cell, so a band
    accepts exactly the whole-cell placements; one that falls outside
    the band raises AssertionError rather than matching wrongly.
    Returned indexes are cell rows."""
    band_nrows, img_ncols = cloudmask.shape
    if img_nrows is None:
        img_nrows = band_nrows
    (shape_ndx, sat_az, sat_zen, sun_az, sun_zen) = shadow_entry
    num_steps, place = shadow_sweep(t_cloudbase, t_low, t_high, sun_az,
                                    sun_zen, sat_az, sat_zen)

    trow0, trow_n = int(shape_ndx[0].min()), int(shape_ndx[0].max())
    tcol0, tcol_n = int(shape_ndx[1].min()), int(shape_ndx[1].max())
    nrows, ncols = trow_n - trow0 + 1, tcol_n - tcol0 + 1
    shadow_template = raster(shape_ndx[0] - trow0, shape_ndx[1] - tcol0,
                             True, (nrows, ncols), False, bool)

    best_similarity = 0.0
    best_rc = (0, 0)
    best_overlap = None
    for i in range(num_steps):
        row_off, col_off = place(i)
        r = trow0 - row_off
        c = tcol0 - col_off
        if r >= 0 and r + nrows <= img_nrows and c >= 0 and c + ncols <= img_ncols:
            lr = r - row0
            if lr < 0 or lr + nrows > band_nrows:
                raise AssertionError("shadow search band under-covered")
            cloud = cloudmask[lr:lr + nrows, c:c + ncols]
            pot_shadow = potential_shadow[lr:lr + nrows, c:c + ncols].copy()
            null = nullmask[lr:lr + nrows, c:c + ncols]
            pot_shadow[cloud] = 0
            pot_shadow[null] = 0
            tmpl = shadow_template.copy()
            tmpl[cloud] = False
            tmpl[null] = False
            similarity = 0.0
            overlap = np.logical_and(pot_shadow, tmpl)
            overlap_area = overlap.sum()
            shadow_area = tmpl.sum()
            if shadow_area > 0:
                similarity = float(overlap_area) / shadow_area
            if similarity > best_similarity:
                best_rc = (r, c)
                best_similarity = similarity
                best_overlap = overlap
    if best_similarity > 0.3:
        ndx = np.where(best_overlap)
        return (best_rc[0] + ndx[0], best_rc[1] + ndx[1])
    return None
