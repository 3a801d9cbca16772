"""Optional compiled kernel for the hierarchical-queue fill inner loop.

``hq_fill`` (operators/kernels.py) is the engine's one per-pixel Python
loop: reconstruction-by-erosion needs a strict level-ordered flood, and
the reference needed C for exactly this loop too
(/root/reference/c_src/fillminima.c:209-301 — algorithm reference only;
this implementation is written from our own Python transcription and
uses a different queue representation). Level-batched NumPy waves were
measured pathological on the engine's tall (H x 8) cell rasters — wave
count scales with raster height while each wave is <= ~16 px — so the
fix is compilation, not vectorization.

Build strategy: the C source below is compiled to a shared object with
the system ``cc`` at FIRST USE, cached under a content-hash name in the
per-user cache (``cache.cache_dir``), and loaded via ctypes. On a
multi-executor cluster each worker host compiles once lazily (same
content hash -> same cache file; the build is atomic via
write-to-pid-file + rename, so concurrent workers race benignly). If
no compiler or no writable cache is available the caller falls back to
the pure-Python queue — same results, just slower (measured ~40-80x on
the fill-heavy scene kernels).

Queue representation: one ``next``-pointer array forming per-level
singly-linked lists (every pixel enqueues at most once), instead of
per-level growable arrays — O(n) memory, no reallocation in the loop.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess

from .cache import cache_dir

_SRC = r"""
#include <stdint.h>
#include <stdlib.h>

/* Hierarchical-queue reconstruction-by-erosion flood.

   img:   input levels, flat row-major (n = nrows*ncols), int64
   nullf: 1 = null pixel (never visited / propagated), uint8
   i2:    in/out. Seeds have i2[p] < h_max; everything else == h_max.
          On return: i2[p] = max(img[p], level at first visit).
   Levels processed ascending h_min..h_max-1; a visited neighbour gets
   v = max(img[pp], h_crt). v == h_max needs no queue slot (the h_max
   level is never processed), which also keeps the linked lists
   single-membership. Result is independent of intra-level order.

   Returns 0 on success, -1 on allocation failure.                    */
int hq_fill_c(const int64_t *img, const uint8_t *nullf, int64_t *i2,
              int64_t h_min, int64_t h_max,
              int64_t nrows, int64_t ncols) {
    const int64_t n = nrows * ncols;
    const int64_t nlev = h_max - h_min + 1;
    if (n <= 0 || nlev <= 0) return 0;
    int64_t *head = malloc((size_t)nlev * sizeof(int64_t));
    int64_t *tail = malloc((size_t)nlev * sizeof(int64_t));
    int64_t *next = malloc((size_t)n * sizeof(int64_t));
    if (!head || !tail || !next) {
        free(head); free(tail); free(next);
        return -1;
    }
    for (int64_t l = 0; l < nlev; l++) { head[l] = -1; tail[l] = -1; }

    /* seed queues. Callers clamp seed values to [h_min, h_max), but the
       C boundary enforces it anyway: a seed below h_min clamps to level
       0 (it floods at the lowest processed level — the same result the
       Python fallback degrades to), instead of indexing head[] out of
       bounds and corrupting the executor heap. */
    for (int64_t p = 0; p < n; p++) {
        next[p] = -1;
        if (i2[p] < h_max) {
            int64_t l = i2[p] - h_min;
            if (l < 0) l = 0;
            if (head[l] == -1) head[l] = p; else next[tail[l]] = p;
            tail[l] = p;
        }
    }

    for (int64_t h = h_min; h < h_max; h++) {
        int64_t l = h - h_min;
        for (int64_t p = head[l]; p != -1; p = next[p]) {
            int64_t c = p % ncols;
            int64_t nbr[4];
            nbr[0] = (c > 0) ? p - 1 : -1;
            nbr[1] = (c < ncols - 1) ? p + 1 : -1;
            nbr[2] = p - ncols;
            nbr[3] = p + ncols;
            for (int k = 0; k < 4; k++) {
                int64_t pp = nbr[k];
                if (pp < 0 || pp >= n) continue;
                if (nullf[pp] || i2[pp] != h_max) continue;
                int64_t v = img[pp];
                if (v < h) v = h;
                i2[pp] = v;
                if (v < h_max) {   /* h_max level never processed */
                    int64_t lv = v - h_min;
                    if (head[lv] == -1) head[lv] = pp;
                    else next[tail[lv]] = pp;
                    tail[lv] = pp;
                }
            }
        }
    }
    free(head); free(tail); free(next);
    return 0;
}
"""

_LIB: list = []  # [lib] once loaded, [None] if build failed


def _build() -> ctypes.CDLL | None:
    key = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    try:
        cache = cache_dir("native")
    except OSError:
        return None
    so = os.path.join(cache, f"hqfill_{key}.so")
    if not os.path.exists(so):
        csrc = os.path.join(cache, f"hqfill_{key}.c")
        tmp = f"{so}.{os.getpid()}"
        try:
            with open(csrc, "w") as f:
                f.write(_SRC)
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, csrc],
                check=True, capture_output=True, timeout=120)
            os.replace(tmp, so)  # atomic; concurrent builders race benignly
        except Exception:
            try:
                os.remove(tmp)
            except OSError:
                pass
            return None
    try:
        lib = ctypes.CDLL(so)
        fn = lib.hq_fill_c
        fn.restype = ctypes.c_int
        fn.argtypes = [ctypes.POINTER(ctypes.c_int64),
                       ctypes.POINTER(ctypes.c_uint8),
                       ctypes.POINTER(ctypes.c_int64),
                       ctypes.c_int64, ctypes.c_int64,
                       ctypes.c_int64, ctypes.c_int64]
        return lib
    except OSError:
        return None


def get_hq_fill():
    """Return the compiled hq_fill entry point, or None when no compiler
    or no writable cache is available (callers fall back to the Python
    queue)."""
    if not _LIB:
        _LIB.append(_build())
    lib = _LIB[0]
    return None if lib is None else lib.hq_fill_c
