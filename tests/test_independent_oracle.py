"""Two-implementation agreement for the scene kernel (VERDICT r2 §missing#2).

The fixture generator (scripts/make_shadow_fixture.py) now produces the
driver oracle from scripts/independent_oracle.py — a straight-line
transcription sharing no code with operators/kernels.py. These tests
keep the agreement invariant in the suite and prove (by mutation) that
a seeded kernel bug is CAUGHT by the comparison rather than cancelling
out.
"""

from __future__ import annotations

import pathlib
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]
                        / "scripts"))

from independent_oracle import classify_scene_independent  # noqa: E402
from python_fmask_spark import oracle
from python_fmask_spark.dialect import DUCKDB
from python_fmask_spark.operators import kernels
from python_fmask_spark.operators.scene import FmaskParams, classify_scene

SF_DIR = "/root/testdata/sf0.01"

KERNEL_COLS = ("url, cell_id, r, c, sha256(text) AS text_sha256, nir, bt, "
               "nullmask, water_test, snow, cloud_raw, "
               "g_tlow, g_thigh, g_b4_17, sun_az, sun_zen, sat_az, sat_zen, "
               "sat_az_cdn, sat_zen_cdn")


@pytest.fixture(scope="module")
def pass3_cells() -> list[pd.DataFrame]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    ctes = oracle._ctes(DUCKDB, "pass3", angles=True)
    p3 = con.execute(f"{ctes} SELECT {KERNEL_COLS} FROM pass3").df()
    return [pdf.reset_index(drop=True)
            for _, pdf in p3.groupby("cell_id", sort=True)]


def test_engine_equals_independent_on_all_cells(pass3_cells):
    for pdf in pass3_cells:
        eng = classify_scene(pdf, FmaskParams())
        ind = classify_scene_independent(pdf)
        pd.testing.assert_frame_equal(
            eng.sort_values("url").reset_index(drop=True),
            ind.sort_values("url").reset_index(drop=True))


def test_mutated_kernel_is_caught(pass3_cells, monkeypatch):
    """Seed a subtle engine bug (majority threshold 4 instead of 5) and
    check the independent oracle flags it on at least one cell — the
    comparison has teeth."""
    orig = kernels.neighbor_count

    def bad_majority(cloud):
        return orig(cloud, kernels._OFFS3) >= 4

    monkeypatch.setattr(kernels, "majority3_buffer", bad_majority)
    diffs = 0
    for pdf in pass3_cells:
        eng = classify_scene(pdf, FmaskParams())
        ind = classify_scene_independent(pdf)
        if not eng.sort_values("url").reset_index(drop=True).equals(
                ind.sort_values("url").reset_index(drop=True)):
            diffs += 1
    assert diffs > 0, "mutation not detected by the independent oracle"


def test_mutated_shadow_threshold_is_caught(pass3_cells, monkeypatch):
    """Mutate the shadow-match acceptance threshold (0.3 -> 0.0: accept
    every best overlap) and check detection — exercises the shadow tail
    of the comparison, not just morphology."""
    orig_match = kernels.match_one_shadow

    def loose_match(cloudmask, entry, potential_shadow, t_base, t_low,
                    t_high, nullmask):
        res = orig_match(cloudmask, entry, potential_shadow, t_base,
                         t_low, t_high, nullmask)
        if res is not None:
            return res
        # accept the template at its unshifted position instead of None
        (shape_ndx, *_rest) = entry
        return (shape_ndx[0], shape_ndx[1])

    monkeypatch.setattr(kernels, "match_one_shadow", loose_match)
    diffs = 0
    for pdf in pass3_cells:
        eng = classify_scene(pdf, FmaskParams())
        ind = classify_scene_independent(pdf)
        if not eng.sort_values("url").reset_index(drop=True).equals(
                ind.sort_values("url").reset_index(drop=True)):
            diffs += 1
    assert diffs > 0, "shadow mutation not detected"


def test_fill_minima_fixpoint_equals_hq_random():
    """The two fill-minima algorithms (hierarchical queue vs Jacobi
    reconstruction fixpoint) agree on random rasters incl. nulls."""
    from independent_oracle import fill_minima_fixpoint
    rng = np.random.RandomState(7)
    for _ in range(25):
        h, w = rng.randint(2, 18), rng.randint(2, 10)
        img = rng.randint(0, 60, size=(h, w))
        img[rng.rand(h, w) < 0.15] = 0  # nullval
        bval = float(rng.randint(-5, 70))
        a = kernels.fill_minima(img, 0, bval)
        b = fill_minima_fixpoint(img, 0, bval)
        np.testing.assert_array_equal(a, b)
