"""classify_distributed == pipeline.classify (whole-scene kernel), which
in turn equals the independent straight-line oracle — so every stage of
the clump-parallel path (tiled morphology, distributed fill, cross-tile
CCL + renumbering, per-clump 3-D/template kernel, cogrouped windowed
shadow match, fused buffering) is pinned to the reference semantics."""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pytest

from python_fmask_spark import pipeline
from python_fmask_spark.operators.scene_dist import classify_distributed
from python_fmask_spark.sources import register_views

COLS = ["url", "fmask_class", "cloud_id", "cloud_height_du",
        "cloud_base_temp_c", "text_sha256"]


def _canon(df):
    rows = {}
    for r in df.select(*COLS).collect():
        bt = r.cloud_base_temp_c
        bt = None if bt is None or (isinstance(bt, float) and np.isnan(bt)) \
            else round(bt, 9)
        rows[r.url] = (r.fmask_class, r.cloud_id, r.cloud_height_du, bt,
                       r.text_sha256)
    return rows


def _assert_shadows(sf, whole):
    """sf0.001 has no shadow pixel; at sf_shadow the distributed match
    must have run and succeeded somewhere, or parity proves nothing
    about it."""
    if sf == "sf_shadow":
        assert any(v[0] == 3 for v in whole.values()), \
            "no shadow pixel (class 3) at this scale factor"


@pytest.mark.parametrize("sf", ["sf_small", "sf_shadow"])
def test_distributed_equals_scene_kernel(spark, sf, request):
    register_views(spark, request.getfixturevalue(sf))
    whole = _canon(pipeline.classify(spark))
    dist = _canon(classify_distributed(spark))
    _assert_shadows(sf, whole)
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole
             if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def test_distributed_task_grain_is_bounded(spark, sf_small):
    """The point of the clump-parallel path: no stage groups by bare
    cell_id over pixel rows except bounded dims — spot-check that the
    shadow-match window rows per (cell, cloud) are bounded by the sweep
    geometry, not by cell size."""
    import pyspark.sql.functions as F

    from python_fmask_spark import constants as C
    from python_fmask_spark.operators import kernels

    register_views(spark, sf_small)
    # max window height from the sweep geometry at the engine's angle
    # ranges: h <= 12 km, tan(zen) <= tan(1.05) -> <= ~700 rows of 30 m
    # plus the template height (<= cell rows) — the bound that matters
    # is that window rows never exceed (max_shift + template) rows.
    max_shift_rows = int(12000 * np.tan(1.05) / abs(C.Y_RES)) + 2
    out = classify_distributed(spark)
    out.count()  # force execution; plan validity is the main check here

    # directly exercise the sweep the windows come from
    nsteps, place = kernels.shadow_sweep(
        t_cloudbase=10.0, t_low=5.0, t_high=20.0, sun_az=1.0, sun_zen=1.0,
        sat_az=0.5, sat_zen=0.1)
    ends = [place(0), place(nsteps - 1)]
    spread = abs(ends[0][0] - ends[1][0])
    assert spread <= max_shift_rows


def test_eqn19_two_division_boundary(spark):
    """Eqn-19 parity at the exact threshold: for integer DNs with
    filled - nir == 200, the reference/classify_scene float64 form
    filled/scale - nir/scale yields 0.020000000000000004 > 0.02 for
    most operand pairs, while both the one-division form
    (filled-nir)/scale and Spark's DECIMAL-literal arithmetic yield
    exactly 0.02 (not >). scene_dist stage 2's SQL (with its explicit
    double casts) must agree with classify_scene's NumPy float64 form
    on every boundary pair — 8769/12000 pairs flip without the casts."""
    import numpy as np
    import pandas as pd
    from python_fmask_spark import constants as C

    nir = np.arange(0, 12000, dtype=np.int64)
    filled = nir + 200  # exactly at the Eqn-19 boundary
    np_form = (filled / C.TOA_SCALE - nir / C.TOA_SCALE) \
        > C.EQN19_NIR_FILL_THRESH
    sdf = spark.createDataFrame(
        pd.DataFrame({"nir": nir, "filled": filled}))
    got = (sdf.selectExpr(
        "nir",
        f"cast(cast(filled as double) / {C.TOA_SCALE} - "
        f"cast(nir as double) / {C.TOA_SCALE} > "
        f"{C.EQN19_NIR_FILL_THRESH} as boolean) AS pot")
        .toPandas().sort_values("nir")["pot"].to_numpy())
    assert (got == np_form).all(), \
        f"{int((got != np_form).sum())}/12000 boundary pairs disagree"


def test_distributed_min_cloud_size_matches_scene_kernel(spark, sf_small):
    """min_cloud_size_px > 1 takes the 4-connected distributed CCL size
    filter (the reference labels the size filter 4-conn,
    fmask/fmask.py:762-767, while cloud clumps are 8-conn) — the
    distributed path must match the whole-cell kernel bit-for-bit on a
    threshold that actually removes sub-threshold clumps here."""
    from python_fmask_spark.operators.scene import FmaskParams

    register_views(spark, sf_small)
    params = FmaskParams(min_cloud_size_px=3)
    whole = _canon(pipeline.classify(spark, params=params))
    dist = _canon(classify_distributed(spark, params=params))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"
    # the filter must be exercised: some cloud pixels of the unfiltered
    # run disappear at threshold 3 (otherwise this test proves nothing)
    base = _canon(pipeline.classify(spark))
    assert any(base[u][0] == 2 and whole[u][0] != 2 for u in base), \
        "threshold removed no clumps on this fixture; raise it"


def test_interim_min_cloud_size_matches_numpy(spark, sf_small):
    """interim_class_kernel applies min_cloud_size_px as classify does:
    its cloud_m equals a whole-cell NumPy reference — the 4-connected
    label_components size filter over cloud_raw, then
    majority3_buffer, masked by nullmask (fmask/fmask.py:761-776)."""
    from python_fmask_spark import constants as C
    from python_fmask_spark.operators import kernels
    from python_fmask_spark.operators.scene import FmaskParams

    min_px = 3
    register_views(spark, sf_small)
    base = pipeline.interim_class_kernel(spark).select(
        "cell_id", "r", "c", "cloud_raw", "nullmask", "cloud_m").toPandas()
    got = {(t.cell_id, t.r, t.c): bool(t.cloud_m)
           for t in pipeline.interim_class_kernel(
               spark, params=FmaskParams(min_cloud_size_px=min_px))
           .select("cell_id", "r", "c", "cloud_m").toPandas().itertuples()}
    want = {}
    for cell, g in base.groupby("cell_id"):
        rr, cc = g["r"].to_numpy(), g["c"].to_numpy()
        shape = (int(rr.max()) + 1, C.SCENE_WIDTH)
        cloud = np.zeros(shape, dtype=bool)
        null = np.ones(shape, dtype=bool)  # ghost slots are null
        cloud[rr, cc] = g["cloud_raw"].to_numpy().astype(bool)
        null[rr, cc] = g["nullmask"].to_numpy().astype(bool)
        lab, _n = kernels.label_components(cloud, eight_connected=False)
        sizes = np.bincount(lab.ravel())
        sizes[0] = 0
        cloud[sizes[lab] < min_px] = False
        m = kernels.majority3_buffer(cloud) & ~null
        want.update({(cell, r, c): bool(m[r, c]) for r, c in zip(rr, cc)})
    assert got == want
    # the filter must bite here, or the comparison proves nothing
    assert any(want[(t.cell_id, t.r, t.c)] != bool(t.cloud_m)
               for t in base.itertuples())


@pytest.mark.parametrize("sf", ["sf_small", "sf_shadow"])
def test_distributed_s2_no_thermal_matches_scene_kernel(spark, sf, request):
    """Sensor dispatch on the distributed path: classify_distributed
    (sensor=SENTINEL2) — flat clouds, Tcloudbase=0 sweeps, NaN base
    temps, NULL BT thresholds — must match pipeline.classify's
    no-thermal output bit-for-bit."""
    from python_fmask_spark import oracle

    register_views(spark, request.getfixturevalue(sf))
    offs = oracle.S2_ZERO_OFFSETS
    whole = _canon(pipeline.classify(spark, sensor="SENTINEL2",
                                     s2_offsets=offs))
    dist = _canon(classify_distributed(spark, sensor="SENTINEL2",
                                       s2_offsets=offs))
    _assert_shadows(sf, whole)
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def test_classify_auto_mixed_dispatch_matches_classify(spark, sf_small):
    """A row threshold at the largest cell sends those cells to the
    distributed path and the rest to the whole-cell kernel; the union
    equals classify over every cell, text digests included."""
    register_views(spark, sf_small)
    rows = [r["count"] for r in spark.table(pipeline.materialize_pass1(
        spark)).groupBy("cell_id").count().collect()]
    assert min(rows) < max(rows)  # both branches run
    whole = _canon(pipeline.classify(spark))
    auto = _canon(pipeline.classify_auto(spark, row_threshold=max(rows)))
    assert auto == whole


def test_distributed_leaves_no_cached_frames(spark, sf_small):
    """No stage of the distributed path pins a frame in the session's
    CacheManager: a persisted frame stays there until the session ends,
    so a long session of classify calls would pile them up. Both CCL
    passes run (min_cloud_size_px > 1 adds the 4-connected one)."""
    from python_fmask_spark.operators.scene import FmaskParams

    register_views(spark, sf_small)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # start from an empty cache
    for params in (FmaskParams(), FmaskParams(min_cloud_size_px=3)):
        classify_distributed(spark, params=params).collect()
        assert cache.isEmpty(), params


@pytest.fixture(scope="module")
def sf_nodata(sf_oracle, tmp_path_factory):
    """sf_oracle with only the nodata documents (pass-1 nullmask) of
    every other cell left, so about half the cells are all-nodata:
    no clear pixel, NULL thresholds, nothing to fill or match."""
    import duckdb

    from python_fmask_spark import oracle
    from python_fmask_spark.dialect import DUCKDB

    out = tmp_path_factory.mktemp("sf_nodata")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_oracle, 'documents.parquet')}')")
    con.execute(f"""CREATE TABLE p1 AS {oracle._ctes(DUCKDB, "pass1")}
                    SELECT url, cell_id, nullmask FROM pass1""")
    con.execute(f"""COPY (
        SELECT d.* FROM documents d JOIN p1
          ON p1.url = concat('https://', d.source, '.example/p/',
                             cast(d.doc_id as varchar))
        WHERE p1.nullmask OR p1.cell_id NOT IN (
          SELECT cell_id FROM (
            SELECT cell_id, row_number() OVER (ORDER BY cell_id) AS k
            FROM (SELECT DISTINCT cell_id FROM p1))
          WHERE k % 2 = 1))
        TO '{out / "documents.parquet"}' (FORMAT parquet)""")
    return str(out)


def test_all_nodata_cells_match_independent_oracle(spark, sf_nodata):
    """Every classify mode equals the independent straight-line oracle
    (scripts/independent_oracle.py, over the DuckDB pass-3 frame) on an
    input where about half the cells hold only nodata documents."""
    import sys

    import duckdb

    from python_fmask_spark import oracle
    from python_fmask_spark.dialect import DUCKDB

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]
                           / "scripts"))
    from independent_oracle import classify_scene_independent

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_nodata, 'documents.parquet')}')")
    p3 = con.execute(
        f"""{oracle._ctes(DUCKDB, "pass3", angles=True)}
        SELECT url, cell_id, r, c, sha256(text) AS text_sha256, nir, bt,
          nullmask, water_test, snow, cloud_raw, g_tlow, g_thigh, g_b4_17,
          sun_az, sun_zen, sat_az, sat_zen, sat_az_cdn, sat_zen_cdn
        FROM pass3""").df()
    null_cells = p3.groupby("cell_id")["nullmask"].all()
    assert 0 < null_cells.sum() < len(null_cells), null_cells
    want = {}
    for _, pdf in p3.groupby("cell_id"):
        for r in classify_scene_independent(
                pdf.reset_index(drop=True)).itertuples():
            bt = r.cloud_base_temp_c
            want[r.url] = (r.fmask_class, r.cloud_id, r.cloud_height_du,
                           None if np.isnan(bt) else round(bt, 9),
                           r.text_sha256)

    register_views(spark, sf_nodata)
    for mode, out in (
            ("whole", pipeline.classify(spark)),
            ("distributed", classify_distributed(spark)),
            ("auto", pipeline.classify_auto(spark, row_threshold=8))):
        got = _canon(out)
        diffs = {u: (want.get(u), got.get(u))
                 for u in want.keys() | got.keys()
                 if want.get(u) != got.get(u)}
        assert not diffs, f"{mode}: {len(diffs)} mismatching urls, " \
            f"e.g. {list(diffs.items())[:3]}"


def test_distributed_l47_matches_scene_kernel(spark, sf_small):
    """Sensor dispatch, third regime: LANDSAT47 (thermal, NO cirrus —
    fmask/config.py:33-40, fmask/fmask.py:290-306) on the distributed
    path must match pipeline.classify's L47 output bit-for-bit.
    Completes the sensor x path matrix: {L8, S2, L47} x {whole-cell,
    distributed} all pairwise-equal (L8/S2 pinned above; the whole-cell
    L47 chain is pinned against its independent-replay fixture by the
    fmask_final_class_l47 driver row)."""
    register_views(spark, sf_small)
    whole = _canon(pipeline.classify(spark, sensor="LANDSAT47"))
    dist = _canon(classify_distributed(spark, sensor="LANDSAT47"))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def test_distributed_s2_cdi_matches_scene_kernel(spark, sf_small):
    """--parallaxtest on the distributed path: classify_distributed
    (sensor=SENTINEL2, s2_cdi=True) consumes the CDI-modified pass-1
    leaf (Frantz 2018 displacement test composed into pass 1,
    fmask/fmask.py:395-412) and must match pipeline.classify's
    composed-CDI output bit-for-bit, completing the regime x path
    matrix: {L8, S2, S2+CDI, L47} x {whole-cell, distributed}. The
    CDI filter must also be LIVE on this fixture (some PCP pixel
    flips vs plain S2), or the test would pass vacuously."""
    from python_fmask_spark import oracle

    register_views(spark, sf_small)
    offs = oracle.S2_ZERO_OFFSETS
    whole = _canon(pipeline.classify(spark, sensor="SENTINEL2",
                                     s2_offsets=offs, s2_cdi=True))
    dist = _canon(classify_distributed(spark, sensor="SENTINEL2",
                                       s2_offsets=offs, s2_cdi=True))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"
    v_raw = pipeline.materialize_pass1(spark, sensor="SENTINEL2",
                                       s2_offsets=offs)
    v_cdi = pipeline.materialize_pass1(spark, sensor="SENTINEL2",
                                       s2_offsets=offs, s2_cdi=True)
    n_flip = spark.sql(
        f"""SELECT count(*) AS n FROM {v_raw} a JOIN {v_cdi} b
            USING (cell_id, r, c) WHERE a.pcp <> b.pcp""").first().n
    assert n_flip > 0, "CDI filter inert on this fixture"
