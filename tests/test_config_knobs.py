"""The reference's per-run tuning surface (fmask/config.py): the Eqn-17
cloud-probability threshold knob and the strictFmask preset."""

from __future__ import annotations

import os
import pathlib
import sys

import duckdb

from python_fmask_spark import constants as C
from python_fmask_spark import oracle, pipeline
from python_fmask_spark.dialect import DUCKDB, SPARK
from python_fmask_spark.operators.scene import FmaskParams
from python_fmask_spark.sources import register_views

SCRIPTS = str(pathlib.Path(__file__).resolve().parents[1] / "scripts")

def _land_thresholds(spark, eqn17):
    pipeline.materialize_pass1(spark)
    pipeline.materialize_thresholds(spark)
    df = spark.sql(pipeline.tail_sql_from_pass1(
        pipeline.Scene(params=FmaskParams(eqn17_cloud_prob_thresh=eqn17)),
        "pass2",
        """SELECT cell_id,
             cast(round(land_threshold * 1000) as int) AS landthr_milli
           FROM landthr"""))
    return {r.cell_id: r.landthr_milli for r in df.collect()}


def test_eqn17_thresh_sweep_matches_oracle(spark, sf_oracle):
    """Sweep the Eqn-17 knob across two values (the paper's 0.2 and
    Zhu's later MATLAB 0.225): Spark matches the DuckDB oracle rendered
    with the SAME knob at each point, and the knob provably moves the
    per-cell land threshold."""
    register_views(spark, sf_oracle)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_oracle, 'documents.parquet')}')")
    results = {}
    for e17 in (0.2, 0.225):
        got = _land_thresholds(spark, e17)
        ctes = oracle._ctes(DUCKDB, "pass2", eqn17_cloud_prob_thresh=e17)
        want = dict(con.execute(
            f"""{ctes}
            SELECT cell_id,
              cast(round(land_threshold * 1000) as int) AS landthr_milli
            FROM landthr""").fetchall())
        assert got == want, f"eqn17={e17}"
        results[e17] = got
    # the knob is live: every cell's threshold moved by exactly +25 milli
    assert all(results[0.225][c] - results[0.2][c] == 25
               for c in results[0.2])


def test_eqn17_thresh_flows_into_classification(spark, sf_oracle):
    """An extreme Eqn-17 value must change the final cloud mask (the
    knob reaches Eqn 18's land test end-to-end), and the whole-cell
    kernel and declarative interim path must agree under it."""
    register_views(spark, sf_oracle)
    def n_cloud(params):
        df = pipeline.interim_class_kernel(spark, params=params)
        return df.filter("fmask_class = 2").count()
    base = n_cloud(FmaskParams())
    high = n_cloud(FmaskParams(eqn17_cloud_prob_thresh=5.0))
    assert high < base  # a huge threshold suppresses land clouds
    assert base > 0


def test_strict_preset_mirrors_reference(spark, sf_oracle):
    """FmaskParams.strict() == setStrictFmask (fmask/fmask.py:151-154):
    cloud buffer 0, shadow buffer 3, everything else at defaults — and
    it visibly shrinks the dilated cloud mask."""
    s = FmaskParams.strict()
    assert s.cloud_buffer_px == 0
    assert s.shadow_buffer_px == 3
    assert s.min_cloud_size_px == FmaskParams().min_cloud_size_px
    assert s.eqn17_cloud_prob_thresh == FmaskParams().eqn17_cloud_prob_thresh
    register_views(spark, sf_oracle)
    n_default = pipeline.interim_class_kernel(
        spark).filter("fmask_class = 2").count()
    n_strict = pipeline.interim_class_kernel(
        spark, params=s).filter("fmask_class = 2").count()
    assert n_strict < n_default  # no cloud dilation under strict
    # overrides compose on top of the preset
    assert FmaskParams.strict(min_cloud_size_px=4).min_cloud_size_px == 4


def _snow_counts(spark, nir=None, green=None):
    view = pipeline.materialize_pass1(spark, nir_snow_thresh=nir,
                                      green_snow_thresh=green)
    df = spark.sql(f"""SELECT cell_id,
        cast(sum(case when snow then 1 else 0 end) as bigint) AS n_snow
        FROM {view} GROUP BY cell_id""")
    return {r.cell_id: r.n_snow for r in df.collect()}


def test_snow_thresh_sweep_matches_oracle(spark, sf_oracle):
    """Sweep the Eqn-20 snow knobs (--nirsnowthreshold /
    --greensnowthreshold, fmask/cmdline/usgsLandsatStacked.py:89-93):
    Spark matches the DuckDB oracle rendered with the SAME knobs at
    each point, and raising the floors monotonically shrinks the snow
    layer."""
    register_views(spark, sf_oracle)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_oracle, 'documents.parquet')}')")
    totals = {}
    for nir, green in ((None, None), (0.25, 0.2)):
        got = _snow_counts(spark, nir, green)
        ctes = oracle._ctes(DUCKDB, "pass1", nir_snow_thresh=nir,
                            green_snow_thresh=green)
        want = dict(con.execute(f"""{ctes}
            SELECT cell_id,
              cast(sum(case when snow then 1 else 0 end) as bigint)
            FROM pass1 GROUP BY cell_id""").fetchall())
        assert got == want, f"snow knobs ({nir},{green})"
        totals[(nir, green)] = sum(got.values())
    assert totals[(None, None)] > 0, "fixture must contain snow pixels"
    assert totals[(0.25, 0.2)] < totals[(None, None)]


def test_snow_thresh_flows_into_classification(spark, sf_oracle):
    """An impossible snow floor (reflectance > 1) must zero class 4 in
    the interim classification end-to-end, while defaults keep it; a
    non-default knob gets its OWN pass-1 leaf (no cache aliasing)."""
    register_views(spark, sf_oracle)

    def n_snow_class(params):
        df = pipeline.interim_class_kernel(spark, params=params)
        return df.filter("fmask_class = 4").count()

    base = n_snow_class(FmaskParams())
    none = n_snow_class(FmaskParams(nir_snow_thresh=2.0,
                                    green_snow_thresh=2.0))
    assert base > 0 and none == 0
    # default-valued explicit knobs normalize to the shared leaf
    assert FmaskParams().snow_kwargs() == {"nir_snow_thresh": None,
                                           "green_snow_thresh": None}
    v_def = pipeline.materialize_pass1(spark)
    v_knob = pipeline.materialize_pass1(spark, nir_snow_thresh=2.0,
                                        green_snow_thresh=2.0)
    assert v_def != v_knob
    # the default floors spelled as floats name the same leaf as None
    assert pipeline.materialize_pass1(
        spark, nir_snow_thresh=C.EQN20_NIR_SNOW_THRESH,
        green_snow_thresh=C.EQN20_GREEN_SNOW_THRESH) == v_def


def test_cli_params_mirror_reference_conversions():
    """scripts/classify_job.py applies the reference CLI's unit
    conversions (usgsLandsatStacked.py:255-263): percentage /100,
    metres -> pixels via X_RES; --strict preserves the preset buffers
    unless explicitly overridden."""
    sys.path.insert(0, SCRIPTS)
    from classify_job import get_cmdargs, params_from_cmdargs

    p = params_from_cmdargs(get_cmdargs(
        ["sf", "--cloudprobthreshold", "22.5",
         "--cloudbufferdistance", "150", "--shadowbufferdistance", "300",
         "--nirsnowthreshold", "0.13", "--greensnowthreshold", "0.12",
         "--mincloudsize", "8"]))
    assert p.eqn17_cloud_prob_thresh == 0.225
    assert p.cloud_buffer_px == int(150 / C.X_RES)
    assert p.shadow_buffer_px == int(300 / C.X_RES)
    assert (p.nir_snow_thresh, p.green_snow_thresh) == (0.13, 0.12)
    assert p.min_cloud_size_px == 8

    strict = params_from_cmdargs(get_cmdargs(["sf", "--strict"]))
    assert (strict.cloud_buffer_px, strict.shadow_buffer_px) == (0, 3)
    over = params_from_cmdargs(get_cmdargs(
        ["sf", "--strict", "--cloudbufferdistance", "150"]))
    assert over.cloud_buffer_px == int(150 / C.X_RES)
    assert over.shadow_buffer_px == 3

    dflt = params_from_cmdargs(get_cmdargs(["sf"]))
    assert dflt == FmaskParams()


def test_parallaxtest_cli_flag(capsys):
    """--parallaxtest maps to the engine's s2_cdi composition flag and
    is gated to SENTINEL2 like the reference (the flag exists only on
    sentinel2Stacked.py:112-114); the gate fires at PARSE time (no
    SparkSession spin-up before the usage error)."""
    sys.path.insert(0, SCRIPTS)
    import pytest

    from classify_job import get_cmdargs

    assert get_cmdargs(["sf"]).parallaxtest is False
    args = get_cmdargs(["sf", "--sensor", "SENTINEL2", "--parallaxtest",
                        "--mode", "distributed"])
    assert args.parallaxtest is True and args.mode == "distributed"
    with pytest.raises(SystemExit) as ei:
        get_cmdargs(["sf", "--parallaxtest"])  # default sensor LANDSAT8
    assert ei.value.code == 2
    assert "--parallaxtest requires" in capsys.readouterr().err

    # the S2 XML sources get the same parse-time gate (they are only
    # consumed by the SENTINEL2 branch; silently accepting them with
    # another sensor would yield a silently different product)
    for flag in ("--granule-xml", "--product-xml"):
        with pytest.raises(SystemExit) as ei:
            get_cmdargs(["sf", flag, "/tmp/x.xml"])  # default LANDSAT8
        assert ei.value.code == 2
        assert f"{flag} requires" in capsys.readouterr().err
        ok = get_cmdargs(["sf", "--sensor", "SENTINEL2",
                          flag, "/tmp/x.xml"])
        assert getattr(ok, flag[2:].replace("-", "_")) == "/tmp/x.xml"

    # --tempdir: only the distributed path writes stage tables
    for mode in ("whole", "auto"):
        with pytest.raises(SystemExit) as ei:
            get_cmdargs(["sf", "--mode", mode, "--tempdir", "/tmp/wd"])
        assert ei.value.code == 2
        assert "--tempdir requires --mode distributed" in \
            capsys.readouterr().err
    assert get_cmdargs(["sf", "--mode", "distributed", "--tempdir",
                        "/tmp/wd"]).tempdir == "/tmp/wd"


def test_negative_buffer_params_raise():
    """A tiled pass sizes its halo from the cloud buffer, so a negative
    one left the 3x3 majority a reflected border at tile seams, where
    the whole-cell kernel buffers nothing: FmaskParams refuses either
    negative buffer by name."""
    import pytest

    for name in ("cloud_buffer_px", "shadow_buffer_px"):
        for bad in (-1, float("nan")):
            with pytest.raises(ValueError, match=name):
                FmaskParams(**{name: bad})
    zero = FmaskParams(cloud_buffer_px=0, shadow_buffer_px=0)
    assert (zero.cloud_buffer_px, zero.shadow_buffer_px) == (0, 0)


def test_negative_buffer_cli_flags_rejected(capsys):
    """--cloudbufferdistance -30 is int(-30 / 30) = -1 px: the CLI
    rejects a negative distance at parse time, before any SparkSession
    starts, and a NaN or infinite one, which the metre -> pixel
    conversion cannot turn into an int."""
    sys.path.insert(0, SCRIPTS)
    import pytest

    from classify_job import get_cmdargs

    for flag in ("--cloudbufferdistance", "--shadowbufferdistance"):
        for bad in ("-30", "nan", "inf"):
            with pytest.raises(SystemExit) as ei:
                get_cmdargs(["sf", flag, bad])
            assert ei.value.code == 2
            assert f"{flag} must be a finite distance >= 0" in \
                capsys.readouterr().err
        assert getattr(get_cmdargs(["sf", flag, "0"]), flag[2:]) == 0
