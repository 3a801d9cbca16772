"""The per-cell percentile pinned outside the shared SQL.

``derive.scoreatpcnt`` renders the reference's scoreatpcnt
(fmask/fmask.py:482-499) as a FILTERed ``percentile_disc``; both the
Spark pipeline and the DuckDB oracle run that one text. Here it is
checked against a NumPy transcription of the reference's histogram
form, in both engines: on synthetic groups (the exact 17.5 % / 82.5 %
boundaries at N = 40k, N = 1, all ties, an empty FILTER) and on the
sf0.01 per-cell leaf and Eqn-17 land threshold.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from python_fmask_spark import constants as C
from python_fmask_spark import derive, oracle, pipeline
from python_fmask_spark.dialect import DUCKDB
from python_fmask_spark.sources import register_views


def np_scoreatpcnt(values, pcnt: float):
    """fmask/fmask.py:482-499 over a histogram of ``values``: the first
    bin whose cumulative percentage is >= pcnt; None for no values."""
    values = np.asarray(values)
    if values.size == 0:
        return None
    bins, counts = np.unique(values, return_counts=True)
    cum = 100.0 * np.cumsum(counts) / counts.sum()
    return int(bins[np.nonzero(cum >= pcnt)[0][0]])


def _groups() -> pd.DataFrame:
    rng = np.random.default_rng(482)
    frames = []

    def add(name, v, m):
        frames.append(pd.DataFrame({"g": name, "v": np.asarray(v, "int32"),
                                    "m": np.asarray(m, bool)}))

    for k in (1, 2, 3, 5, 8, 25):
        n = 40 * k  # 17.5 % and 82.5 % of n are whole ranks
        add(f"exact{k}", rng.permutation(n), np.ones(n))
        # the same boundary behind a FILTER that drops the other rows
        add(f"exact{k}_masked", rng.permutation(2 * n),
            rng.permutation(np.r_[np.ones(n), np.zeros(n)]))
    add("one", [7], [True])
    add("ties", np.full(50, 3), np.ones(50))
    add("none_pass", rng.integers(0, 256, 30), np.zeros(30))
    for i in range(120):
        n = int(rng.integers(1, 300))
        add(f"rand{i}", rng.integers(0, (2, 6, 256)[i % 3], n),
            rng.random(n) < 0.5)
    return pd.concat(frames, ignore_index=True)


def _expected(df: pd.DataFrame) -> dict:
    return {g: (np_scoreatpcnt(s.v[s.m], 17.5), np_scoreatpcnt(s.v[s.m], 82.5))
            for g, s in df.groupby("g")}


_AGG_SQL = (f"SELECT g, {derive.scoreatpcnt('v', 17.5, 'm')} AS p17, "
            f"{derive.scoreatpcnt('v', 82.5, 'm')} AS p82 "
            f"FROM grp GROUP BY g")


def test_np_transcription_boundaries():
    # 7 of 40 is exactly 17.5 %: the 7th value, not the 8th
    assert np_scoreatpcnt(np.arange(40), 17.5) == 6
    assert np_scoreatpcnt(np.arange(40), 82.5) == 32
    assert np_scoreatpcnt([5], 82.5) == 5
    assert np_scoreatpcnt([], 17.5) is None


def test_percentile_disc_matches_scoreatpcnt_duckdb():
    df = _groups()
    con = duckdb.connect()
    con.register("grp", df)
    got = {g: (a, b) for g, a, b in con.execute(_AGG_SQL).fetchall()}
    assert got == _expected(df)
    assert got["none_pass"] == (None, None)


def test_percentile_disc_matches_scoreatpcnt_spark(spark):
    df = _groups()
    sdf = spark.createDataFrame(df)
    sdf.createOrReplaceTempView("grp")
    out = spark.sql(_AGG_SQL)
    assert dict(out.dtypes)["p17"] == "int"
    got = {r.g: (r.p17, r.p82) for r in out.collect()}
    assert got == _expected(df)
    assert got["none_pass"] == (None, None)


def _np_thresholds(p1: pd.DataFrame, sensor: str) -> dict:
    out = {}
    for cell, c in p1.groupby("cell_id"):
        bt = c.scaled_bt_bin
        bts = [None if sensor == "SENTINEL2" or v is None else v - C.BT_OFFSET
               for v in (np_scoreatpcnt(bt[c.clear_sky_water], 82.5),
                         np_scoreatpcnt(bt[c.clear_land], 17.5),
                         np_scoreatpcnt(bt[c.clear_land], 82.5))]
        b4 = np_scoreatpcnt(c.scaled_b4_bin[c.clear_land], 17.5)
        out[cell] = (*bts, 0.01 if b4 is None else b4 / C.B4_SCALE,
                     int((~c.nullmask).sum()))
    return out


def _np_land_threshold(p2: pd.DataFrame, e17: float) -> dict:
    out = {}
    for cell, c in p2.groupby("cell_id"):
        n_clear = int(c.clear_land.sum())
        p = np_scoreatpcnt(c.lprob_pcnt[c.clear_land], 82.5)
        if n_clear < 0.03 * c.g_non_null_count.max() or p is None:
            out[cell] = e17
        else:
            out[cell] = p / C.PROB_SCALE + e17
    return out


@pytest.mark.parametrize("sensor", ["LANDSAT8", "SENTINEL2"])
def test_cell_thresholds_match_np_transcription(spark, sf_oracle, sensor):
    """sf0.01: the Spark per-cell leaf (materialize_thresholds) and the
    landthr CTE in both engines equal the NumPy transcription over the
    DuckDB pass-1 / pass-2 frames."""
    offs = oracle.S2_ZERO_OFFSETS if sensor == "SENTINEL2" else None
    e17 = C.EQN17_CLOUD_PROB_THRESH
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_oracle, 'documents.parquet')}')")
    p1 = con.execute(
        oracle._ctes(DUCKDB, "pass1", sensor=sensor, s2_offsets=offs)
        + " SELECT cell_id, scaled_bt_bin, scaled_b4_bin, clear_land,"
          " clear_sky_water, nullmask FROM pass1").df()
    p2_ctes = oracle._ctes(DUCKDB, "pass2", sensor=sensor, s2_offsets=offs)
    p2 = con.execute(p2_ctes + " SELECT cell_id, lprob_pcnt, clear_land,"
                               " g_non_null_count FROM pass2").df()
    want_thr = _np_thresholds(p1, sensor)
    want_lt = _np_land_threshold(p2, e17)
    assert p1.clear_land.any()

    register_views(spark, sf_oracle)
    thr_view = pipeline.materialize_thresholds(spark, sensor=sensor,
                                               s2_offsets=offs)
    got_thr = {r.cell_id: (r.twater, r.tlow, r.thigh, r.b4_17,
                           r.non_null_count)
               for r in spark.table(thr_view).collect()}
    assert got_thr == want_thr

    pipeline.materialize_pass1(spark, sensor=sensor, s2_offsets=offs)
    lt = spark.sql(pipeline.tail_sql_from_pass1(
        pipeline.Scene(sensor=sensor, s2_offsets=offs), "pass2",
        "SELECT cell_id, land_threshold FROM landthr"))
    got_lt = {r.cell_id: r.land_threshold for r in lt.collect()}
    assert got_lt == pytest.approx(want_lt, abs=1e-12)
    duck_lt = dict(con.execute(
        p2_ctes + " SELECT cell_id, land_threshold FROM landthr").fetchall())
    assert duck_lt == pytest.approx(want_lt, abs=1e-12)
