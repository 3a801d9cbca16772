"""End-to-end fmask classification pipeline, Spark-first.

Plan shape:
  parquet scan (pruned columns)
    -> pass-1 leaf + per-cell leaf (thresholds, angle scalars and
       cell_rows; rows == cells): each a lineage.barrier — a cached
       localCheckpoint, or the StageRunner stage ``pass1``/``thresholds``
    -> scene_exchange: pass2/pass3 over the leaves -> (px, dims, ident)
    -> shuffle by cell_id -> applyInPandas scene kernel (Arrow batches)

The leaves are the reference's once-per-scene thresholds and angles
(fmask/fmask.py:96-221,546-561); scene_exchange decides what every
classify path (classify, interim_class_kernel, scene_dist) reads. Only
the genuinely spatial tail (fill-minima, clumps, shadow match) runs in
NumPy kernels.

A run's configuration is one Scene: the keyword entry points forward
its fields to it, and every function below them takes the Scene.
"""

from __future__ import annotations

import hashlib
import weakref
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from . import derive
from .dialect import SPARK
from .operators.scene import FmaskParams
from .plans.lineage import barrier, output_cut
from .session import ensure_package_on_executors

# per-cell constants of pass 1 the per-cell leaf carries next to the
# thresholds (first() per cell: they are constant over a cell's pixels)
_CELL_CONSTS = ("sun_az", "sun_zen", "cell_rows")


@dataclass(frozen=True)
class Scene:
    """One classify run's configuration: the input table, the sensor
    dispatch, the Sentinel-2 offsets and CDI composition, the tile-XML
    angle grids and the run's FmaskParams — the engine's counterpart of
    the reference's per-run config, which doFmask carries through every
    pass (fmask/fmask.py:96-221). It is the one place a scene's fields
    and their defaults are declared: classify, classify_auto,
    scene_dist.classify_distributed, materialize_pass1 and
    materialize_thresholds forward their keywords as ``Scene(table,
    **scene)`` (a misspelled one is a TypeError before any Spark job),
    and interim_class_kernel and s2_cdi_pcp name the subset they
    support. Everything below them takes the Scene."""

    table: str = "documents"
    sensor: str = "LANDSAT8"
    s2_offsets: dict[str, int] | None = None
    s2_cdi: bool = False
    tile_meta: object = None  # sen2meta.Sen2TileMeta
    params: FmaskParams = FmaskParams()

    def key(self) -> str:
        """Short sha256 naming this scene's pass-1 leaf: the session
        cache key, the leaf view names and the logic part of every
        stage fingerprint. The rendered pass-1 SQL already holds the
        sensor dispatch, the offsets, the Eqn-20 snow floors and the
        inlined angle-grid VALUES, so two granules never share a leaf;
        the CDI flag is the one field applied after that SQL. The other
        FmaskParams fields act after pass 1 and stay out of the key."""
        ident = f"{self.table}|cdi={self.s2_cdi}|{pass1_sql_text(self)}"
        return hashlib.sha256(ident.encode()).hexdigest()[:16]


def pass1_sql_text(scene: Scene = Scene()) -> str:
    """The rendered pass-1 SQL (features + pass1 CTEs) of ``scene``.
    Scene.key() hashes it, so any change to the derive formulas, the
    sensor dispatch, the offsets, the Eqn-20 snow knobs or the angle
    grids names a new leaf and invalidates StageRunner stage tables."""
    p1_ctes = ",\n".join([
        derive.features_sql(
            SPARK, derive.documents_wide_sql(SPARK, scene.table),
            tile_meta=scene.tile_meta),
        derive.pass1_sql(SPARK, sensor=scene.sensor,
                         s2_offsets=scene.s2_offsets,
                         nir_snow_thresh=scene.params.nir_snow_thresh,
                         green_snow_thresh=scene.params.green_snow_thresh),
    ])
    return f"WITH {p1_ctes} SELECT * FROM pass1"


# session -> the pass-1 / thresholds leaf views it has materialized.
# A leaf is named by its Scene.key(), and the pass-1 stage table is
# immutable for a given registered input, so every query in a session
# shares ONE materialization (the reference's temp-raster reuse,
# fmask/fmask.py:206-216); sources.register_views invalidates it when
# the underlying input changes (including a rewrite of the parquet files
# at the same path — the register identity folds in file mtimes/sizes).
# WeakKeyDictionary on the session object: id(spark) integers can be
# recycled after a session is garbage-collected.
_PASS1_CACHE: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = \
    weakref.WeakKeyDictionary()


def invalidate_pass1_cache(spark: SparkSession) -> None:
    """Drop this session's materialized pass-1 views (called when the
    registered input tables change underneath them)."""
    for view in _PASS1_CACHE.pop(spark, set()):
        try:
            spark.catalog.dropTempView(view)
        except Exception:
            pass


def materialize_pass1(spark: SparkSession, table: str = "documents",
                      nir_snow_thresh: float | None = None,
                      green_snow_thresh: float | None = None,
                      **scene) -> str:
    """Materialize pass 1 behind a leaf view and return the view name.

    Catalyst inlines deterministic CTEs per reference; the thresholds +
    pass2 + pass3 chain references pass1 several times, so a single
    giant plan's optimization time explodes combinatorially.
    localCheckpoint truncates the lineage to a LogicalRDD leaf — the
    reference's own inter-pass temp-raster pattern
    (fmask/fmask.py:206-216 / SURVEY S12) — making every downstream plan
    small and linear to optimize. The session's existing materialization
    is returned while the registered input hasn't changed
    (register_views invalidates on change): the interim/classify/
    threshold queries all branch from the same leaf instead of
    re-deriving pass 1 per query.

    ``scene`` is Scene's other fields but ``params``: the two Eqn-20
    floors (None = the default) are the only FmaskParams fields pass 1
    reads. classify_distributed(runner=...) registers the same view
    over its StageRunner stage ``pass1``, so downstream plans are
    identical."""
    return _pass1_leaf(spark, _snow_scene(
        table, nir_snow_thresh, green_snow_thresh, **scene))


def _snow_scene(table: str, nir: float | None, green: float | None,
                **scene) -> Scene:
    """Scene(table, **scene) whose FmaskParams has these Eqn-20 floors,
    None meaning the default; a ``params`` key in ``scene`` is a
    TypeError, as in the wrappers' signatures."""
    floors = {"nir_snow_thresh": nir, "green_snow_thresh": green}
    return Scene(table, params=FmaskParams(
        **{k: v for k, v in floors.items() if v is not None}), **scene)


def _leaf(spark: SparkSession, view: str, build, runner, stage: str,
          logic: str) -> str:
    """plans.lineage.barrier(build) behind the temp view ``view``,
    cached for the session when there is no runner."""
    cache = _PASS1_CACHE.setdefault(spark, set())
    if runner is None and view in cache and spark.catalog.tableExists(view):
        return view
    barrier(spark, runner, stage, logic, build).createOrReplaceTempView(view)
    # a stage table lives in the runner's workdir, which may be deleted
    # under the session: only a localCheckpoint leaf stays cached
    (cache.add if runner is None else cache.discard)(view)
    return view


def _leaf_views(scene: Scene) -> tuple[str, str]:
    """The (pass-1, per-cell) leaf view names of ``scene``."""
    key = scene.key()
    return f"_pass1_mat_{key}", f"_thr_mat_{key}"


def _pass1_leaf(spark: SparkSession, scene: Scene, runner=None) -> str:
    def build() -> DataFrame:
        if scene.s2_cdi:
            return _cdi_pass1(spark, scene)
        return spark.sql(pass1_sql_text(scene))

    return _leaf(spark, _leaf_views(scene)[0], build, runner, "pass1",
                 scene.key())


def _cdi_pass1(spark: SparkSession, scene: Scene) -> DataFrame:
    """The reference applies the CDI displacement test INSIDE pass 1
    when setSen2displacementTest is on (fmask/fmask.py:395-412): pcp
    becomes the CDI-filtered PCP and everything downstream (clear_land,
    the thresholds, pass 2/3) consumes it. Build the raw S2
    pass-1 leaf, run the per-cell CDI kernel over it, and replace pcp +
    its one dependent column."""
    from pyspark.sql import functions as F

    if scene.sensor != "SENTINEL2":
        raise ValueError("s2_cdi requires sensor='SENTINEL2' "
                         "(fmask/config.py:388-394)")
    raw_view = _pass1_leaf(spark, replace(scene, s2_cdi=False))
    kout = _cdi_frame(spark, scene).select(
        "cell_id", "r", "c",
        F.expr("cast(pcp_final as boolean) AS _pcp_cdi"))
    return (spark.table(raw_view)
            .join(kout, ["cell_id", "r", "c"])
            .withColumn("pcp", F.col("_pcp_cdi"))
            .withColumn("clear_land", F.expr(
                "NOT nullmask AND NOT pcp AND NOT water_test"))
            .drop("_pcp_cdi"))


# pass-1 columns the pass-2/pass-3 CTE formulas themselves consume
# (derive.pass2_sql / pass3_sql); everything else the caller doesn't
# name in ``pass1_cols`` can be projected away at the leaf.
_PASS23_DEPS = frozenset((
    "cell_id", "bt", "ref_swir1", "ref_cirrus", "variability_prob_pcnt",
    "clear_land", "pcp", "water_test", "nullmask"))


def tail_sql_from_pass1(scene: Scene, upto: str, select: str,
                        pass1_cols: tuple[str, ...] | None = None) -> str:
    """Thresholds/pass2/pass3 CTE chain over ``scene``'s two leaf views
    (_leaf_views; the caller materializes them, e.g. through
    materialize_thresholds or scene_exchange), with its sensor's
    formulas.

    The per-cell leaf stands in for the thresholds CTE, so no consumer
    re-aggregates pass 1 (thresholds is a per-cell dim, rows == cells).
    ``scene.params.eqn17_cloud_prob_thresh`` renders into the pass-2
    landthr CTE fresh per query, so a non-default value composes with
    the session-cached leaves (whose key it is not part of).

    ``pass1_cols`` (r6): the pass-1-level columns the caller's final
    ``select`` needs. When given, the pass1 CTE projects to
    pass1_cols | _PASS23_DEPS instead of ``SELECT *`` — the pass-1 leaf
    is ~70 columns wide and every pass-2/3 layer re-projects ``p.*``,
    so the analyzer/optimizer otherwise drags the full width through
    every layer of every consumer's plan (guide §2.3 "project before
    the exchange" applied at plan-construction time). Requires ``upto``
    in (pass2, pass3); a name the formulas don't cover fails loudly at
    analysis."""
    p1_select = (", ".join(sorted(set(pass1_cols) | _PASS23_DEPS))
                 if pass1_cols else "*")
    view, thr = _leaf_views(scene)
    builders = [f"pass1 AS (SELECT {p1_select} FROM {view})",
                f"thresholds AS (SELECT * FROM {thr})"]
    if upto in ("pass2", "pass3"):
        builders.append(derive.pass2_sql(
            SPARK, sensor=scene.sensor,
            eqn17_cloud_prob_thresh=scene.params.eqn17_cloud_prob_thresh))
    if upto == "pass3":
        builders.append(derive.pass3_sql(SPARK, sensor=scene.sensor))
    ctes = ",\n".join(builders)
    return f"WITH {ctes} {select}"


def materialize_thresholds(spark: SparkSession, table: str = "documents",
                           nir_snow_thresh: float | None = None,
                           green_snow_thresh: float | None = None,
                           **scene) -> str:
    """Materialize the per-cell leaf (rows == cells, tiny) behind a
    view, session-cached like pass 1: the thresholds dim plus the
    per-cell angle scalars and cell_rows. Every tail consumer
    (pass2/pass3/dims) then references a leaf instead of re-aggregating
    pass 1. Keywords as materialize_pass1's."""
    return _thresholds_leaf(spark, _snow_scene(
        table, nir_snow_thresh, green_snow_thresh, **scene))


def thresholds_sql_text(scene: Scene) -> str:
    """The rendered SQL of ``scene``'s per-cell leaf, which its stage
    fingerprint hashes: one GROUP BY cell_id over the pass-1 leaf with
    the thresholds aggregates and first() of each of _CELL_CONSTS."""
    consts = ", ".join(f"first({k}) AS {k}" for k in _CELL_CONSTS)
    return (f"SELECT cell_id, {derive.threshold_aggs(scene.sensor)}, "
            f"{consts} FROM {_leaf_views(scene)[0]} GROUP BY cell_id")


def _thresholds_leaf(spark: SparkSession, scene: Scene,
                     runner=None) -> str:
    sql = thresholds_sql_text(scene)

    def build() -> DataFrame:
        _pass1_leaf(spark, scene, runner)  # (re)registers the view sql reads
        return spark.sql(sql)

    return _leaf(spark, _leaf_views(scene)[1], build, runner, "thresholds",
                 sql)


def interim_class_kernel(spark: SparkSession, table: str = "documents",
                         params: FmaskParams = FmaskParams(),
                         sensor: str = "LANDSAT8",
                         s2_offsets: dict[str, int] | None = None,
                         s2_cdi: bool = False) -> DataFrame:
    """Interim classification (no shadow chain) via the tiled-kernel path:
    pass3 columns -> scene_dist.cloud_layers, the one stage 1 of both
    tiled paths (the minimum-cloud-size filter, then ONE fused tile pass
    of 3x3 majority + mask + circular dilation, halo = 1 + buffer
    radius, 3 at the default) -> precedence CASE (class_sql). Matches
    the declarative SQL oracle bit-for-bit (driver-checked) while
    running the morphology tile-parallel — the 100-TB plan shape. url
    and the text digest (scene_exchange's identity frame) are joined
    back JVM-side instead of riding through the Python kernels."""
    from .operators.scene import FLAGS_SQL, class_sql
    from .operators.scene_dist import cloud_layers

    px, _dims, ident = scene_exchange(
        spark, Scene(table, sensor, s2_offsets, s2_cdi, params=params))
    # persist: with_halo explodes its input — without a materialization
    # point Spark recomputes the whole pass-1..3 derivation per consumer.
    # (r6 A/B KEPT this: dropping the checkpoint looked like "one fewer
    # job" but measured 0.93 s -> 1.5 s/call at sf0.1 — the halo map
    # stage then carries the whole pass-2/3 tail + dim broadcasts above
    # a Generate, defeating stage fusion; the narrow 7-column
    # checkpoint is the faster shape on repeat calls.)
    out = cloud_layers(
        px.selectExpr("cell_id", "r", "c", *FLAGS_SQL).localCheckpoint(),
        params).selectExpr("*", class_sql("clouddil"))
    return (out.join(ident, ["cell_id", "r", "c"])
            .select("url", "cell_id", "r", "c", "cloud_raw", "cloud_m",
                    "clouddil", "nullmask", "water_test", "snow",
                    "fmask_class", "text_sha256"))


def _cdi_src_select(offs: dict[str, int]) -> str:
    """Per-pixel columns the CDI kernel consumes (cdi0 in the oracle)."""
    from . import constants as C

    ref8a = derive._ref("nir8a", offs.get("nir8a", 0))
    ref7 = derive._ref("nir7", offs.get("nir7", 0))
    return f"""url, cell_id, r, c, nullmask,
  (basic_test AND whiteness0 < {C.EQN2_WHITENESS_THRESH}
   AND haze_test AND b45_test) AS pcp6,
  cirrus_band_test, sat_and_bright,
  cast(cast(ref_nir / {ref8a} as float) as double) AS r88,
  cast(cast({ref7} / {ref8a} as float) as double) AS r87"""


def _cdi_frame(spark: SparkSession, scene: Scene) -> DataFrame:
    """The per-cell CDI kernel over ``scene``'s raw (pre-CDI)
    Sentinel-2 pass-1 leaf: (url, cell_id, r, c, cdi_milli, pcp_cdi,
    pcp_final)."""
    from .sen2meta import require_s2_offsets

    offs = require_s2_offsets(scene.s2_offsets)
    view = _pass1_leaf(spark, replace(scene, s2_cdi=False))
    ensure_package_on_executors(spark)
    return (spark.sql(f"SELECT {_cdi_src_select(offs)} FROM {view}")
            .groupBy("cell_id")
            .applyInPandas(_cdi_kernel, schema=_CDI_OUT_SCHEMA))


def _cdi_kernel(pdf):
    """One cell's CDI chain (calcCDI, fmask/fmask.py:1412-1429 +
    application :398-406): kernels.calc_cdi over the float32-rounded
    band ratios, confident selection eroded then region-grown to
    fixpoint, PCP restricted to the grown selection before the
    cirrus/saturation OR."""
    import numpy as np
    import pandas as pd

    from . import constants as C
    from .operators import kernels

    rr = pdf["r"].to_numpy()
    cc = pdf["c"].to_numpy()
    shape = (int(rr.max()) + 1, C.SCENE_WIDTH)

    def rast(col, fill, dtype):
        return kernels.raster(rr, cc, pdf[col].to_numpy(), shape, fill, dtype)

    pcp6 = rast("pcp6", False, bool)
    null = rast("nullmask", True, bool)
    cirrus = rast("cirrus_band_test", False, bool)
    sat = rast("sat_and_bright", False, bool)

    cdi = kernels.calc_cdi(rast("r88", 0.0, np.float64),
                           rast("r87", 0.0, np.float64))
    pcp_cdi = kernels.cdi_pcp_filter(pcp6, cdi)
    pcp_final = ~null & (pcp_cdi | cirrus | sat)
    c64 = cdi.astype(np.float64)
    cdi_milli = np.where(
        c64 >= 0, np.floor(c64 * 1000 + 0.5),
        -np.floor(-c64 * 1000 + 0.5)).astype(np.int32)
    return pd.DataFrame({
        "url": pdf["url"].to_numpy(),
        "cell_id": pdf["cell_id"].to_numpy(),
        "r": rr.astype("int32"), "c": cc.astype("int32"),
        "cdi_milli": cdi_milli[rr, cc],
        "pcp_cdi": pcp_cdi[rr, cc].astype("int32"),
        "pcp_final": pcp_final[rr, cc].astype("int32"),
    })


_CDI_OUT_SCHEMA = ("url string, cell_id string, r int, c int, "
                   "cdi_milli int, pcp_cdi int, pcp_final int")


def s2_cdi_pcp(spark: SparkSession, table: str = "documents",
               s2_offsets: dict[str, int] | None = None) -> DataFrame:
    """Sentinel-2 displacement-test PCP (W4), the pipeline option
    mirroring setSen2displacementTest (fmask/config.py:388-394, applied
    fmask/fmask.py:398-406): CDI from 7x7 focal variances of the
    B8/B8A and B7/B8A ratios, confident selection (cdi < -0.5) eroded
    then region-grown within (cdi < -0.25), PCP restricted to the grown
    selection before the cirrus/saturation OR.

    Plan shape: the Sentinel-2 pass-1 leaf (shared with every other S2
    query of the session) -> shuffle by cell -> per-cell Arrow kernel
    (focal variance + erosion + fixpoint grow are whole-scene ops,
    exactly the reference's per-scene stage). Oracle: oracle.q_s2_cdi's
    SQL form incl. a RECURSIVE region-grow CTE. A missing ``s2_offsets``
    is an error (fmask/fmask.py:137-149); pre-04.00 products pass
    oracle.S2_ZERO_OFFSETS explicitly."""
    return _cdi_frame(spark, Scene(table, "SENTINEL2", s2_offsets))


def px_exchange_sql(scene: Scene) -> str:
    """The rendered SQL of ``scene``'s slim pixel frame: pass 2/3 over
    the two leaves, projected to operators.scene.PX_EXCHANGE_SQL. The
    distributed path's stage fingerprint hashes this text."""
    from .operators.scene import PX_EXCHANGE_SQL

    return tail_sql_from_pass1(
        scene, "pass3", f"SELECT {PX_EXCHANGE_SQL} FROM pass3",
        pass1_cols=("r", "c", "nir", "snow", "sat_az_cdn", "sat_zen_cdn"))


def scene_exchange(spark: SparkSession, scene: Scene, runner=None,
                   cells: DataFrame | None = None
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """What every classify path reads: (px, dims, ident).

    px is the slim pixel frame (operators.scene.PX_EXCHANGE_SQL: 8
    narrow fields, no url, no per-cell constants, the booleans packed
    into ``flags``, which FLAGS_SQL unpacks); dims is one row per cell,
    DIM_COLS + cell_rows, from the per-cell leaf; ident is (cell_id, r,
    c, url, text_sha256) from the pass-1 leaf, joined back once after
    the kernels. ``runner`` makes the leaves its ``pass1`` and
    ``thresholds`` stages; ``cells`` semi-joins all three frames."""
    from pyspark.sql import functions as F

    from .operators.scene import DIM_COLS

    view = _pass1_leaf(spark, scene, runner)
    thr = _thresholds_leaf(spark, scene, runner)
    px = spark.sql(px_exchange_sql(scene))
    dims = spark.sql(
        f"""SELECT cell_id, cast(tlow as double) AS g_tlow,
              cast(thigh as double) AS g_thigh, b4_17 AS g_b4_17,
              {", ".join(DIM_COLS[3:])}, cell_rows
            FROM {thr}""")
    ident = spark.sql(
        f"""SELECT cell_id, r, c, url, sha2(text, 256) AS text_sha256
            FROM {view}""")
    if cells is None:
        return px, dims, ident
    return tuple(f.join(F.broadcast(cells), "cell_id", "left_semi")
                 for f in (px, dims, ident))


# the output columns of every full classify path
CLASSIFY_COLS = ("url", "cell_id", "r", "c", "fmask_class", "cloud_id",
                 "cloud_height_du", "cloud_base_temp_c", "text_sha256")


def classify(spark: SparkSession, table: str = "documents",
             **scene) -> DataFrame:
    """Full classification: returns (url, cell_id, r, c, fmask_class,
    cloud_id, ..., text_sha256). ``table`` must be a registered view
    with the raw documents schema; ``scene`` is Scene's other fields.

    Plan shape: the per-cell kernel cogroups ONLY scene_exchange's slim
    pixel frame (8 narrow fields, flags bit-packed) with its 1-row dim;
    url and the 64-byte text digest (pure passthrough identity) join
    back JVM-side on (cell_id, r, c) from the identity frame, so neither
    ever rides the groupBy sort that was measured spilling 8.3 GB at
    40.96M rows with the full-width row. The identity frame reads the
    pass-1 leaf, so the threshold/pass2/pass3 tail never re-derives
    text.

    The returned frame is cut once (plans.lineage.output_cut): calling
    classify runs the plan's shuffle stages, the first action on the
    frame computes and caches its rows, and every later action (the
    counts after a sink's write) reads that cache instead of running
    the kernel again."""
    return output_cut(_classify(spark, Scene(table, **scene)))


def _classify(spark: SparkSession, scene: Scene,
              cells: DataFrame | None = None) -> DataFrame:
    from .operators.scene import SCENE_OUT_SCHEMA_SLIM, scene_cogroup_kernel

    ensure_package_on_executors(spark)
    px, dims, ident = scene_exchange(spark, scene, cells=cells)
    out = (px.groupBy("cell_id")
           .cogroup(dims.groupBy("cell_id"))
           .applyInPandas(
               scene_cogroup_kernel(
                   scene.params,
                   has_thermal=(scene.sensor != "SENTINEL2")),
               schema=SCENE_OUT_SCHEMA_SLIM))
    return out.join(ident, ["cell_id", "r", "c"]).select(*CLASSIFY_COLS)


def classify_auto(spark: SparkSession, table: str = "documents",
                  row_threshold: int = 2_000_000, **scene) -> DataFrame:
    """Cost-based per-cell dispatch between the whole-cell kernel and
    the clump-parallel distributed path (one entry point; mirrors RIOS
    picking the window grain, fmask/fmask.py:234).

    Cells below ``row_threshold`` rows run as ONE kernel task each
    (classify — lowest constant factor; the whole-cell kernel wins on
    wall clock far beyond 10^6 rows/cell because the distributed
    path's extra stage barriers cost 10-30x CPU at small sizes); cells
    at or above it run classify_distributed, whose every stage has
    bounded task grain, so a Zipf-hot mega-cell is never a
    straggler/OOM unit. The 2M default is a MEMORY bound, not a wall
    crossover: a 2M-row cell's kernel working set is ~300 MB of NumPy
    slabs (10 H x 8 arrays + the Arrow frame), safely inside a
    multi-task executor heap, while 10x that risks per-task OOM — and
    round 3 measured the distributed max task staying bounded (~11 s)
    at 4M-row cells while the whole-cell task grows linearly
    (BENCH/BASELINE.md, "Skew + dispatch evidence"). The routing
    decision is one per-cell count over the materialized pass-1 leaf
    (a map-side-combine aggregate, checkpointed; rows == cells); no
    cell list is collected. Both halves read the scene's one
    exchange (scene_exchange), each semi-joined to its own cells. Both
    paths produce bit-identical output (tests/test_scene_dist.py), so
    the union is exact. ``scene`` is Scene's fields but ``table``.
    The returned frame (the union, when both halves run) is cut once,
    as classify's is."""
    from pyspark.sql import functions as F

    from .operators.scene_dist import _classify_distributed

    scene = Scene(table, **scene)
    counts = (spark.table(_pass1_leaf(spark, scene)).groupBy("cell_id")
              .agg((F.count("*") >= row_threshold).alias("big"))
              .localCheckpoint())
    big = counts.filter("big").select("cell_id")
    if big.isEmpty():
        return output_cut(_classify(spark, scene))
    small_out = _classify(spark, scene,
                          cells=counts.filter("NOT big").select("cell_id"))
    big_out = _classify_distributed(spark, scene, cells=big)
    return output_cut(
        small_out.unionByName(big_out.select(*small_out.columns)))
