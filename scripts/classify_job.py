"""spark-submit entry: full classification job over a documents table.

The configurable-parameter surface mirrors the reference's CLI group
(fmask/cmdline/usgsLandsatStacked.py:72-96 "Configurable parameters";
sentinel2Stacked.py has the same knobs), with the same units and the
same conversions the reference applies (:255-263):

  --cloudprobthreshold is a PERCENTAGE (Eqn-17 constant x 100) and is
    divided by 100 before reaching the engine;
  --cloudbufferdistance / --shadowbufferdistance are METRES and are
    converted to pixels by integer division with the pixel size
    (toaImgInfo.xRes there, constants.X_RES here).

Usage (``python scripts/classify_job.py ...`` runs the same job on
``local[N]``; scripts/spark_submit_classify.sh wraps spark-submit):
  spark-submit --py-files python_fmask_spark.zip scripts/classify_job.py \
      SF_DIR [--sensor LANDSAT8|LANDSAT47|SENTINEL2] \
      [--mincloudsize N] [--cloudbufferdistance M] \
      [--shadowbufferdistance M] [--cloudprobthreshold PCT] \
      [--nirsnowthreshold T] [--greensnowthreshold T] [--strict] \
      [--mode whole|distributed|auto] [--tempdir DIR] [-o TABLE]

Prints per-class counts as one JSON line. ``--tempdir`` routes the
distributed path through StageRunner stage tables (resumable, the
reference's keepintermediates/tempdir lifecycle); ``-o/--output``
writes the mask through the thematic sink (plans/sinks.write_mask).

Precedence note (deliberate inversion vs the reference): the reference
applies setStrictFmask AFTER all other config setters
(fmask/fmask.py:151-154), so there strict buffers would win over
explicit distances; the reference CLI does not expose strict at all.
Here ``--strict`` is a PRESET and explicit
``--cloudbufferdistance``/``--shadowbufferdistance`` override it —
an extension flag should not silently discard flags the user typed.
Future reference-parity audits: this is by design, not a bug.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def get_cmdargs(argv=None):
    from python_fmask_spark import constants as C

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001",
                   help="Directory of input parquet tables "
                        "(default=%(default)s)")
    p.add_argument("--sensor", default="LANDSAT8",
                   choices=("LANDSAT8", "LANDSAT47", "SENTINEL2"),
                   help="Sensor regime (reference fmask/config.py:33-40)")
    p.add_argument("--mode", default="whole",
                   choices=("whole", "distributed", "auto"),
                   help="whole=per-cell kernel, distributed=clump-"
                        "parallel stages, auto=cost-based dispatch")
    p.add_argument("-o", "--output", default="",
                   help="Write the mask to this table name via the "
                        "thematic sink (color table + class names)")
    p.add_argument("-e", "--tempdir", default="",
                   help="Stage-table workdir: distributed stages become "
                        "fingerprinted, crash-resumable parquet tables "
                        "(the reference's tempdir/keepintermediates)")
    p.add_argument("-v", "--verbose", action="store_true",
                   help="Print per-stage progress to stderr")
    p.add_argument("--granule-xml", default="",
                   help="SENTINEL2: tile (granule) MTD_TL.xml — its "
                        "sun/view angle grids replace the synthetic "
                        "angle stack via the bilinear grid->pixel "
                        "lookup (sentinel2makeAnglesImage.py:95-123)")
    p.add_argument("--parallaxtest", action="store_true",
                   help="SENTINEL2: use the parallax (CDI displacement) "
                        "test to mask out false cloud from bright "
                        "surfaces (Frantz 2018) — composed into pass 1 "
                        "(setSen2displacementTest, fmask/config.py:"
                        "388-394; sentinel2Stacked.py:112-114); works "
                        "in all three --mode paths")
    p.add_argument("--product-xml", default="",
                   help="SENTINEL2: product MTD_MSIL1C.xml — supplies "
                        "the MANDATORY radiometric offsets "
                        "(fmask/fmask.py:137-149); without it, "
                        "baseline-03.xx zero offsets are assumed "
                        "explicitly")
    g = p.add_argument_group(title="Configurable parameters")
    g.add_argument("--mincloudsize", type=int,
                   default=C.MIN_CLOUD_SIZE_PIXELS,
                   help="Minimum cloud size (in pixels) to retain, "
                        "before any buffering (default=%(default)s)")
    g.add_argument("--cloudbufferdistance", type=float, default=None,
                   help="Distance (in metres) to buffer final cloud "
                        "objects (default: engine default "
                        f"{C.CLOUD_BUFFER_SIZE} px x pixel size; the "
                        "reference CLI default is 150)")
    g.add_argument("--shadowbufferdistance", type=float, default=None,
                   help="Distance (in metres) to buffer final cloud "
                        "shadow objects (default: engine default "
                        f"{C.SHADOW_BUFFER_SIZE} px x pixel size; the "
                        "reference CLI default is 300)")
    g.add_argument("--cloudprobthreshold", type=float,
                   default=100 * C.EQN17_CLOUD_PROB_THRESH,
                   help="Cloud probability threshold (percentage) "
                        "(default=%(default)s) — the constant term at "
                        "the end of Eqn 17 x 100. Increase to reduce "
                        "commission errors")
    g.add_argument("--nirsnowthreshold", type=float,
                   default=C.EQN20_NIR_SNOW_THRESH,
                   help="NIR reflectance threshold [0-1] for snow "
                        "detection (default=%(default)s)")
    g.add_argument("--greensnowthreshold", type=float,
                   default=C.EQN20_GREEN_SNOW_THRESH,
                   help="Green reflectance threshold [0-1] for snow "
                        "detection (default=%(default)s)")
    g.add_argument("--strict", action="store_true",
                   help="setStrictFmask preset: run strictly per the "
                        "paper — no cloud buffer, 3-px shadow buffer "
                        "(fmask/config.py:269; fmask/fmask.py:151-154). "
                        "Explicit buffer flags still override")
    args = p.parse_args(argv)
    if args.parallaxtest and args.sensor != "SENTINEL2":
        # reference gates the CDI test to S2 (sentinel2Stacked only);
        # reject at parse time, before any SparkSession spins up
        p.error("--parallaxtest requires --sensor SENTINEL2")
    # same gate for the two S2 XML sources: they are only parsed inside
    # the SENTINEL2 branch of main(), so accepting them with another
    # sensor would silently produce a different product than the user
    # asked for
    for flag, val in (("--granule-xml", args.granule_xml),
                      ("--product-xml", args.product_xml)):
        if val and args.sensor != "SENTINEL2":
            p.error(f"{flag} requires --sensor SENTINEL2")
    return args


def params_from_cmdargs(cmdargs):
    """cmdargs -> FmaskParams, applying the reference's conversions
    (usgsLandsatStacked.py:255-263: /100 for the percentage, metre ->
    pixel division for the buffers) on top of the optional strict
    preset."""
    from python_fmask_spark import constants as C
    from python_fmask_spark.operators.scene import FmaskParams

    base = FmaskParams.strict if cmdargs.strict else FmaskParams
    kw = dict(
        min_cloud_size_px=cmdargs.mincloudsize,
        eqn17_cloud_prob_thresh=cmdargs.cloudprobthreshold / 100,
        nir_snow_thresh=cmdargs.nirsnowthreshold,
        green_snow_thresh=cmdargs.greensnowthreshold,
    )
    # explicit buffer flags override the preset/engine defaults; an
    # omitted flag (None) leaves the strict preset's 0/3 or the engine
    # defaults in place
    if cmdargs.cloudbufferdistance is not None:
        kw["cloud_buffer_px"] = int(cmdargs.cloudbufferdistance / C.X_RES)
    if cmdargs.shadowbufferdistance is not None:
        kw["shadow_buffer_px"] = int(cmdargs.shadowbufferdistance / C.X_RES)
    return base(**kw)


def main() -> None:
    cmdargs = get_cmdargs()
    from python_fmask_spark.session import (ensure_package_on_executors,
                                            get_spark)

    # one job, then exit: get_spark's one-shot (C1-only) driver JVM
    spark = get_spark(app_name="fmask-classify")
    ensure_package_on_executors(spark)
    from python_fmask_spark import oracle, pipeline
    from python_fmask_spark.plans.lineage import StageRunner
    from python_fmask_spark.plans.sinks import write_mask
    from python_fmask_spark.sources import register_views

    register_views(spark, cmdargs.sf_dir)
    params = params_from_cmdargs(cmdargs)
    if cmdargs.verbose:
        print(f"params: {params}", file=sys.stderr)
    s2_offsets = None
    tile_meta = None
    if cmdargs.sensor == "SENTINEL2":
        from python_fmask_spark import sen2meta

        if cmdargs.product_xml:
            zmeta = sen2meta.Sen2ZipfileMeta.from_file(cmdargs.product_xml)
            s2_offsets = sen2meta.make_ref_offset_dict(zmeta)
        else:
            s2_offsets = oracle.S2_ZERO_OFFSETS
        if cmdargs.granule_xml:
            tile_meta = sen2meta.Sen2TileMeta.from_file(cmdargs.granule_xml)
    kw = dict(params=params, sensor=cmdargs.sensor, s2_offsets=s2_offsets,
              tile_meta=tile_meta, s2_cdi=cmdargs.parallaxtest)
    if cmdargs.tempdir and cmdargs.mode != "distributed":
        # stage-table resume is a distributed-path feature (classify /
        # classify_auto run stage-free whole-cell kernels); say so
        # instead of silently dropping the advertised resumability
        print(f"warning: --tempdir applies only to --mode distributed; "
              f"ignored for --mode {cmdargs.mode}", file=sys.stderr)
    if cmdargs.mode == "auto":
        out = pipeline.classify_auto(spark, **kw)
    elif cmdargs.mode == "distributed":
        from python_fmask_spark.operators.scene_dist import (
            classify_distributed)
        runner = (StageRunner(spark, cmdargs.tempdir, run_id="cli")
                  if cmdargs.tempdir else None)
        out = classify_distributed(spark, "documents", runner=runner, **kw)
    else:
        out = pipeline.classify(spark, **kw)
    sink_fmt = ""
    if cmdargs.output:
        sink_fmt = write_mask(out, cmdargs.output)
    counts = {str(r.fmask_class): r["count"]
              for r in out.groupBy("fmask_class").count().collect()}
    print(json.dumps({"sf_dir": cmdargs.sf_dir, "sensor": cmdargs.sensor,
                      "mode": cmdargs.mode, "class_counts": counts,
                      **({"sink_format": sink_fmt} if sink_fmt else {})}))
    spark.stop()


if __name__ == "__main__":
    # this checkout's root, wherever it lives (spark-submit also ships
    # the package with --py-files)
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    main()
